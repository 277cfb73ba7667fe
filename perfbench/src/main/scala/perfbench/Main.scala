package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of one benchmark run: set-up rounds, timed passes for
  * `--seconds`, and (with `--trace 1`) one traced pass. Writes a JSON
  * record to `--out`; perfbench/run.py checks it and prints the metrics.
  *
  * A set-up round starts with cold caches, derives the pass inputs and runs
  * every call once, untimed. `setup_s` is the median round. The first round
  * runs the calls through `Part.verify`: it also writes each checked output
  * for the reference check, and its digests are what every later call must
  * reproduce. It pays the JVM's cold start too, so the median leaves it out.
  *
  * Cache policy: every set-up round and every timed pass starts with
  * `spark.catalog.clearCache()` and `Knn.clearCache()`, because a batch job
  * pays those misses on every run. */
object Main {
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val inject = a.getOrElse("inject", "0") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // Spark's status store keeps up to 1000 past jobs, stages and SQL
      // executions even without a UI; capped, the heap after a pass holds
      // the pass's working set, not the history of the run
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val stats = new RunStats(spark)
    val ctx = Ctx(spark, stats, a("input"))
    val parts: Seq[Part] = workload match {
      case "geo" => Seq(new PipKernel(ctx), new Queries(ctx, Seq(
        "q_zonal_stats_salted", "q_zonal_stats_adaptive", "q_knn_zones")))
      case "text_commit" => Seq(new Queries(ctx, Seq("q_contamination")), new CommitResume(ctx, 2))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    def cold(): Unit = { spark.catalog.clearCache(); graft.ops.Knn.clearCache() }

    var checked: Seq[(Map[String, String], Map[String, Any])] = Nil
    val setupS = (1 to SetupRounds).map { r =>
      val dir = work.resolve(s"setup/r$r")
      cold()
      timed {
        parts.foreach(_.prepare(dir))
        if (r == 1) checked = parts.map(_.verify(dir.resolve("checked")))
        else parts.flatMap(_.pass(dir)).foreach(_.run())
      }._2
    }
    val expected0 = checked.flatMap(_._1).toMap
    val check = checked.map(_._2).map(r => r("kind") -> r).toMap
    // self-test: one call that always throws, and one wrong expected result
    val extra = if (inject) Seq(Op("inject_throw", () => throw new IllegalStateException("injected")))
      else Nil
    val expected = if (inject) {
      val first = parts.head.pass(work.resolve("probe")).head.name
      expected0.updated(first, "injected-wrong-digest")
    } else expected0

    val memory = ManagementFactory.getMemoryMXBean
    def usedMb() = memory.getHeapMemoryUsage.getUsed / 1048576.0
    // collect until the heap stops shrinking: Spark's ContextCleaner drops
    // blocks and shuffle state only after a collection found their owners
    // unreachable, and the next collection frees them
    def heapAfterGcMb(): Double = {
      System.gc()
      var (prev, cur, n) = (Double.MaxValue, usedMb(), 0)
      while (n < 4 && cur < prev - 1.0) {
        Thread.sleep(200); System.gc(); prev = cur; cur = usedMb(); n += 1
      }
      cur
    }
    def runPass(dir: Path, ops: Seq[Op]): Map[String, Any] = {
      cold()
      val res = ops.map { op =>
        try {
          val (digest, st) = stats.measure(op.run())
          val ok = expected.get(op.name).contains(digest)
          Map("name" -> op.name, "ok" -> ok, "wall_s" -> st.wallS, "cpu_s" -> st.cpuS,
            "task_run_s" -> st.taskRunS,
            "error" -> (if (ok) null else s"digest $digest, expected ${expected.get(op.name)}"))
        } catch { case e: Throwable =>
          Map("name" -> op.name, "ok" -> false, "error" -> e.toString)
        }
      }
      Layers.rm(dir)
      Map("ops" -> res, "heap_mb" -> heapAfterGcMb())
    }
    // as many whole passes as fit in `seconds`, at least one
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var last = 0.0
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val p0 = System.nanoTime()
      val dir = work.resolve(s"pass${passes.size}")
      passes += runPass(dir, parts.flatMap(_.pass(dir)) ++ extra)
      last = (System.nanoTime() - p0) / 1e9
    }

    val layers = if (!trace) Map.empty[String, Double] else {
      val tracer = new Tracer(s"$workload-${a.getOrElse("seed", "0")}")
      cold()
      val plans = new StringBuilder
      stats.planLog = Some((plans, () => tracer.current))
      val res = tracer.span("pass")(parts.map(_.traced(tracer, work.resolve("traced"))))
      Files.writeString(work.resolve("trace.json"), Json(tracer.records))
      Files.writeString(work.resolve("plans.txt"), plans.toString)
      val calls = res.flatMap(_._2)
      res.flatMap(_._1).toMap ++ Layers.generic(calls, cpus) ++ CellBench() ++ Map(
        "trace.wall_s" -> calls.map(_.wallS).sum, "trace.cpu_s" -> calls.map(_.cpuS).sum)
    }

    val record = Map(
      "workload" -> workload, "cpus" -> cpus,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm_start_s" -> jvmStartS, "setup_rounds_s" -> setupS,
      "units" -> parts.flatMap(_.units).toMap,
      "passes" -> passes, "check" -> check, "layers" -> layers)
    Files.writeString(Paths.get(a("out")), Json(record))
    spark.stop()
  }
}
