package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.functions.GeoFunctions
import graft.geo.CellIndex
import graft.io.{GeoTables, TableCommit}
import graft.ops.{BenchKernel, Lineage, SpatialJoin}

/** One call of a timed pass. `run` performs the call and returns a digest
  * of its result, compared with the digest of the first set-up round. */
final case class Op(name: String, run: () => String)

final case class Ctx(spark: SparkSession, stats: RunStats, input: String)

/** One part of a workload (the kernel, a list of queries, the commit
  * cycle). A workload runs its parts in order. */
trait Part {
  /** Derive the pass inputs from the generated tables and write them to
    * `dir`; runs once per set-up round, and the last round's output feeds
    * the passes. */
  def prepare(dir: Path): Unit
  /** The calls of one timed pass; `dir` is fresh scratch for the pass. */
  def pass(dir: Path): Seq[Op]
  /** Every call once, untimed, in the first set-up round. Writes every
    * checked output under `dir` and returns (digest per op name, record for
    * the external check). */
  def verify(dir: Path): (Map[String, String], Map[String, Any])
  /** The traced pass: spans around each call into a layer. Returns the
    * part's per-layer metrics (names as in BENCHMARK.json) and the stats
    * of the calls an untimed pass makes. */
  def traced(tr: Tracer, dir: Path): (Map[String, Double], Seq[CallStats])
  /** Work units of one pass, for the throughput lines (unit -> count). */
  def units: Map[String, Long] = Map.empty
}

object Digest {
  /** Row count plus an order-independent sum of row hashes; doubles are
    * rounded to 6 decimals so summation order cannot change the digest. */
  def apply(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case _ => c
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")))
      .first()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

/** Shared helpers for the per-layer numbers of a set of measured calls. */
object Layers {
  def generic(calls: Seq[CallStats], cpus: Int): Map[String, Double] = {
    val wall = calls.map(_.wallS).sum
    Map(
      "exchange.shuffle_write_bytes" -> calls.map(_.shuffleWriteBytes).sum.toDouble,
      "exchange.shuffle_read_bytes" -> calls.map(_.shuffleReadBytes).sum.toDouble,
      "exchange.spill_bytes" -> calls.map(_.spillBytes).sum.toDouble,
      "exchange.count" -> calls.map(c => Plans.exchanges(c.plans)).sum.toDouble,
      "jvm.gc_s" -> calls.map(_.gcS).sum,
      "stage.skew" -> (if (calls.isEmpty) 0.0 else calls.map(_.skew).max),
      "driver.jobs" -> calls.map(_.jobs).sum.toDouble,
      "driver.idle_core_frac" ->
        (if (wall <= 0) 0.0 else 1.0 - calls.map(_.taskRunS).sum / (wall * cpus)),
      "ops.SpatialJoin.pip.joins" -> calls.map(c => Plans.pipJoins(c.plans).size).sum.toDouble)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** The BASELINE kernel (`BenchKernel.run`) over the generated docs table. */
final class PipKernel(c: Ctx) extends Part {
  import c._
  private var nDocs = 0L

  def prepare(dir: Path): Unit = nDocs = docs.count()

  private def docs = spark.read.parquet(s"$input/docs")

  def pass(dir: Path): Seq[Op] = Seq(Op("kernel", () => BenchKernel.run(spark, docs)._1.toString))

  override def units: Map[String, Long] = Map("docs" -> nDocs)

  // The kernel's first steps, as BenchKernel.run writes them, so each
  // layer can be run as a prefix of the whole.
  private def spans(d: DataFrame) = d.select(
    substring(col("doc_id"), 5, 9).cast("long").as("doc_key"), explode(col("spans")).as("s"))
  private def polys(d: DataFrame) = spans(d).where(col("s.kind") === "wkt")
    .select(col("doc_key").as("poly_doc"), col("s.text").as("wkt"))
  private def pts(d: DataFrame) = spans(d).where(col("s.kind") === "point")
    .select(col("doc_key"),
      (split(col("s.text"), ",").getItem(0).cast("double") / 4.0).as("x"),
      (split(col("s.text"), ",").getItem(1).cast("double") / 4.0).as("y"),
      split(col("s.text"), ",").getItem(2).cast("double").as("value"))
  private def ptCells(d: DataFrame) = pts(d)
    .withColumn("cell", graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(GeoTables.JoinLevel)))
  private def polyCells(d: DataFrame) = polys(d)
    .withColumn("pa", GeoFunctions.st_env_rect(col("wkt")))
    .withColumn("cell", explode(GeoFunctions.cover_cells(col("pa._1"), col("pa._2"),
      col("pa._3"), col("pa._4"), lit(GeoTables.JoinLevel))))
  /** Cell-equi-join candidate pairs: sum over cells of points x cover cells.
    * This is the benchmark's own model of the cover, not a count read from
    * the executed join: the optimizer folds the refine into the join
    * condition, so the join's `numOutputRows` counts refined rows only. A
    * change to how `SpatialJoin.pip` covers polygons does not move it. */
  private def candidates(d: DataFrame): Double = {
    val level = GeoTables.JoinLevel
    val pc = pts(d).select(graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(level)).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("np"))
    val cc = polys(d).select(GeoFunctions.st_env_rect(col("wkt")).as("pa"))
      .select(explode(GeoFunctions.cover_cells(col("pa._1"), col("pa._2"), col("pa._3"),
        col("pa._4"), lit(level))).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("nc"))
    pc.join(cc, "cell").agg(sum(col("np") * col("nc"))).first().getLong(0).toDouble
  }

  private def joined(d: DataFrame) = SpatialJoin.pip(pts(d), polys(d), GeoTables.JoinLevel)
  private def assigned(d: DataFrame) = joined(d)
    .withColumn("tile", struct(
      least(lit(7), floor((lit(100.0) - col("y")) / 12.5).cast("int")).as("tr"),
      least(lit(7), floor(col("x") / 12.5).cast("int")).as("tc")))
    .groupBy(col("poly_doc"), col("tile"))
    .agg(count(lit(1)).as("n_pts"), sum(col("value")).as("sum_val"))

  def verify(dir: Path): (Map[String, String], Map[String, Any]) = {
    val (rows, mrows) = BenchKernel.run(spark, docs)
    val a = assigned(docs).agg(count(lit(1)), sum(col("n_pts")), sum(col("sum_val"))).first()
    (Map("kernel" -> rows.toString),
      Map("kind" -> "kernel", "kernel_rows" -> rows, "metric_rows" -> mrows,
        "agg_groups" -> a.getLong(0), "agg_n_pts" -> a.getLong(1), "agg_sum_val" -> a.getDouble(2)))
  }

  def traced(tr: Tracer, dir: Path): (Map[String, Double], Seq[CallStats]) = {
    val d = docs
    // a layer's CPU is a difference of two prefixes, so each prefix is the
    // cheapest of three runs: a prefix is a new plan whose generated code
    // starts cold, while the full kernel already ran in every pass
    def prefix(name: String)(body: => Unit): CallStats = tr.span(name) {
      Seq.fill(3)(stats.measure(body)._2).minBy(_.cpuS)
    }
    // each prefix keeps only the columns the kernel carries on
    val expl = prefix("ops.BenchKernel.explode") {
      Layers.noop(polys(d)); Layers.noop(pts(d).select("x", "y", "value"))
    }
    val cover = prefix("functions.GeoFunctions.cover") {
      Layers.noop(polyCells(d).select("poly_doc", "pa", "cell"))
      Layers.noop(ptCells(d).select("x", "y", "value", "cell"))
    }
    val join = prefix("ops.SpatialJoin.pip") { Layers.noop(joined(d).select("poly_doc", "x", "y", "value")) }
    val agg = prefix("ops.BenchKernel.agg") { Layers.noop(assigned(d)) }
    var metricRows = 0L
    val full = prefix("ops.BenchKernel.run") { metricRows = BenchKernel.run(spark, d)._2 }
    val pip = Plans.pipJoins(join.plans)
    val refineRows = pip.map(Plans.metric(_, "numOutputRows")).sum.toDouble
    val cand = candidates(d)
    val layerCpu = Seq(
      "ops.BenchKernel.explode" -> expl.cpuS,
      "functions.GeoFunctions.cover" -> (cover.cpuS - expl.cpuS),
      "ops.SpatialJoin.join" -> (join.cpuS - cover.cpuS),
      "ops.BenchKernel.agg" -> (agg.cpuS - join.cpuS),
      "ops.BenchKernel.metrics" -> (full.cpuS - agg.cpuS))
    (layerCpu.flatMap { case (l, s) => Seq(s"$l.cpu_s" -> s, s"$l.cpu_share" -> s / full.cpuS) }.toMap ++
      Map(
      // the kernel's heaviest stage runs the join, its refine and the
      // partial aggregate
      "ops.SpatialJoin.join.stage_cpu_s" -> full.heavyStageCpuS,
      "ops.SpatialJoin.join.stage_cpu_share" -> full.heavyStageCpuS / full.cpuS,
      // the cover prefix's first write is the explode prefix's first write
      // plus the cover generator
      "functions.GeoFunctions.cover.cells_out" ->
        (Plans.generatedRows(cover.plans.take(1)) - Plans.generatedRows(expl.plans.take(1))).toDouble,
      "ops.SpatialJoin.join.candidates" -> cand,
      "ops.SpatialJoin.refine.rows_out" -> refineRows,
      "ops.SpatialJoin.refine.keep_ratio" -> (if (cand > 0) refineRows / cand else 0.0),
      "ops.BenchKernel.agg.groups" -> Plans.topAggRows(agg.plans).toDouble,
      "ops.BenchKernel.metrics.rows" -> metricRows.toDouble,
      "ops.BenchKernel.run.wall_s" -> full.wallS,
      "ops.BenchKernel.run.cpu_s" -> full.cpuS), Seq(full))
  }
}

/** Direct calls to the public scalar cell functions (ns per call/cell). */
object CellBench {
  def apply(): Map[String, Double] = {
    val rnd = new java.util.Random(7)
    val xs = Array.fill(1 << 16)(rnd.nextDouble() * 100)
    def best(reps: Int)(f: => Double): Double = (1 to reps).map(_ => f).sorted.apply(reps / 2)
    var sink = 0L
    val cellOf = best(7) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 2000000) { sink ^= CellIndex.cellOf(xs(i & 0xffff), xs((i + 1) & 0xffff), 7); i += 1 }
      (System.nanoTime() - t0).toDouble / 2000000
    }
    val cover = best(7) {
      val t0 = System.nanoTime()
      var cells = 0L; var i = 0
      while (i < 100000) {
        val x = xs(i & 0xffff) * 0.9; val y = xs((i + 7) & 0xffff) * 0.9
        val out = CellIndex.cover(x, y, x + 4 + i % 7, y + 4 + (i * 11) % 7, 7)
        cells += out.length; sink ^= out(0); i += 1
      }
      (System.nanoTime() - t0).toDouble / cells
    }
    if (sink == 42) println("") // keeps the calls from being optimized away
    Map("geo.CellIndex.cellOf_ns" -> cellOf, "geo.CellIndex.cover_ns_per_cell" -> cover)
  }
}

/** Named SparkEntry queries, each checked against its SparkEntry.oracleSql. */
final class Queries(c: Ctx, names: Seq[String]) extends Part {
  import c._

  /** Nothing to derive: each query reads the generated tables itself. */
  def prepare(dir: Path): Unit = ()

  private def query(n: String): DataFrame = SparkEntry.queries(n)(spark, input)

  def pass(dir: Path): Seq[Op] = names.map(n => Op(n, () => Digest(query(n))))

  def verify(dir: Path): (Map[String, String], Map[String, Any]) = {
    val res = names.map { n =>
      val out = dir.resolve(n).toString
      try {
        query(n).write.parquet(out)
        (n, Some(Digest(spark.read.parquet(out))))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed in the first set-up round: $e"); (n, None)
      }
    }
    (res.collect { case (n, Some(d)) => n -> d }.toMap,
      Map("kind" -> "queries",
        "outputs" -> res.map { case (n, d) => n -> d.map(_ => dir.resolve(n).toString) }.toMap,
        "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }

  def traced(tr: Tracer, dir: Path): (Map[String, Double], Seq[CallStats]) = {
    val calls = names.map(n => n -> tr.span(s"q.$n")(stats.measure(Digest(query(n)))._2))
    val perQuery = calls.flatMap { case (n, s) =>
      Seq(s"q.$n.wall_s" -> s.wallS, s"q.$n.cpu_s" -> s.cpuS,
        s"q.$n.shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble) ++
        (if (n.startsWith("q_zonal_stats")) Seq(
          s"q.$n.join_rows" -> Plans.pipJoins(s.plans).map(Plans.metric(_, "numOutputRows")).sum.toDouble,
          s"q.$n.skew" -> s.skew)
         else Nil)
    }
    (perQuery.toMap, calls.map(_._2))
  }
}

/** Appends through TableCommit, a snapshot read, then a fresh
  * Lineage.runWithCheckpoint and a no-op resume. */
final class CommitResume(c: Ctx, commits: Int) extends Part {
  import c._
  private var pointsPath: Path = _
  private var nRows = 0L

  def prepare(dir: Path): Unit = {
    pointsPath = dir.resolve("points")
    GeoTables.points(spark, input).write.parquet(pointsPath.toString)
    nRows = spark.read.parquet(pointsPath.toString).count()
  }

  private def points = spark.read.parquet(pointsPath.toString)

  /** 64 cell-range buckets: the level-3 parent of each level-7 cell,
    * clustered by bucket as a partitioned writer's input is. */
  private def bucketed = points
    .withColumn("cell", GeoFunctions.cell_of(col("x"), col("y"), lit(GeoTables.JoinLevel)))
    .withColumn("bucket", shiftright(col("cell").bitwiseAND((1L << 58) - 1), 8))
    .repartition(col("bucket"))

  override def units: Map[String, Long] = Map("rows" -> nRows * commits)

  def pass(dir: Path): Seq[Op] = {
    val table = dir.resolve("table").toString
    val lin = dir.resolve("lineage").toString
    (1 to commits).map(i => Op(s"commit$i", () => s"v${TableCommit.commit(points, table)}")) ++ Seq(
      Op("read", () => Digest(TableCommit.read(spark, table))),
      Op("lineage_fresh", () => Lineage.runWithCheckpoint(spark, bucketed, "bucket", lin).toString),
      Op("lineage_resume", () => Lineage.runWithCheckpoint(spark, bucketed, "bucket", lin).toString))
  }

  private def dataRows(lin: String): Long =
    if (Files.exists(Paths.get(s"$lin/data"))) spark.read.parquet(s"$lin/data").count() else 0L

  def verify(dir: Path): (Map[String, String], Map[String, Any]) = {
    val ops = pass(dir)
    val digests = ops.map(o => o.name -> o.run())
    val lin = dir.resolve("lineage").toString
    // the resume ran last; re-run it once more to count what a resume writes
    val before = dataRows(lin)
    val again = Lineage.runWithCheckpoint(spark, bucketed, "bucket", lin)
    val after = dataRows(lin)
    val read = TableCommit.read(spark, dir.resolve("table").toString)
      .agg(count(lit(1)), sum(col("value")), sum(col("point_id"))).first()
    val data = spark.read.parquet(s"$lin/data")
      .agg(count(lit(1)), sum(col("value")), sum(col("point_id"))).first()
    (digests.toMap,
      Map("kind" -> "commit", "commits" -> commits,
        "read_rows" -> read.getLong(0), "read_sum_value" -> read.getDouble(1),
        "read_sum_point_id" -> read.getLong(2),
        "lineage_rows" -> data.getLong(0), "lineage_sum_value" -> data.getDouble(1),
        "lineage_sum_point_id" -> data.getLong(2),
        "lineage_parts" -> spark.read.parquet(s"$lin/_manifest").count(),
        "resume_new_parts" -> again._1, "rows_written_on_resume" -> (after - before)))
  }

  def traced(tr: Tracer, dir: Path): (Map[String, Double], Seq[CallStats]) = {
    val table = dir.resolve("table").toString
    val lin = dir.resolve("lineage").toString
    def call[T](name: String)(body: => T): CallStats = tr.span(name)(stats.measure(body)._2)
    val cs = (1 to commits).map(_ => call("io.TableCommit.commit")(TableCommit.commit(points, table)))
    val rd = call("io.TableCommit.read")(Digest(TableCommit.read(spark, table)))
    val fresh = call("ops.Lineage.fresh")(Lineage.runWithCheckpoint(spark, bucketed, "bucket", lin))
    val before = dataRows(lin)
    val resume = call("ops.Lineage.resume")(Lineage.runWithCheckpoint(spark, bucketed, "bucket", lin))
    val written = dataRows(lin) - before
    val dataDirs = Files.list(Paths.get(s"$table/data")).iterator().asScala.toSeq
    val files = dataDirs.flatMap(d => Files.list(d).iterator().asScala.toSeq)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val bytes = files.map(Files.size).sum
    (Map(
      "io.TableCommit.commit_s" -> cs.map(_.wallS).sorted.apply(cs.size / 2),
      "io.TableCommit.read_s" -> rd.wallS,
      "io.TableCommit.files_per_commit" -> files.size.toDouble / dataDirs.size,
      "io.TableCommit.bytes_per_row" -> bytes.toDouble / (nRows * commits),
      "ops.Lineage.fresh_s" -> fresh.wallS,
      "ops.Lineage.resume_s" -> resume.wallS,
      "ops.Lineage.rows_written_on_resume" -> written.toDouble), cs ++ Seq(rd, fresh, resume))
  }
}
