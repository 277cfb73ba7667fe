package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters of one measured call, read from outside the program. */
final case class CallStats(
    wallS: Double, cpuS: Double, taskRunS: Double, gcS: Double,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    jobs: Long, tasks: Long,
    /** max / median task run time of the stage with the most task time */
    skew: Double,
    /** CPU seconds of that stage */
    heavyStageCpuS: Double,
    plans: Seq[SparkPlan])

/** A benchmark-owned SparkListener + QueryExecutionListener. Counters are
  * cumulative; [[measure]] drains the listener bus after the call and
  * returns the difference, so each call's numbers cover exactly its jobs. */
final class RunStats(spark: SparkSession) extends SparkListener {
  private val cpuNs, runMs, gcMs, writeB, readB, spillB, jobs, tasks = new AtomicLong
  /** (run ms, cpu ns) of every task finished since the last [[measure]]
    * began, by stage */
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[(Long, Long)]]()
  private val plans = new ConcurrentLinkedQueue[QueryExecution]()
  /** When set, the executed plans of every measured call are appended,
    * under the label the function gives. */
  var planLog: Option[(StringBuilder, () => String)] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime); runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime); tasks.incrementAndGet()
      writeB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      readB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillB.addAndGet(m.diskBytesSpilled)
      stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[(Long, Long)]())
        .add((m.executorRunTime, m.executorCpuTime))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager.register(qeListener)

  private def drain(): Unit = BusDrain(spark.sparkContext)

  /** Runs `body`, timing only the call itself, and returns its counters. */
  def measure[T](body: => T): (T, CallStats) = {
    drain()
    val c0 = Seq(cpuNs, runMs, gcMs, writeB, readB, spillB, jobs, tasks).map(_.get)
    stageTasks.clear()
    plans.clear()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    val d = Seq(cpuNs, runMs, gcMs, writeB, readB, spillB, jobs, tasks).map(_.get).zip(c0)
      .map { case (a, b) => a - b }
    val newStages = stageTasks.asScala.values.map(_.asScala.toSeq.sorted)
    val heavy = if (newStages.isEmpty) Seq((0L, 0L)) else newStages.maxBy(_.map(_._1).sum)
    val med = heavy(heavy.length / 2)._1.toDouble
    val skew = if (med <= 0) 1.0 else heavy.last._1 / med
    val qes = plans.asScala.toSeq
    plans.clear()
    planLog.foreach { case (sb, label) =>
      qes.foreach(q => sb.append(s"== ${label()} ==\n${q.executedPlan}\n"))
    }
    (out, CallStats(wall, d(0) / 1e9, d(1) / 1e3, d(2) / 1e3, d(3), d(4), d(5), d(6), d(7),
      skew, heavy.map(_._2).sum / 1e9, qes.map(_.executedPlan)))
  }
}

/** Reads the executed physical plans (SQL metrics included) of a call. */
object Plans {
  /** Every node of a plan, looking through AQE wrappers and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def exchanges(ps: Seq[SparkPlan]): Int = ps.flatMap(nodes).count(_.isInstanceOf[Exchange])

  /** The point-in-polygon joins: equi-joins on `cell` whose inputs carry
    * the PIP refine's `gen_geom` column (SpatialJoin.pip and its salted
    * and adaptive variants). */
  def pipJoins(ps: Seq[SparkPlan]): Seq[SparkPlan] = ps.flatMap(nodes).collect {
    case j: HashJoin if j.leftKeys.exists(_.references.exists(_.name == "cell")) &&
        j.children.exists(_.output.exists(_.name == "gen_geom")) => j.asInstanceOf[SparkPlan]
  }

  def generatedRows(ps: Seq[SparkPlan]): Long =
    ps.flatMap(nodes).collect { case g: GenerateExec => metric(g, "numOutputRows") }.sum

  /** Rows out of the top-most aggregate of each plan. */
  def topAggRows(ps: Seq[SparkPlan]): Long =
    ps.flatMap(p => nodes(p).collectFirst { case a: HashAggregateExec => metric(a, "numOutputRows") })
      .sum
}

/** JSON for the run record and the trace, through the Jackson on Spark's
  * classpath. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** In-memory spans of the traced pass, written once when the run ends. */
final class Tracer(runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.head, System.nanoTime() - origin, -1L)
    spans += s
    stack = s.id :: stack
    try body finally { s.endNs = System.nanoTime() - origin; stack = stack.tail }
  }

  def current: String = stack.headOption.filter(_ >= 0).map(spans(_).name).getOrElse("")

  /** Self time: the span minus the time its direct children cover. */
  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val kids = spans.filter(_.parent == s.id).map(k => k.endNs - k.startNs).sum
    Map("run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> (s.endNs - s.startNs - kids) / 1e9)
  }
}
