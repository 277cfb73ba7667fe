package graft

import org.apache.spark.sql.functions._
import graft.io.GeoTables
import graft.ops.{PipPlan, SpatialJoin}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-shape regression guards: the perf-critical properties verified by
  * hand during the plan audit must not silently rot. */
class PlanSpec extends SparkSpec {

  test("PIP rect branch prunes wkt and uses a hash join keyed on cell") {
    val pts = GeoTables.points(spark, sf001)
    val z = GeoTables.zones(spark, sf001).select(col("zone_id"), col("wkt"))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    for (mode <- Seq(PipPlan.Shuffle, PipPlan.Salted(4), PipPlan.Adaptive(1000L))) {
      val agg = SpatialJoin.pip(pts, z, GeoTables.JoinLevel, mode)
        .groupBy("zone_id").agg(count(lit(1)).as("n"))
      val executed = agg.queryExecution.executedPlan
      val plan = executed.toString

      assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
        s"$mode: cell equi-join must be a hash join")
      // the hash exchanges feeding the join must carry neither the WKT
      // string nor the st_env_rect struct, only flat envelope doubles and
      // a NULL gen_geom for rectangles
      val leaked = nodes(executed).collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
          e.child.output.map(_.name).filter(n => n == "wkt" || n == "pa")
      }.flatten
      assert(leaked.isEmpty, s"$mode: $leaked leaked into a shuffle exchange\n$plan")
      // partial aggregation before the final exchange (map-side combine)
      assert(plan.contains("HashAggregate"), plan)
    }
  }

  test("sjoin emits pairs once: no dedup shuffle, no global window, hash joins only") {
    val z = GeoTables.zones(spark, sf001)
    val plan = SpatialJoin.sjoin(
        z.select(col("zone_id").as("id_a"), col("wkt").as("wkt_a")),
        z.select(col("zone_id").as("id_b"), col("wkt").as("wkt_b")),
        "intersects")
      .queryExecution.executedPlan.toString
    // the canonical single-cell emission replaced the round-1 distinct
    assert(!plan.contains("Deduplicate") &&
      !plan.contains("HashAggregate(keys=[id_a"),
      "pair dedup shuffle reappeared — canonical-cell emission broken")
    assert(!plan.contains("Window"), "no window belongs in sjoin")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("queries are free of single-partition global windows") {
    // the round-1 scale-killer: row_number() over an unpartitioned window
    // funnels the whole table through ONE task
    for (name <- Seq("q_interp_points", "q_interp_quintic", "q_reduce_points",
                     "q_rasterize", "q_sessionize", "q_window_running",
                     "q_dup_spans", "q_repetition", "q_winnow",
                     "q_contamination", "q_contamination_bloom",
                     "q_tfidf", "q_unigram_nll",
                     "q_stratified_sample", "q_seq_pack", "q_token_budget",
                     "q_pack_windows", "q_pii_scrub", "q_quality_filter",
                     "q_mix_weights", "q_split_assign", "q_bm25",
                     "q_vocab_bigrams", "q_asof_join", "q_cell_rollup")) {
      val bad = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        }
      assert(bad.isEmpty, s"$name has an unpartitioned WindowExec")
    }
  }

  test("bm25 never explodes the corpus; stats join is broadcast") {
    // the scale contract: per-doc term frequencies come from bounded
    // array scans in a projection, NOT a (doc, token) Generate, and the
    // one-row corpus-stats frame joins by broadcast
    val plan = SparkEntry.queries("q_bm25")(spark, sf001)
      .queryExecution.executedPlan
    val generates = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(generates.isEmpty, "bm25 must not explode tokens")
    assert(plan.toString.contains("BroadcastNestedLoopJoin") ||
           plan.toString.contains("BroadcastExchange"),
      "corpus stats must broadcast")
  }

  test("piiScrub and qualityFilter are single-stage scan projections") {
    for (name <- Seq("q_pii_scrub", "q_quality_filter")) {
      val plan = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name must not shuffle")
    }
  }

  test("bbox filter stays in one WholeStageCodegen stage over the scan") {
    val plan = SparkEntry.queries("q_bbox_filter")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(!plan.contains("Exchange"), "a pure filter must not shuffle")
  }

  test("native cell expression appears in the point-side projection (no ScalaUDF)") {
    val pts = GeoTables.points(spark, sf001)
      .withColumn("cell", graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(7)))
    val plan = pts.queryExecution.executedPlan.toString
    assert(plan.contains("cellofexpr") || plan.contains("CellOfExpr") ||
           plan.contains("cell_of_expr") || !plan.contains("UDF"), plan)
  }

  test("point-window cell reads never move the packed payload (no UDF, no binary join)") {
    // reduce_points' hot stage: the window pixels join a per-pixel
    // (si, sj, v) relation. A reintroduced payload-carrying join (the
    // round-4/5 CellValueExpr-over-`data` plan) re-copies the 20KB binary
    // out of the build row per probe (~108 GB of memcpy at sf0.1), and a
    // UDF re-adds allocations + serde per row.
    val plan = SparkEntry.queries("q_reduce_points")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF("), "no ScalaUDF in the reduce_points plan")
    assert(!plan.contains("substring(data"), "payload substring slice resurfaced")
    assert(!plan.toLowerCase.contains("cellvalueexpr"),
      "packed-payload cell reads resurfaced in the point-window join")
    assert(plan.contains("BroadcastHashJoin"),
      "per-pixel relation should broadcast at this raster size")
  }
}
