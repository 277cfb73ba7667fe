package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 1-D interval (range) join — every left row at instant `tsCol` matched
  * to every right interval `[startCol, endCol]` (both ends inclusive)
  * containing it. Spark has no native range join; the naive formulation
  * is a theta-join (`BroadcastNestedLoopJoin`, or a cartesian when
  * neither side broadcasts) — quadratic at scale.
  *
  * This is the 1-D instance of the engine's cell-cover pattern
  * ([[SpatialJoin]]): intervals explode into the fixed-width buckets they
  * overlap, points key by their single owning bucket, and the candidate
  * search becomes a hash-partitionable bucket EQUI-join that Catalyst can
  * broadcast / shuffle / AQE-skew-split; the exact `between` predicate
  * refines survivors in codegen. Each (point, interval) pair meets
  * exactly once — the point side owns ONE bucket — so no dedup shuffle.
  *
  * Costs and tuning: the interval side replicates by
  * `(end − start) / bucket + 1`; pick `bucket` near the median interval
  * length (explode factor ~2) — a bucket far below interval length
  * over-replicates intervals, far above it dilates candidates. Skewed
  * hot buckets are ordinary equi-join skew: AQE's skew-join split
  * applies, as does `PipPlan.Adaptive`-style salting if a bucket is
  * pathologically dense.
  *
  * Columns must be numeric (days, seconds — caller casts); left/right
  * column names must be disjoint. Intervals with `end < start` match
  * nothing and are dropped.
  */
object RangeJoin {

  def intervalJoin(points: DataFrame, tsCol: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   bucket: Long): DataFrame = {
    require(bucket >= 1, s"bucket must be >= 1, got $bucket")
    val p = points.withColumn("_rj_b", floor(col(tsCol) / bucket).cast("long"))
    val iv = intervals
      .where(col(endCol) >= col(startCol))
      .withColumn("_rj_b", explode(sequence(
        floor(col(startCol) / bucket).cast("long"),
        floor(col(endCol) / bucket).cast("long"))))
    p.join(iv, Seq("_rj_b"))
      .where(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("_rj_b")
  }
}
