package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-phase salted aggregation for skewed group keys: phase 1 groups
  * by (key, salt) — splitting a hot key across `saltBuckets` reducers —
  * and phase 2 merges the mergeable partials per key. The five kernels
  * are all mergeable (first/last via tiebreak bounds, min/max/sum
  * trivially), the same property AggStream's restart partials rely on.
  *
  * Use when a handful of keys dominate the distribution and AQE's
  * skew-join/agg handling isn't available or sufficient; the salt is
  * derived deterministically from the tiebreak column, so results are
  * reproducible.
  */
object SaltedAgg {

  private val TbMin = "__tb_min"
  private val TbMax = "__tb_max"

  def aggregate(df: DataFrame, key: Column, specs: Seq[AggSpec],
      tie: Column, saltBuckets: Int): DataFrame = {
    val salt = pmod(hash(tie), lit(saltBuckets))
    val partialExprs = SegmentAgg.partialAggExprs(specs, tie) ++
      Seq(min(tie).as(TbMin), max(tie).as(TbMax))
    val partial = df.groupBy(key.as("bin"), salt.as("__salt"))
      .agg(partialExprs.head, partialExprs.tail: _*)
    val combineExprs = specs.map { s =>
      val c = col(s.out)
      (s.fn match {
        case AggFn.First => min_by(c, col(TbMin))
        case AggFn.Last  => max_by(c, col(TbMax))
        case AggFn.Min   => min(c)
        case AggFn.Max   => max(c)
        case AggFn.Sum   => sum(c).cast("double")
      }).as(s.out)
    }
    partial.groupBy("bin").agg(combineExprs.head, combineExprs.tail: _*)
  }
}
