package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Range join: match point rows to interval rows (`point ∈ [start, end)` or
  * `[start, end]`) — the other classic operator Spark's built-ins only
  * express as a nested-loop join. `points JOIN ranges ON p >= s AND p < e`
  * has no equi-key, so Catalyst plans BroadcastNestedLoopJoin: every point ×
  * every range. Fine for a broadcast-able dim table, quadratic death at
  * 100 TB.
  *
  * The scale construction is BINNING: pick a bin width, explode each interval
  * to the bins it overlaps (intervals are usually short relative to the data
  * span, so this is a small constant amplification), bin each point once, and
  * equi-join on (bin [, extra keys]) with a residual range predicate. The
  * shuffle is hash-partitioned on bins — linear, skew-bounded by bin width
  * choice.
  *
  * `binWidth` should be on the order of the typical interval length: too
  * small amplifies ranges, too large packs many ranges per bin (degrades
  * toward nested loop within a bin).
  */
object RangeJoin {

  /** Inner range join of `points` (point column `p`) to `ranges`
    * (`[startCol, endCol)` half-open by default), optionally also matching on
    * equi `keys` present in both frames. Long/integer domain (cast timestamps
    * to epoch first). */
  def binned(points: DataFrame, ranges: DataFrame, pointCol: String,
      startCol: String, endCol: String, binWidth: Long,
      keys: Seq[String] = Nil, endInclusive: Boolean = false): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val p = col(pointCol).cast(LongType)
    val s = col(startCol).cast(LongType)
    val e = col(endCol).cast(LongType)

    // intervals explode to every bin they touch; sequence() is codegen'd
    val rBinned = ranges.withColumn("_bin",
      explode(sequence(floor(s / binWidth).cast(LongType),
        // half-open ranges ending exactly on a bin edge don't touch that bin
        floor((if (endInclusive) e else e - 1) / binWidth).cast(LongType))))
    val pBinned = points.withColumn("_bin", floor(p / binWidth).cast(LongType))

    val joinKeys = "_bin" +: keys
    val residual = if (endInclusive) p >= s && p <= e else p >= s && p < e
    pBinned.join(rBinned, joinKeys, "inner").filter(residual).drop("_bin")
  }
}
