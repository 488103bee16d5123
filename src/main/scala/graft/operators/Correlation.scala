package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.Semantics

/** Pairwise Pearson correlation over numeric columns — the feature-audit
  * matrix (which quality signals are redundant, which metadata correlates
  * with labels) computed in ONE aggregate pass regardless of column count:
  * all k·(k+3)/2 moment sums (Σx per column, Σx² and Σxy per pair) ride a
  * single scan with map-side partials, then the k×k matrix is assembled
  * driver-side from one stats row. Complete-case semantics: rows with a
  * null in ANY requested column are excluded, so every pair shares the
  * same n (document-level listwise deletion, the portable convention).
  *
  * Determinism: moments accumulate as DECIMAL(38,10) (exact, order-proof),
  * the correlation is assembled in double arithmetic from those exact
  * sums, and the output rounds via [[Semantics.safeRound]] — bit-identical
  * on any engine replaying the same formula.
  */
object Correlation {

  def matrix(df: DataFrame, cols: Seq[String], scale: Int = 4): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    // k·(k+3)/2 Decimal(38,10) conversions + adds PER ROW make the moment
    // pass compute-dense: project to just the requested columns (nothing
    // else crosses the rebalance exchange — guide §2.3), then rebalance so
    // an under-split scan can't pin the decimal arithmetic to a handful of
    // tasks. Decimal accumulation is order-proof, so the repartition
    // cannot change a single output bit.
    val projected = graft.core.Rebalance.computeDense(
      df.select(cols.map(col): _*))
    val complete = projected.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    // the Dec128 int128 kernel replaces sum(cast(c as decimal(38,10))):
    // bit-identical sums (Dec128Spec) without the per-row Double.toString →
    // BigDecimal parse → setScale → BigDecimal-add machinery that made this
    // moment pass allocation-bound (r13 floor analysis: double sums were
    // 13× faster; the kernel keeps exactness AND the codegen-path speed)
    def dsum(c: Column, name: String) =
      graft.functions.Dec128.sumExact(c).cast(DoubleType).as(name)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)
    val aggs =
      cols.zipWithIndex.map { case (c, i) => dsum(col(c), s"_s$i") } ++
      cols.zipWithIndex.map { case (c, i) =>
        dsum(col(c) * col(c), s"_q$i") } ++
      pairs.map { case (i, j) =>
        dsum(col(cols(i)) * col(cols(j)), s"_p${i}_$j") } :+
      count(lit(1)).cast(DoubleType).as("_n")
    val row = complete.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Double]("_n")
    def corr(i: Int, j: Int): Double = {
      val sx = row.getAs[Double](s"_s$i"); val sy = row.getAs[Double](s"_s$j")
      val qx = row.getAs[Double](s"_q$i"); val qy = row.getAs[Double](s"_q$j")
      val pxy = row.getAs[Double](s"_p${i}_$j")
      val den = math.sqrt(n * qx - sx * sx) * math.sqrt(n * qy - sy * sy)
      if (den == 0.0) 0.0 else (n * pxy - sx * sy) / den
    }
    val spark = df.sparkSession
    import spark.implicits._
    pairs.map { case (i, j) => (cols(i), cols(j), corr(i, j)) }
      .toDF("col_a", "col_b", "corr")
      .withColumn("corr", Semantics.safeRound(col("corr"), scale))
  }
}
