package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Classical sparse featurizers for model-based curation (quality filters,
  * dedup classifiers, topic screens) at corpus scale. Both are one-pass,
  * shuffle-minimal, and deterministic across engines/partitionings — the
  * hashing trick keys on md5 (not a JVM-specific hash), and the label
  * dictionary is ranked by an explicit total order.
  */
object Featurize {

  /** Hashing-trick bag-of-words: (id, bucket, weight) triples with
    * bucket = md5(word) mod `numBuckets`. No vocabulary pass, no dictionary
    * to ship — the fixed-width feature space a streaming-updated model
    * wants. One explode + one (id, bucket) aggregate; raw text never
    * crosses the shuffle, only (id, bucket, partial-count). */
  def hashFeatures(df: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 1024): DataFrame = {
    val words = df.select(col(idCol),
      explode(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")),
        " ")).as("_w"))
    words
      .withColumn("bucket",
        conv(substring(md5(col("_w")), 1, 8), 16, 10).cast(LongType)
          % numBuckets)
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("w"))
  }

  /** Leave-one-out target encoding with additive smoothing — the
    * categorical encoder GBDT/linear pipelines use when one-hot explodes:
    * each row's category becomes
    * `(Σ_c target − y_i + m·μ) / (n_c − 1 + m)` (own target held out, so
    * the encoding never leaks the row's label; `m` pseudo-observations of
    * the global prior μ shrink rare categories toward it; a singleton
    * category collapses to exactly μ). Per-category sums accumulate as
    * DECIMAL(38,10) (order-independent), μ and the final encoding are one
    * fixed IEEE chain over exact operands — engine-replayable at
    * safeRound(scale). Rows with null target keep their row but get a
    * null encoding and contribute nothing to the stats. One grouped
    * aggregate + one broadcast join; no window, no shuffle of the corpus
    * beyond the category keys. */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
      m: Int = 10, outCol: String = "enc", scale: Int = 6): DataFrame = {
    require(m >= 1, "m must be >= 1")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists — rename it first")
    val y = col(targetCol)
    val stats = df.filter(y.isNotNull).groupBy(col(catCol).as("_c"))
      .agg(count(lit(1)).as("_n"),
        Dec128.sumExact(y).cast(DoubleType).as("_s"))
    val g = df.filter(y.isNotNull)
      .agg(count(lit(1)).as("_gn"),
        Dec128.sumExact(y).cast(DoubleType).as("_gs"))
    val mu = col("_gs") / col("_gn")
    df.join(broadcast(stats), col(catCol) === col("_c"), "left")
      .crossJoin(broadcast(g))
      .withColumn(outCol,
        when(y.isNull, lit(null).cast(DoubleType))
          .otherwise(graft.core.Semantics.safeRound(
            (col("_s") - y + lit(m.toDouble) * mu) /
              (col("_n") - 1 + m).cast(DoubleType), scale)))
      .drop("_c", "_n", "_s", "_gn", "_gs")
  }

  /** Deterministic dense label dictionary: categories ranked by
    * (frequency desc, value asc) take contiguous ids from 0 — the common
    * "encode categoricals for a GBDT/linear model" step. The dictionary is
    * category-cardinality-sized: a tiny aggregate + a window over the tiny
    * frame, broadcast-joined back onto the corpus (never a corpus-wide
    * window). Unseen-at-apply categories map to null. */
  def labelIndex(df: DataFrame, labelCol: String,
      outCol: String): DataFrame = {
    val dict = df.groupBy(col(labelCol))
      .agg(count(lit(1)).as("_freq"))
      .withColumn(outCol,
        row_number().over(
          Window.orderBy(col("_freq").desc, col(labelCol).asc)) - 1)
      .select(col(labelCol), col(outCol))
    df.join(broadcast(dict), Seq(labelCol), "left")
  }
}
