package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Semantics.isMissing

/** A transform stage: DataFrame → DataFrame, composable in a pipeline.
  * Mirrors the reference's `Transformer` lifecycle
  * (`src/transformers/base_transformer.py:22-99`) minus record-at-a-time
  * iteration — stats come from `observe()` metrics instead of counters. */
trait TransformStage {
  def name: String
  def apply(df: DataFrame): DataFrame
}

/** NullRemover — 4 strategies (`src/transformers/cleaners/null_remover.py`).
  * The reference counts empty string as null ("missing") in every strategy.
  */
final case class NullRemover(
    strategy: String = "drop",
    fields: Seq[String] = Nil,           // empty = all fields
    fillValue: String = "") extends TransformStage {
  def name = s"null_remover($strategy)"

  private def targets(df: DataFrame): Seq[String] =
    if (fields.nonEmpty) fields else df.columns.toSeq

  def apply(df: DataFrame): DataFrame = {
    val cols = targets(df)
    strategy match {
      case "drop" => // drop row if ANY target field missing (null_remover.py:54-58)
        df.filter(!cols.map(c => isMissing(col(c))).reduce(_ || _))
      case "drop_all" => // drop only if ALL missing (null_remover.py:60-64)
        df.filter(!cols.map(c => isMissing(col(c))).reduce(_ && _))
      case "fill" => // replace missing with constant (null_remover.py:74-80)
        cols.foldLeft(df) { (d, c) =>
          d.withColumn(c,
            when(isMissing(col(c)), lit(fillValue).cast(d.schema(c).dataType))
              .otherwise(col(c)))
        }
      case "remove_fields" =>
        // Per-record key deletion is ragged (null_remover.py:66-72) — the
        // relational equivalent (SURVEY §7.4.4): values stay null per-row;
        // columns that are missing in EVERY row are dropped entirely.
        // coalesce: sum() over zero rows is null — an empty frame keeps all
        // its columns (nothing is evidence of missingness)
        val missingCounts = df.select(
          count(lit(1)).as("__n") +:
            cols.map(c => coalesce(
              sum(when(isMissing(col(c)), 0L).otherwise(1L)), lit(0L)).as(c)): _*)
          .head()
        val allNull =
          if (missingCounts.getLong(0) == 0L) Nil
          else cols.zipWithIndex
            .filter { case (_, i) => missingCounts.getLong(i + 1) == 0L }
            .map(_._1)
        if (allNull.isEmpty) df else df.drop(allNull: _*)
      case other => throw new IllegalArgumentException(s"unknown strategy $other")
    }
  }
}

/** ColumnRemover (`src/transformers/cleaners/column_remover.py:86-141`):
  * drop by exact name, prefix, or regex; `keep` whitelist overrides.
  * Pure driver-side column pruning — zero executor work, and the narrower
  * projection reaches the parquet scan (smaller ReadSchema). */
final case class ColumnRemover(
    columns: Set[String] = Set.empty,
    prefix: Option[String] = None,
    pattern: Option[String] = None,
    keep: Set[String] = Set.empty) extends TransformStage {
  def name = "column_remover"

  private def shouldRemove(c: String): Boolean =
    !keep.contains(c) && (
      columns.contains(c) ||
      prefix.exists(c.startsWith) ||
      pattern.exists(p => c.matches(p)))

  def apply(df: DataFrame): DataFrame = {
    val toDrop = df.columns.filter(shouldRemove)
    if (toDrop.isEmpty) df else df.drop(toDrop.toIndexedSeq: _*)
  }
}

/** MetadataToColumns (`src/transformers/enrichers/metadata_to_columns.py:
  * 60-126`). In this engine metadata already lives in `_meta_*` columns, so
  * the stage just guarantees their presence/typing. */
final case class MetadataToColumns() extends TransformStage {
  def name = "metadata_to_columns"
  private val defaults: Seq[(String, Column)] = Seq(
    "_meta_is_anomaly"      -> lit(false),
    "_meta_anomaly_method"  -> lit(null).cast(StringType),
    "_meta_anomaly_reasons" -> lit(null).cast(StringType),
    "_meta_quality_score"   -> lit(null).cast(DoubleType),
    "_meta_completeness"    -> lit(null).cast(DoubleType),
    "_meta_validity"        -> lit(null).cast(DoubleType),
    "_meta_consistency"     -> lit(null).cast(DoubleType))
  def apply(df: DataFrame): DataFrame =
    defaults.foldLeft(df) { case (d, (c, v)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, v)
    }
}

/** Winsorizer — clamp numeric fields to their exact [pLow, pHigh]
  * percentiles, the standard outlier-capping cleaner (cap, don't drop —
  * AnomalySplitter's gentler sibling). ONE stats job computes both bounds
  * for every field (a single aggregate row inlined as literals — the
  * AnomalyDetector pattern: pushdown-friendly, never a global window),
  * then one clamping scan. Nulls stay null (`least`/`greatest` would
  * otherwise swallow them). */
final case class Winsorizer(fields: Seq[String],
    pLow: Double = 0.01, pHigh: Double = 0.99) extends TransformStage {
  require(fields.nonEmpty && pLow >= 0 && pHigh <= 1 && pLow < pHigh,
    s"need fields and 0 <= pLow < pHigh <= 1: $pLow, $pHigh")
  def name = "winsorizer"
  def apply(df: DataFrame): DataFrame = {
    val row = df.select(fields.map(f =>
      expr(s"percentile($f, array($pLow, $pHigh))").as(f)): _*).head()
    fields.zipWithIndex.foldLeft(df) { case (d, (f, i)) =>
      val bounds = row.getSeq[Double](i)
      if (bounds == null) d // all-null field: nothing to clamp
      else {
        // clamp in the field's own type so integer columns stay integers
        // instead of silently widening to double. An integral field can't
        // hold a fractional percentile, so its clamp uses ceil(lo) /
        // floor(hi) — the nearest representable values INSIDE the exact
        // [lo, hi] band (a raw cast would TRUNCATE, pushing a positive lo
        // below the band). Residual deviation: a clamped value can land up
        // to one unit tighter than the true percentile, and if NO integer
        // lies in [lo, hi] everything clamps to floor(hi).
        val dt = d.schema(f).dataType
        val integral = dt match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        val (lo, hi) =
          if (integral)
            (lit(math.ceil(bounds.head)).cast(dt),
              lit(math.floor(bounds.last)).cast(dt))
          else (lit(bounds.head).cast(dt), lit(bounds.last).cast(dt))
        d.withColumn(f,
          when(col(f).isNull, lit(null).cast(dt))
            .otherwise(least(greatest(col(f), lo), hi)))
      }
    }
  }
}

/** GroupMeanImputer — fill nulls in numeric fields with their GROUP mean
  * (e.g. per-category), the context-aware upgrade of NullRemover's
  * constant fill. The means are exact decimal averages
  * (`Semantics.exactAvg` arithmetic) so the imputed values are
  * cross-engine reproducible. One tiny per-group aggregate broadcast-joined
  * back, one coalesce scan — no window, no corpus shuffle. */
final case class GroupMeanImputer(fields: Seq[String],
    groupBy: Seq[String]) extends TransformStage {
  require(fields.nonEmpty && groupBy.nonEmpty, "need fields and group keys")
  def name = "group_mean_imputer"
  def apply(df: DataFrame): DataFrame = {
    val means = df.groupBy(groupBy.map(col): _*)
      .agg(graft.core.Semantics.exactAvg(col(fields.head), 6)
          .as(s"_mean_${fields.head}"),
        fields.tail.map(f =>
          graft.core.Semantics.exactAvg(col(f), 6).as(s"_mean_$f")): _*)
    // null-safe key equality: a NULL group is still a group — the plain
    // using-columns join would silently skip its mean row
    val meansR = groupBy.foldLeft(means)((d, k) =>
      d.withColumnRenamed(k, s"_g_$k"))
    val cond = groupBy.map(k => col(k) <=> col(s"_g_$k")).reduce(_ && _)
    val joined = df.join(broadcast(meansR), cond, "left")
    fields.foldLeft(joined) { (d, f) =>
      d.withColumn(f,
        coalesce(col(f), col(s"_mean_$f").cast(d.schema(f).dataType)))
    }.drop(fields.map(f => s"_mean_$f") ++ groupBy.map(k => s"_g_$k"): _*)
  }
}

/** QuantileBinner — equal-frequency binning: assign each row the 1-based
  * quantile bucket of `field` (bin b of `bins` ⇔ value ≥ the (b−1)/bins
  * exact percentile). The standard discretization for stratified sampling
  * and monotone feature prep. ONE stats job for all bin bounds (inlined
  * as literals — never a percent_rank window over the corpus), then a
  * pure comparison-sum projection at scan speed. Null values get bin
  * null. */
final case class QuantileBinner(field: String, bins: Int,
    outCol: String = "bin") extends TransformStage {
  require(bins >= 2, s"need at least 2 bins: $bins")
  def name = s"quantile_binner($bins)"
  def apply(df: DataFrame): DataFrame = {
    val ps = (1 until bins).map(_.toDouble / bins)
    val bounds = df.select(
      expr(s"percentile($field, array(${ps.mkString(",")}))")).head()
      .getSeq[Double](0)
    if (bounds == null) df.withColumn(outCol, lit(null).cast(LongType))
    else df.withColumn(outCol,
      when(col(field).isNull, lit(null).cast(LongType))
        .otherwise(bounds.foldLeft(lit(1L)) { (acc, b) =>
          acc + when(col(field) >= lit(b), 1L).otherwise(0L)
        }))
  }
}

/** GroupNormalizer — per-group z-score standardization: the feature-prep
  * step that puts every slice's numerics on one scale before modeling or
  * cross-slice anomaly comparison. Moments accumulate as DECIMAL(38,10)
  * (products formed in double first — IEEE-exact — then quantized, the
  * [[Correlation]] pattern), so partial-aggregation order cannot move the
  * result; z assembles in double from the exact sums and rounds via
  * safeRound. Population σ; a degenerate group (σ = 0) yields z = 0;
  * null values keep a null z. One tiny per-group aggregate broadcast back
  * — no corpus window. */
object GroupNormalizer {
  def zscore(df: DataFrame, groupCol: String, valueCol: String,
      outCol: String = "z", scale: Int = 4): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists — rename it first")
    val v = col(valueCol)
    val stats = df.groupBy(col(groupCol)).agg(
      count(v).cast(DoubleType).as("_zn"),
      graft.functions.Dec128.sumExact(v).cast(DoubleType).as("_zs"),
      graft.functions.Dec128.sumExact(v * v).cast(DoubleType).as("_zq"))
    val sigma = sqrt(col("_zn") * col("_zq") - col("_zs") * col("_zs")) /
      col("_zn")
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn(outCol,
        when(v.isNull, lit(null).cast(DoubleType))
          .otherwise(when(sigma === 0, 0.0)
            .otherwise(graft.core.Semantics.safeRound(
              (v - col("_zs") / col("_zn")) / sigma, scale))))
      .drop("_zn", "_zs", "_zq")
  }

  /** The per-group (median, IQR) frame [[robustScale]] scales by —
    * exposed so a correctness harness can materialize the EXACT bounds
    * the operator used (interpolated percentiles are float-valued; an
    * independent engine's quantile can differ by an ulp and flip a
    * rounded cell at a boundary, so parity requires single-sourcing). */
  def robustStats(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.groupBy(col(groupCol)).agg(
      expr(s"percentile($valueCol, 0.5)").as("_rm"),
      (expr(s"percentile($valueCol, 0.75)") -
        expr(s"percentile($valueCol, 0.25)")).as("_riqr"))

  /** Outlier-robust sibling of [[zscore]]: (v − median) / IQR per group —
    * the scaler that survives the heavy-tailed columns z-scores drown in.
    * Exact per-group percentiles broadcast back (tiny frame, no corpus
    * window); degenerate IQR = 0 yields 0; nulls stay null. */
  def robustScale(df: DataFrame, groupCol: String, valueCol: String,
      outCol: String = "r", scale: Int = 4): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists — rename it first")
    val v = col(valueCol)
    val stats = robustStats(df, groupCol, valueCol)
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn(outCol,
        when(v.isNull, lit(null).cast(DoubleType))
          .otherwise(when(col("_riqr") === 0, 0.0)
            .otherwise(graft.core.Semantics.safeRound(
              (v - col("_rm")) / col("_riqr"), scale))))
      .drop("_rm", "_riqr")
  }

  /** Quantile mapping onto a reference group: each group's k-th smallest
    * of m values is replaced by the reference group's value at rank
    * ⌈k·m_ref/m⌉ — the score-calibration transform that puts every
    * source's quality/score distribution on one scale before mixing or
    * thresholding a corpus. PURE integer rank arithmetic (no interpolated
    * percentiles, no floats), so the mapping is exact and
    * engine-replayable; ties order by `idCol` for a total order. Both
    * rank passes are key-partitioned windows; the rank join shuffles on
    * (rank), with the reference side one row per reference rank. */
  def quantileMap(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, refGroup: String,
      outCol: String = "mapped"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists — rename it first")
    val rows = df.filter(col(valueCol).isNotNull)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol).asc, col(idCol).asc)
    val ranked = rows.withColumn("_k", row_number().over(w))
      .withColumn("_m", count(lit(1))
        .over(Window.partitionBy(col(groupCol))))
    val ref = ranked.filter(col(groupCol) === refGroup)
      .select(col("_k").as("_rk"), col(valueCol).as("_rv"))
    val mref = ref.agg(count(lit(1)).as("_mref"))
    ranked.crossJoin(broadcast(mref))
      // ⌈k·m_ref/m⌉ — SQL `div` keeps it in pure BIGINT arithmetic (a
      // double round-trip would silently lose exactness past 2^53, which
      // a corpus-scale rank product can reach)
      .withColumn("_tk",
        expr("(_k * _mref + _m - 1) div _m")
          .cast(org.apache.spark.sql.types.LongType))
      .join(ref.withColumn("_rk", col("_rk").cast(
        org.apache.spark.sql.types.LongType)), col("_tk") === col("_rk"))
      .select(col(idCol), col(groupCol), col(valueCol),
        col("_rv").as(outCol))
  }
}
