package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Anomaly detection (`/root/reference/src/transformers/analyzers/
  * anomaly_detector.py`, 437 LoC). Batch-global statistics per numeric field,
  * then per-row flagging — in Spark: one aggregate job for the stats (tiny
  * result broadcast as literals into the flagging projection via crossJoin of
  * a 1-row stats frame), then a single pass. Two jobs total regardless of
  * field count; no window over the whole table (a global window would put
  * the entire dataset into ONE partition — the classic scale killer).
  *
  * Parity notes (SURVEY §7.4.3): numpy std is population σ → stddev_pop;
  * numpy percentile is linear interpolation → Spark `percentile` (exact),
  * never approx_percentile in gated paths.
  */
object AnomalyDetector {
  /** z-score method (`anomaly_detector.py:169-213`): per-field mean/σ over
    * non-null values (fields with <3 values or σ=0 skipped); anomaly if ANY
    * field has |v−μ|/σ > threshold. Returns df + `_meta_is_anomaly` +
    * method/reason columns, matching metadata_to_columns materialization. */
  def zscore(df: DataFrame, fields: Seq[String], threshold: Double = 3.0): DataFrame =
    byMethod(df, "statistical", fields, threshold)

  def iqr(df: DataFrame, fields: Seq[String], factor: Double = 1.5): DataFrame =
    byMethod(df, "iqr", fields, factor)

  /** Robust z-score (median/MAD): anomaly if ANY field has
    * |v − median| / (MAD · 1.4826) > threshold — the heavy-tail-safe
    * sibling of `zscore` (mean/σ are themselves dragged by the outliers
    * they hunt; median/MAD are 50%-breakdown estimators). Beyond the
    * reference's three methods.
    *
    * Two bounded stats jobs (the MAD percentile needs the median first),
    * both exact `percentile` results inlined as literal Columns — never a
    * string round-trip, never a window — then one flagging scan.
    * MAD = 0 fields are skipped (degenerate, like σ = 0 in zscore). */
  def robustZscore(df: DataFrame, fields: Seq[String],
      threshold: Double = 3.5): DataFrame = {
    val medRow = df.select(fields.map(f =>
      percentile(col(f).cast(DoubleType), lit(0.5)).as(f)): _*).head()
    val meds = fields.indices.map(i =>
      if (medRow.isNullAt(i)) None else Some(medRow.getDouble(i)))
    val madRow = df.select(fields.zipWithIndex.map { case (f, i) =>
      percentile(abs(col(f).cast(DoubleType)
        - lit(meds(i).getOrElse(0.0))), lit(0.5)).as(f)
    }: _*).head()
    val flag = fields.zipWithIndex.map { case (f, i) =>
      val ok = meds(i).isDefined && !madRow.isNullAt(i) &&
        madRow.getDouble(i) > 0.0
      if (!ok) lit(false)
      else abs(col(f).cast(DoubleType) - lit(meds(i).get)) >
        lit(threshold * madRow.getDouble(i) * 1.4826)
    }.reduce(_ || _)
    df.withColumn("_meta_is_anomaly", flag)
      .withColumn("_meta_anomaly_method",
        when(col("_meta_is_anomaly"), lit("robust_zscore")))
  }

  /** combined (`anomaly_detector.py:326-355`): anomaly iff flagged by ≥2 of
    * {zscore, iqr, isolation forest} — the reference's full 3-method vote.
    * The iForest vote needs a stable order key for its deterministic
    * driver-side sample (`IsolationForest.fit`); pass it via
    * `iforestOrderCol`. Without one the vote runs over {zscore, iqr} only
    * (≥2 then degenerates to AND) — documented fallback for frames with no
    * stable key. When the iForest runs, its per-row vote is kept as
    * `_meta_iforest_flag` so downstream audits (and the correctness oracle)
    * can consume the deterministic flag without refitting.
    *
    * The input is rebalanced ([[graft.core.Rebalance.computeDense]]) —
    * the stats percentiles and the forest scoring are compute-dense, and
    * an under-split source (one-row-group parquet) would otherwise run
    * them on one core — and, under `retainScored`, persisted, so the
    * stats aggregate, the iForest fit's ordered driver sample, and the
    * scoring/cutoff pass share one materialized scan instead of three
    * source reads. Caller-owned caches (this one and the scored frame
    * inside `detect`) — release via `spark.catalog.clearCache()`, the
    * Verify-harness convention. */
  def combined(df: DataFrame, fields: Seq[String],
      zThreshold: Double = 3.0, iqrFactor: Double = 1.5,
      iforestOrderCol: Option[String] = None,
      contamination: Double = 0.1, numTrees: Int = 100,
      retainScored: Boolean = false): DataFrame = {
    val balanced = graft.core.Rebalance.computeDense(df)
    val src = if (retainScored) balanced.persist() else balanced
    // ONE stats job serves both methods
    vote(src, fields, collectStats(src, fields, Both), zThreshold, iqrFactor,
      iforestOrderCol, contamination, numTrees, retainScored)
  }

  /** `combined`'s vote over `src` with its stats already computed. */
  private def vote(src: DataFrame, fields: Seq[String], stats: Stats,
      zThreshold: Double, iqrFactor: Double,
      iforestOrderCol: Option[String] = None,
      contamination: Double = 0.1, numTrees: Int = 100,
      retainScored: Boolean = false): DataFrame = {
    val z = anyFieldFlag(fields, stats, zThreshold, "zscore")
    val i = anyFieldFlag(fields, stats, iqrFactor, "iqr")
    val (base, ifVote) = iforestOrderCol match {
      case Some(oc) =>
        // the stats row above already holds each field's mean — the fit
        // reuses it instead of running its own means aggregate;
        // retainScored passes through to detect (caller-owned cache —
        // release via catalog.clearCache, the Verify-harness convention)
        val d = IsolationForest.detect(src, fields, oc, contamination, numTrees,
          knownMeans = Some(fields.map(f => stats(f).mu).toArray),
          retainScored = retainScored)
          .withColumnRenamed("_meta_is_anomaly", "_meta_iforest_flag")
          .drop("_meta_anomaly_method", "_iforest_score")
        (d, col("_meta_iforest_flag").cast(IntegerType))
      case None => (src, lit(0))
    }
    val withFlags = base
      .withColumn("_z", z).withColumn("_i", i)
      .withColumn("_votes",
        col("_z").cast(IntegerType) + col("_i").cast(IntegerType) + ifVote)
    withFlags
      .withColumn("_meta_is_anomaly", col("_votes") >= 2)
      .withColumn("_meta_anomaly_method",
        when(col("_meta_is_anomaly"), lit("combined")))
      .drop("_z", "_i", "_votes")
  }

  /** The reference's three named methods behind one switch — the anomalies
    * route and the `anomaly_detector` pipeline stage both dispatch here.
    * `threshold` is the z-score threshold (`statistical`), the IQR factor
    * (`iqr`), or both (`combined`). One stats job ([[statsFor]]), then the
    * flags ([[flagWith]]). */
  def byMethod(df: DataFrame, method: String, fields: Seq[String],
      threshold: Double): DataFrame =
    flagWith(df, method, fields, statsFor(df, method, fields), threshold)

  /** The per-field stats `method` flags with, in one aggregate job. They do
    * not depend on the threshold, so a caller that keeps them flags at
    * any threshold with [[flagWith]] alone. */
  def statsFor(df: DataFrame, method: String, fields: Seq[String]): Stats =
    method match {
      case "statistical" => collectStats(df, fields, Seq("zscore"))
      case "iqr"         => collectStats(df, fields, Seq("iqr"))
      case "combined"    =>
        collectStats(graft.core.Rebalance.computeDense(df), fields, Both)
      case other => throw new IllegalArgumentException(s"unknown method $other")
    }

  /** `byMethod`'s flags over stats from [[statsFor]] with the same `df`,
    * `method` and `fields`. */
  def flagWith(df: DataFrame, method: String, fields: Seq[String],
      stats: Stats, threshold: Double): DataFrame = method match {
    case "statistical" => flagAny(df, fields, stats, threshold, "zscore")
    case "iqr"         => flagAny(df, fields, stats, threshold, "iqr")
    case "combined"    => vote(graft.core.Rebalance.computeDense(df), fields,
      stats, threshold, threshold)
    case other => throw new IllegalArgumentException(s"unknown method $other")
  }

  private def flagAny(df: DataFrame, fields: Seq[String], stats: Stats,
      param: Double, method: String): DataFrame = {
    val flag = anyFieldFlag(fields, stats, param, method)
    val parts = fields.map { f =>
      when(fieldFlag(f, stats(f), param, method),
        concat(lit(s"$f "), lit(method), lit(" bound exceeded")))
    }
    val reasons = concat_ws("; ", array(parts: _*))
    df.withColumn("_meta_is_anomaly", flag)
      .withColumn("_meta_anomaly_method", when(flag, lit(method)))
      .withColumn("_meta_anomaly_reasons", when(flag, reasons))
  }

  /** The boolean any-field flag as an expression tree over inlined stats
    * literals (constant-folded into the scan-side filter). */
  private def anyFieldFlag(fields: Seq[String], stats: Stats,
      param: Double, method: String): Column =
    fields.map(f => fieldFlag(f, stats(f), param, method)).reduce(_ || _)

  private def fieldFlag(f: String, st: FieldStats, param: Double,
      method: String): Column = method match {
    case "zscore" =>
      if (st.n < 3 || st.sigma <= 0) lit(false)
      else col(f).isNotNull &&
        abs(col(f) - lit(st.mu)) / lit(st.sigma) > param
    case "iqr" =>
      val iqrV = st.q3 - st.q1
      if (st.n < 4 || iqrV <= 0) lit(false)
      else col(f).isNotNull &&
        (col(f) < lit(st.q1 - param * iqrV) || col(f) > lit(st.q3 + param * iqrV))
  }

  /** One field's stats; a stat its method does not read is NaN. */
  final case class FieldStats(mu: Double, sigma: Double, q1: Double,
      q3: Double, n: Long)

  /** Per-field stats, by field name. */
  type Stats = Map[String, FieldStats]

  private val Both = Seq("zscore", "iqr")

  /** One aggregate job computes every field's count and what `methods`
    * read: mean and σ for `zscore`, the quartiles for `iqr` (two exact
    * `percentile`s, which only a non-codegen ObjectHashAggregate runs, so
    * `zscore` alone never pays for them). The tiny result comes back to
    * the driver and is inlined as literals (constant-folded into the
    * scan-side filter — fully pushdown/codegen friendly). */
  private def collectStats(df: DataFrame, fields: Seq[String],
      methods: Seq[String]): Stats = {
    val aggs = fields.flatMap { f =>
      val d = col(f).cast(DoubleType)
      (if (methods.contains("zscore"))
        Seq(avg(d).as(s"${f}__mu"),
            coalesce(stddev_pop(d), lit(0.0)).as(s"${f}__sigma"))
      else Nil) ++
      (if (methods.contains("iqr"))
        Seq(expr(s"percentile(`$f`, 0.25)").as(s"${f}__q1"),
            expr(s"percentile(`$f`, 0.75)").as(s"${f}__q3"))
      else Nil) :+
      count(d).as(s"${f}__n")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    fields.map { f =>
      def g(s: String): Double =
        if (!row.schema.fieldNames.contains(s"${f}__$s")) Double.NaN
        else Option(row.getAs[Any](s"${f}__$s")).fold(0.0)(_.toString.toDouble)
      f -> FieldStats(g("mu"), g("sigma"), g("q1"), g("q3"),
        row.getAs[Long](s"${f}__n"))
    }.toMap
  }

  /** Auto-detect numeric fields (anomaly_detector.py:357-391 samples the
    * first record; we use the schema — strictly more reliable). */
  def numericFields(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case StructField(n, _: NumericType, _, _) if !n.startsWith("_meta_") => n
    }.toSeq

  /** Per-group RATE-spike detection over event streams: bucket events into
    * `bucketExpr` periods per `groupCol`, flag buckets whose count sits
    * more than `zNum/zDen` population standard deviations from the group
    * mean. The z-test runs in EXACT INTEGER arithmetic — with c buckets,
    * count sum S and square-sum Q, z² = (n·c − S)²/(Q·c − S²), so
    * `|z| > zNum/zDen` is the integer comparison
    * `zDen²·(n·c − S)² > zNum²·(Q·c − S²)` — the flag set is
    * bit-reproducible in any engine,
    * no float mean/stddev ever materializes. One bucket aggregate + one
    * tiny per-group stats broadcast; counts must stay within long range
    * after squaring (cast up to decimal beyond ~3·10⁹·buckets). */
  def rateSpikes(df: DataFrame, groupCol: String, bucketExpr: Column,
      zNum: Long = 2L, zDen: Long = 1L): DataFrame = {
    require(zNum > 0 && zDen > 0, "z threshold must be positive")
    val buckets = df.groupBy(col(groupCol), bucketExpr.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val stats = buckets.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_c"), sum(col("n")).as("_s"),
        sum(col("n") * col("n")).as("_q"))
    val dev = col("n") * col("_c") - col("_s") // c·(n − mean), integer
    buckets.join(broadcast(stats), Seq(groupCol))
      .filter(lit(zDen * zDen) * dev * dev >
        lit(zNum * zNum) * (col("_q") * col("_c") - col("_s") * col("_s")))
      .select(col(groupCol), col("bucket"), col("n"))
  }

  /** Seasonal-baseline spike detection: a bucket is anomalous when its
    * count exceeds `mNum/mDen` × the mean of buckets sharing its SEASON
    * (same hour-of-day, same day-of-week …), so a nightly batch job's 3am
    * surge stops tripping the global-mean detector while a real 3am spike
    * still fires. `seasonOf` maps a bucket value to its season.
    * `n > m·mean` is compared as `n·c·mDen > mNum·S` — all integers, so
    * the flag set replays bit-for-bit in any engine. One bucket aggregate
    * + one tiny (group, season) stats broadcast. */
  def seasonalSpikes(df: DataFrame, groupCol: String, bucketExpr: Column,
      seasonOf: Column => Column,
      mNum: Long = 2L, mDen: Long = 1L): DataFrame = {
    require(mNum > 0 && mDen > 0, "spike multiple must be positive")
    val buckets = df.groupBy(col(groupCol), bucketExpr.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("season", seasonOf(col("bucket")))
    val stats = buckets.groupBy(col(groupCol), col("season"))
      .agg(count(lit(1)).as("_c"), sum(col("n")).as("_s"))
    buckets.join(broadcast(stats), Seq(groupCol, "season"))
      .filter(col("n") * col("_c") * lit(mDen) > lit(mNum) * col("_s"))
      .select(col(groupCol), col("bucket"), col("season"), col("n"))
  }

  /** CUSUM drift detection: per group, the running sum of scaled
    * deviations `Σ(nᵢ·c − S)` over time-ordered buckets (c buckets, total
    * S — so each term is c·(nᵢ − mean), kept integer). A sustained level
    * shift accumulates where a lone spike washes out — the complement of
    * the point detectors. Flags buckets where `|cusum|·hDen > hNum·S`
    * (drift exceeding hNum/hDen of total mass). Integer throughout ⇒
    * bit-reproducible; one bucket aggregate + tiny stats broadcast + ONE
    * group-partitioned window. */
  def cusumDrift(df: DataFrame, groupCol: String, bucketExpr: Column,
      hNum: Long = 1L, hDen: Long = 4L): DataFrame = {
    require(hNum > 0 && hDen > 0, "drift threshold must be positive")
    val buckets = df.groupBy(col(groupCol), bucketExpr.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val stats = buckets.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_c"), sum(col("n")).as("_s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("bucket").asc)
    buckets.join(broadcast(stats), Seq(groupCol))
      .withColumn("cusum",
        sum(col("n") * col("_c") - col("_s")).over(w))
      .filter(abs(col("cusum")) * lit(hDen) > lit(hNum) * col("_s"))
      .select(col(groupCol), col("bucket"), col("n"), col("cusum"))
  }
}

/** AnomalySplitter (`src/transformers/routing/anomaly_splitter.py`): route on
  * `_meta_is_anomaly` — quarantine written separately, clean rows continue.
  * Two actions over one cached upstream. */
object AnomalySplitter {
  def split(df: DataFrame): (DataFrame, DataFrame) = {
    val flagged = if (df.columns.contains("_meta_is_anomaly")) df
                  else df.withColumn("_meta_is_anomaly", lit(false))
    (flagged.filter(!coalesce(col("_meta_is_anomaly"), lit(false))),
     flagged.filter(coalesce(col("_meta_is_anomaly"), lit(false))))
  }

  def quarantine(df: DataFrame, quarantinePath: String): DataFrame = {
    val cached = df.cache()
    val (clean, bad) = split(cached)
    bad.write.mode("overwrite").option("header", "true").csv(quarantinePath)
    clean
  }
}
