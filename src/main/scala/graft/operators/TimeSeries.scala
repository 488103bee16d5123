package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed time-series smoothing in exact integer arithmetic. A weighted
  * moving average over a FIXED trailing window is a dot product with the
  * lag vector — expressible as one partitioned window pass, no recursion,
  * no floats: emit the integer numerator `Σ wᵢ·v_{t−i}` and the weight
  * mass actually present `Σ wᵢ·[v_{t−i} exists]`, and let the consumer
  * divide (or compare cross-series) however it wants. Exact, replayable,
  * and series-start-honest — early buckets carry their smaller true mass
  * instead of a silently-rescaled average.
  */
object TimeSeries {

  /** Per-group OLS trend (slope per second + mean level): the "is this
    * metric drifting up" report, one grouped aggregate of exact moments.
    * x is recentered to seconds-from-group-min FIRST (keeps x² sums in
    * long range and conditions the arithmetic), y-moments accumulate as
    * DECIMAL(38,10) ([[graft.operators.Correlation]] pattern), and the
    * slope assembles in double from the exact sums — engine-replayable
    * after rounding. Degenerate groups (single point / zero x-variance)
    * yield null slope. */
  def groupTrend(df: DataFrame, groupCol: String, tsCol: String,
      valueCol: String, scale: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val rows = df.filter(col(valueCol).isNotNull)
    val mins = rows.groupBy(col(groupCol))
      .agg(min(unix_timestamp(col(tsCol))).as("_t0"))
    val m = rows.join(broadcast(mins), Seq(groupCol))
      .select(col(groupCol),
        (unix_timestamp(col(tsCol)) - col("_t0")).as("_x"),
        col(valueCol).as("_y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast(DoubleType).as("_n"),
        sum(col("_x")).cast(DoubleType).as("_sx"),
        // per-row x² fits a long; the SUM may not — decimal accumulation
        // (Dec128 int128 kernel: bit-identical to the cast spelling,
        // spec-pinned, without the per-row BigDecimal machinery)
        graft.functions.Dec128.sumExact(col("_x") * col("_x"), 0)
          .cast(DoubleType).as("_sxx"),
        graft.functions.Dec128.sumExact(col("_y"))
          .cast(DoubleType).as("_sy"),
        graft.functions.Dec128.sumExact(col("_x") * col("_y"))
          .cast(DoubleType).as("_sxy"))
    val den = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val slope = (col("_n") * col("_sxy") - col("_sx") * col("_sy")) / den
    m.select(col(groupCol), col("_n").cast("long").as("n"),
      when(den === 0, lit(null).cast(DoubleType))
        .otherwise(graft.core.Semantics.safeRound(slope, scale))
        .as("slope_per_sec"),
      graft.core.Semantics.safeRound(col("_sy") / col("_n"), 4).as("mean"))
      .orderBy(col(groupCol))
  }

  /** First-order Markov transition matrix over per-key ordered state
    * sequences — the behavioral-flow report (which event follows which,
    * per user, aggregated corpus-wide). One per-key lag window + one
    * (from, to) aggregate; probabilities are exact counts over exact
    * row-total counts, rounded. `order` must totally order each key's
    * rows (add an id tie-break). */
  def transitions(df: DataFrame, keyCol: String, order: Seq[Column],
      stateCol: String, scale: Int = 4): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val pairs = df
      .withColumn("_from", lag(col(stateCol), 1).over(w))
      .filter(col("_from").isNotNull)
      .groupBy(col("_from").as("from_state"),
        col(stateCol).as("to_state"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_state"))
      .agg(sum(col("n")).as("_tot"))
    pairs.join(broadcast(totals), Seq("from_state"))
      .select(col("from_state"), col("to_state"), col("n"),
        graft.core.Semantics.safeRound(
          col("n").cast(org.apache.spark.sql.types.DoubleType) /
            col("_tot").cast(org.apache.spark.sql.types.DoubleType), scale)
          .as("p"))
      .orderBy(col("from_state"), col("to_state"))
  }

  /** @param weights newest-first (weights(0) multiplies the current row). */
  def weightedMovingSum(df: DataFrame, keyCol: String, bucketCol: String,
      valueCol: String, weights: Seq[Long]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_ > 0),
      "need positive newest-first weights")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(bucketCol).asc)
    val lags: Seq[(Column, Long)] = weights.zipWithIndex.map {
      case (wt, i) => (lag(col(valueCol), i).over(w), wt)
    }
    val num = lags.map { case (l, wt) => coalesce(l, lit(0L)) * lit(wt) }
      .reduce(_ + _)
    val den = lags.map { case (l, wt) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0L)) }
      .reduce(_ + _)
    df.select(col(keyCol), col(bucketCol), col(valueCol),
      num.as("wsum"), den.as("wmass"))
  }

  /** EWMA with α = 1/2 over the last `depth` observations, in PURE integer
    * arithmetic: `ewma_scaled = Σ_j x_{t-j} · 2^(depth-1-j)` — the
    * exponential weights are exact powers of two, so the smoothed series
    * is a BIGINT (divide by `wmass` for the normalized value). The
    * truncation error vs the infinite recursion is ≤ 2^-depth of the
    * signal. Same per-key lag-window shape as [[weightedMovingSum]]. */
  def ewmaDyadic(df: DataFrame, keyCol: String, bucketCol: String,
      valueCol: String, depth: Int = 16): DataFrame = {
    require(depth >= 1 && depth <= 62, s"depth out of range: $depth")
    weightedMovingSum(df, keyCol, bucketCol, valueCol,
      (0 until depth).map(j => 1L << (depth - 1 - j)))
  }

  /** Linear interpolation of NULL values in each key's ordered series:
    * interior gaps fill with prev + (next − prev)·(i − iₚ)/(iₙ − iₚ) over
    * ROW positions; boundary NULLs (no neighbor on one side) stay NULL.
    * Two bounded-frame windows (running last-non-null each direction) —
    * no self-join, one shuffle on the key. The arithmetic is a fixed
    * left-to-right expression over identical operands, so results are
    * engine-portable at a fixed rounding. */
  def interpolateLinear(df: DataFrame, keyCol: String, order: Seq[Column],
      valueCol: String, scale: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val base = df.withColumn("_rn", row_number().over(wOrd))
    // BOTH neighbor scans are running `UNBOUNDED PRECEDING TO CURRENT ROW`
    // frames — the only frame shape Spark evaluates incrementally (O(n)
    // per key). The "next" side runs over the REVERSED sort instead of an
    // UNBOUNDED FOLLOWING frame: Spark re-aggregates a following frame
    // from scratch at every row (O(n²) — measured 116 s vs 0.6 s at
    // sf0.1), and sliding `... TO 1 PRECEDING` frames degrade the same
    // way. Including the current row is semantics-neutral: only NULL rows
    // read the neighbor columns, and they contribute nothing to
    // last/max/min over the frame.
    val v = col(valueCol).cast(DoubleType)
    val wPrev = Window.partitionBy(col(keyCol)).orderBy(col("_rn").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNextRev = Window.partitionBy(col(keyCol)).orderBy(col("_rn").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = base
      .withColumn("_pv", last(when(v.isNotNull, v), ignoreNulls = true)
        .over(wPrev))
      .withColumn("_pr", max(when(v.isNotNull, col("_rn"))).over(wPrev))
      .withColumn("_nv", last(when(v.isNotNull, v), ignoreNulls = true)
        .over(wNextRev))
      .withColumn("_nr", min(when(v.isNotNull, col("_rn"))).over(wNextRev))
    val interp = col("_pv") +
      (col("_nv") - col("_pv")) * (col("_rn") - col("_pr")).cast(DoubleType) /
        (col("_nr") - col("_pr")).cast(DoubleType)
    marked.withColumn("_filled",
        when(v.isNotNull, v)
          .when(col("_pv").isNotNull && col("_nv").isNotNull,
            graft.core.Semantics.safeRound(interp, scale)))
      .drop("_pv", "_pr", "_nv", "_nr")
  }

  /** Rolling median of each key's integer series over the trailing
    * `windowRows` buckets, scaled ×2 so the even-count midpoint average
    * stays a BIGINT (exact in any engine). collect+sort over a ≤
    * `windowRows`-element window — bounded state per row, partitioned per
    * key. */
  def rollingMedianX2(df: DataFrame, keyCol: String, bucketCol: String,
      valueCol: String, windowRows: Int = 5): DataFrame = {
    require(windowRows >= 1, "windowRows must be >= 1")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(bucketCol).asc)
      .rowsBetween(-(windowRows - 1), 0)
    val arr = sort_array(collect_list(col(valueCol)).over(w))
    val k = size(arr)
    val medX2 = when(k % 2 === 1,
        element_at(arr, ((k + 1) / 2).cast("int")) * 2)
      .otherwise(element_at(arr, (k / 2).cast("int")) +
        element_at(arr, (k / 2 + 1).cast("int")))
    df.select(col(keyCol), col(bucketCol), col(valueCol),
      medX2.cast(org.apache.spark.sql.types.LongType).as("med_x2"))
  }

  /** Lag-k autocorrelation of each key's bucket-ordered integer series,
    * for k = 1..maxLag, with the Pearson-style estimator cleared of every
    * division: numerator·n² and denominator·n² are closed-form BIGINT
    * sums (n²Σxy − nS(Σx_head+Σx_tail) + (n−k)S² over n²Σx² − nS²), so
    * the only float op is the final ratio of two identical exact longs —
    * engine-portable at any aggregation order. One lag window per k over
    * the (tiny) per-key bucket series. */
  def autocorr(df: DataFrame, keyCol: String, bucketCol: String,
      valueCol: String, maxLag: Int = 3, scale: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    require(maxLag >= 1, "maxLag must be >= 1")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(bucketCol).asc)
    val base = df.select(col(keyCol), col(bucketCol),
      col(valueCol).cast(LongType).as("_x"))
    val stats = base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
        graft.functions.Dec128.sumExact(col("_x") * col("_x"), 0).as("_sxx"))
    val lagged = (1 to maxLag).map { k =>
      base.select(col(keyCol), col("_x"),
        lag(col("_x"), k).over(w).as("_xl"))
        .filter(col("_xl").isNotNull)
        .groupBy(col(keyCol))
        .agg(graft.functions.Dec128.sumExact(col("_x") * col("_xl"), 0)
            .as("_sxy"),
          sum(col("_x")).as("_sh"), sum(col("_xl")).as("_st"))
        .withColumn("lag", lit(k))
    }.reduce(_ unionByName _)
    // n²-scaled numerator/denominator stay in DecimalType(38,0) all the
    // way to the final ratio: plain Long arithmetic would wrap SILENTLY
    // on long/high-magnitude series while an independent engine's BIGINT
    // raises — a cross-engine divergence class, not just an accuracy bug.
    // 38 digits bounds |Σx²|·n² at 10^38 — far past any real series
    val dN = col("_n").cast(DecimalType(38, 0))
    val dS = col("_s").cast(DecimalType(38, 0))
    val den = dN * dN * col("_sxx") - dN * dS * dS
    lagged.join(broadcast(stats), Seq(keyCol))
      .select(col(keyCol), col("lag"), col("_n").as("n"),
        // constant series have zero variance: no defined correlation
        when(den === 0, lit(null).cast(DoubleType))
          .otherwise(graft.core.Semantics.safeRound(
            (dN * dN * col("_sxy") -
              dN * dS * (col("_sh") + col("_st")).cast(DecimalType(38, 0)) +
              (col("_n") - col("lag")).cast(DecimalType(38, 0)) * dS * dS)
              .cast(DoubleType) / den.cast(DoubleType),
            scale)).as("r"))
      .orderBy(col(keyCol), col("lag"))
  }

  /** Classical additive seasonal decomposition y = trend + seasonal +
    * residual over each key's hourly series, in PURE integer micro-units
    * (exact in any engine):
    *  - y_e6: per-(key, hour-bucket) sum of per-row `floor(v·1e6 + 0.5)`
    *    longs — exact, aggregation-order-free;
    *  - trend_e6: centered moving average over `2·halfWidth + 1` buckets
    *    (null until the frame is full on both sides — honest edges, no
    *    silently-rescaled partial means). The frame is a FIXED ±halfWidth
    *    rows, so the window pass is O(w) per row, never the growing-frame
    *    cliff;
    *  - seasonal_e6: per-(key, season) mean of the detrended longs, the
    *    season being hour-of-day — the additive index of the classic
    *    decomposition;
    *  - resid_e6 = y − trend − seasonal where trend is defined.
    * Each mean is `floor(exactLongSum / cnt + 0.5)` via one double
    * division of exact operands — identical IEEE result cross-engine.
    * All state is (key, bucket)-partitioned; the seasonal index join is a
    * broadcast of a (keys × period)-row frame. */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfWidth: Int = 12): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    require(halfWidth >= 1, "halfWidth must be >= 1")
    val width = 2 * halfWidth + 1
    val y = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), date_trunc("hour", col(tsCol)).as("bucket"),
        floor(col(valueCol) * lit(1000000L) + lit(0.5))
          .cast(LongType).as("_v"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(sum(col("_v")).as("y_e6"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket").asc)
      .rowsBetween(-halfWidth, halfWidth)
    val trended = y.withColumn("trend_e6",
      when(count(lit(1)).over(w) === width,
        floor(sum(col("y_e6")).over(w).cast(DoubleType) / lit(width) +
          lit(0.5)).cast(LongType)))
    // fresh attribute names on the seasonal side: it DERIVES from
    // `trended`, and a self-join on shared expression ids mis-binds
    val seasonal = trended.filter(col("trend_e6").isNotNull)
      .groupBy(col(keyCol).as("_k"), hour(col("bucket")).as("_season"))
      .agg(sum(col("y_e6") - col("trend_e6")).as("_sd"),
        count(lit(1)).as("_sn"))
      .select(col("_k"), col("_season"),
        floor(col("_sd").cast(DoubleType) / col("_sn") + lit(0.5))
          .cast(LongType).as("seasonal_e6"))
    trended
      .join(broadcast(seasonal),
        trended(keyCol) === seasonal("_k") &&
          hour(col("bucket")) === seasonal("_season"), "left")
      .select(trended(keyCol), col("bucket"), col("y_e6"), col("trend_e6"),
        col("seasonal_e6"),
        when(col("trend_e6").isNotNull && col("seasonal_e6").isNotNull,
          col("y_e6") - col("trend_e6") - col("seasonal_e6"))
          .as("resid_e6"))
  }

  /** Seasonal-adjusted anomaly screen: flag buckets whose DECOMPOSITION
    * RESIDUAL (y − trend − seasonal, from [[seasonalDecompose]]) is large
    * — the detector that does NOT page on the nightly traffic peak a
    * plain z-score fires on every day, because the daily shape lives in
    * the seasonal term. Threshold = `multNum/multDen ×` the key's mean
    * |residual|, all BIGINT (mean as floor(exactSum/cnt + ½)); buckets
    * without a defined residual (MA edges) are never flagged. */
  def seasonalAnomalies(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfWidth: Int = 12,
      multNum: Long = 3L, multDen: Long = 1L): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val dec = seasonalDecompose(df, keyCol, tsCol, valueCol, halfWidth)
    val thr = dec.filter(col("resid_e6").isNotNull)
      .groupBy(col(keyCol).as("_k"))
      .agg(sum(abs(col("resid_e6"))).as("_sa"), count(lit(1)).as("_cn"))
      .select(col("_k"),
        floor(col("_sa").cast(DoubleType) / col("_cn") + lit(0.5))
          .cast(LongType).as("mean_abs_resid_e6"))
    dec.join(broadcast(thr), dec(keyCol) === thr("_k"))
      .select(dec(keyCol), col("bucket"), col("y_e6"), col("resid_e6"),
        col("mean_abs_resid_e6"),
        when(col("resid_e6").isNotNull,
          abs(col("resid_e6")) * multDen > col("mean_abs_resid_e6") * multNum)
          .otherwise(lit(false)).as("is_anomaly"))
  }

  /** Single change-point detection per key: the bucket boundary that
    * maximizes the between-segment variance reduction of the milli-unit
    * series — argmax over t of (n·S_t − t·S)² / (t·(n−t)), the exact
    * closed form of the one-split least-squares fit. Prefix sums come
    * from one `UNBOUNDED PRECEDING` pass; the squared numerator lives in
    * DecimalType(38,0) (silent Long wrap would diverge from an engine
    * whose BIGINT raises) and only the final score ratio is a double of
    * exact operands. Magnitude bound: (n·S_t)² must fit 38 digits, i.e.
    * |n · Σ|v|·1e3| < 10¹⁹ — holds for any per-key series whose bucket
    * count × total milli-unit mass stays under ~10 quintillion (hourly
    * buckets over years of any realistic metric); beyond that Spark's
    * decimal overflows to null where another engine's int128 raises, so
    * rescale the input rather than trust the split. Ties break on the
    * earliest split. Emits per key the split bucket (the LEFT segment's
    * last bucket), segment sizes and exact segment means. */
  def changePoint(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, scale: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val y = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), date_trunc("hour", col(tsCol)).as("bucket"),
        floor(col(valueCol) * lit(1000L) + lit(0.5))
          .cast(LongType).as("_v"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(sum(col("_v")).as("_y"))
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("bucket").asc)
    val pre = y.select(col(keyCol), col("bucket"),
      sum(col("_y")).over(ord.rowsBetween(Window.unboundedPreceding, 0))
        .as("_st"),
      row_number().over(ord).as("_t"))
    val tot = y.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_s"))
    val d = (c: Column) => c.cast(DecimalType(38, 0))
    val scored = pre.join(broadcast(tot), Seq(keyCol))
      .filter(col("_t") < col("_n")) // a split needs a non-empty right side
      .withColumn("_num",
        (d(col("_n")) * d(col("_st")) - d(col("_t")) * d(col("_s"))) *
          (d(col("_n")) * d(col("_st")) - d(col("_t")) * d(col("_s"))))
      .withColumn("_score", col("_num").cast(DoubleType) /
        (col("_t") * (col("_n") - col("_t"))).cast(DoubleType))
    val best = Window.partitionBy(col(keyCol))
      .orderBy(col("_score").desc, col("_t").asc)
    scored.withColumn("_rk", row_number().over(best))
      .filter(col("_rk") === 1)
      .select(col(keyCol),
        col("bucket").as("split_last_left"),
        col("_t").cast(LongType).as("n_left"),
        (col("_n") - col("_t")).cast(LongType).as("n_right"),
        graft.core.Semantics.safeRound(
          col("_st").cast(DoubleType) / col("_t") / lit(1000.0), scale)
          .as("mean_left"),
        graft.core.Semantics.safeRound(
          (col("_s") - col("_st")).cast(DoubleType) /
            (col("_n") - col("_t")) / lit(1000.0), scale)
          .as("mean_right"))
  }
}
