package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.core.Semantics

/** Dataset forensics: distribution audits that flag fabricated, corrupted,
  * or privacy-risky slices before they poison a training run. All exact
  * integer counts + per-row double formulas — no order-dependent float
  * aggregation anywhere, so every report replays bit-for-bit in any
  * engine.
  */
object Audit {

  /** Benford's-law first-digit audit for a positive numeric column:
    * organically-grown magnitudes (prices, populations, file sizes) follow
    * P(d) = log10(1 + 1/d); fabricated or truncated data usually doesn't.
    * The first digit comes from the INTEGER part's string form — never
    * floating log10, whose power-of-ten boundaries differ across engines.
    * Emits per-digit observed count/share, expected share, and the
    * chi-square term (o−e)²/e — nine rows, one aggregate pass. Rows with
    * value < 1 or null are excluded (no leading significant digit). */
  def benford(df: DataFrame, valueCol: String,
      scale: Int = 4): DataFrame = {
    val v = col(valueCol)
    val digits = df.filter(v.isNotNull && v >= 1)
      .select(substring(floor(v).cast(LongType).cast(StringType), 1, 1)
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("_total"))
    val pExp = log(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType)) /
      log(lit(10.0))
    val eCnt = pExp * col("_total").cast(DoubleType)
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        Semantics.safeRound(
          col("n").cast(DoubleType) / col("_total").cast(DoubleType), scale)
          .as("observed"),
        Semantics.safeRound(pExp, scale).as("expected"),
        Semantics.safeRound(
          pow(col("n").cast(DoubleType) - eCnt, 2) / eCnt, scale)
          .as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** Chi-square independence cells for two categoricals: per (a, b) cell
    * the observed count, expected count `rowₐ·col_b / n`, and the
    * chi-square term — the "is source correlated with language?" audit.
    * Cells with observed 0 don't appear (their terms are a driver-side
    * add-up of expected mass if needed). Three tiny aggregates + two
    * broadcast joins; nothing wider than category cardinalities. */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String,
      scale: Int = 4): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("n"))
    val rowT = df.groupBy(col(aCol)).agg(count(lit(1)).as("_ra"))
    val colT = df.groupBy(col(bCol)).agg(count(lit(1)).as("_cb"))
    val total = df.agg(count(lit(1)).as("_t"))
    val e = (col("_ra") * col("_cb")).cast(DoubleType) /
      col("_t").cast(DoubleType)
    cells
      .join(broadcast(rowT), Seq(aCol))
      .join(broadcast(colT), Seq(bCol))
      .crossJoin(broadcast(total))
      .select(col(aCol), col(bCol), col("n"),
        Semantics.safeRound(e, scale).as("expected"),
        Semantics.safeRound(
          pow(col("n").cast(DoubleType) - e, 2) / e, scale).as("chi2_term"))
      .orderBy(col(aCol), col(bCol))
  }

  /** Population stability index between a reference and a current sample
    * of one numeric column — the standard "did the distribution move"
    * monitor for scores/features between pipeline runs. Bins are the
    * reference sample's exact `bins`-quantiles (driver literals — one
    * stats job, the [[QuantileBinner]] pattern, never a corpus window),
    * counts are exact integers with +1 smoothing so empty current bins
    * stay finite, and each bin emits its PSI term
    * `(p−q)·ln(p/q)` — sum them for the headline number (rule of thumb:
    * > 0.25 = major shift). */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int = 10, scale: Int = 4): DataFrame = {
    require(bins >= 2, s"need at least 2 bins: $bins")
    val ps = (1 until bins).map(_.toDouble / bins)
    val bounds = ref.select(
      expr(s"percentile($valueCol, array(${ps.mkString(",")}))")).head()
      .getSeq[Double](0)
    require(bounds != null, "reference sample has no non-null values")
    def binCol = bounds.foldLeft(lit(1L)) { (acc, b) =>
      acc + when(col(valueCol) >= lit(b), 1L).otherwise(0L)
    }
    def counts(df: DataFrame, out: String) =
      df.filter(col(valueCol).isNotNull)
        .select(binCol.as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(out))
    val joined = counts(ref, "n_ref")
      .join(counts(cur, "n_cur"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(sum(col("n_ref")).as("_tr"),
      sum(col("n_cur")).as("_tc"))
    val p = (col("n_ref") + 1).cast(DoubleType) /
      (col("_tr") + bins).cast(DoubleType)
    val q = (col("n_cur") + 1).cast(DoubleType) /
      (col("_tc") + bins).cast(DoubleType)
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        Semantics.safeRound((p - q) * log(p / q), scale).as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Information gain of a categorical feature against a label:
    * `H(label) − H(label | feature)` — the feature-selection score (does
    * source predict language?). Entropy terms are each ONE double formula
    * over exact integer counts, quantized (safeRound 12) and summed
    * through DECIMAL(38,15) so the category-order of the sum can't drift
    * the result. Three tiny aggregates; nothing wider than the
    * feature × label contingency. */
  def infoGain(df: DataFrame, featureCol: String, labelCol: String,
      scale: Int = 4): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 15)
    val n = df.agg(count(lit(1)).as("_n"))
    val hLabel = df.groupBy(col(labelCol)).agg(count(lit(1)).as("_cl"))
      .crossJoin(broadcast(n))
      .select(Semantics.safeRound(
        col("_cl").cast(DoubleType) / col("_n").cast(DoubleType) *
          log(col("_cl").cast(DoubleType) / col("_n").cast(DoubleType)), 12)
        .cast(dec).as("_t"))
      .agg((-sum(col("_t"))).cast(DoubleType).as("_hl"))
    val hCond = df.groupBy(col(featureCol), col(labelCol))
      .agg(count(lit(1)).as("_cfl"))
      .join(broadcast(df.groupBy(col(featureCol))
        .agg(count(lit(1)).as("_cf"))), Seq(featureCol))
      .crossJoin(broadcast(n))
      .select(Semantics.safeRound(
        col("_cfl").cast(DoubleType) / col("_n").cast(DoubleType) *
          log(col("_cfl").cast(DoubleType) / col("_cf").cast(DoubleType)),
        12).cast(dec).as("_t"))
      .agg((-sum(col("_t"))).cast(DoubleType).as("_hc"))
    hLabel.crossJoin(hCond)
      .select(lit(featureCol).as("feature"), lit(labelCol).as("label"),
        Semantics.safeRound(col("_hl"), scale).as("h_label"),
        Semantics.safeRound(col("_hc"), scale).as("h_cond"),
        Semantics.safeRound(col("_hl") - col("_hc"), scale).as("info_gain"))
  }

  /** Functional-dependency violation report: left-hand-side values that
    * map to MORE than one right-hand-side value — the profiling primitive
    * behind "order id should determine status" style rules. One aggregate
    * on the LHS with an exact distinct count. */
  def fdViolations(df: DataFrame, lhs: Seq[String],
      rhs: String): DataFrame = {
    require(lhs.nonEmpty, "need at least one LHS column")
    df.groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(rhs)).as("n_rhs"))
      .filter(col("n_rhs") > 1)
      .orderBy(lhs.map(col(_).asc): _*)
  }

  /** Per-group median and MAD (median absolute deviation) — the robust
    * location/scale report heavy-tailed metrics need (mean/stddev get
    * dragged by one outlier). Two grouped EXACT percentile aggregates
    * with a broadcast join between them; interpolated medians match
    * `quantile_cont` in any engine. */
  def groupMad(df: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 4): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    df.join(broadcast(med), Seq(groupCol))
      .select(col(groupCol), col("_med"),
        abs(col(valueCol) - col("_med")).as("_dev"))
      .groupBy(col(groupCol))
      .agg(Semantics.safeRound(first(col("_med")), scale).as("median"),
        Semantics.safeRound(expr("percentile(_dev, 0.5)"), scale).as("mad"))
      .orderBy(col(groupCol))
  }

  /** Per-group higher-moment profile: population mean/σ plus skewness and
    * excess kurtosis assembled from DECIMAL-exact raw moments (products
    * formed in double — IEEE-identical — then quantized, the
    * [[Correlation]] pattern). The shape report that tells you a metric
    * is heavy-tailed BEFORE a z-score detector misfires on it. Degenerate
    * groups (σ = 0) yield null shape stats. */
  def momentsByGroup(df: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 4): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 10)
    val v = col(valueCol)
    def dsum(c: org.apache.spark.sql.Column, name: String) =
      sum(c.cast(dec)).cast(DoubleType).as(name)
    val m = df.filter(v.isNotNull).groupBy(col(groupCol))
      .agg(count(lit(1)).cast(DoubleType).as("_n"),
        dsum(v, "_m1"), dsum(v * v, "_m2"),
        dsum(v * v * v, "_m3"), dsum(v * v * v * v, "_m4"))
    val n = col("_n")
    val mu = col("_m1") / n
    val varP = col("_m2") / n - mu * mu
    val sig = sqrt(varP)
    val skew = (col("_m3") / n - lit(3.0) * mu * col("_m2") / n +
      lit(2.0) * mu * mu * mu) / (sig * sig * sig)
    val kurt = (col("_m4") / n - lit(4.0) * mu * col("_m3") / n +
      lit(6.0) * mu * mu * col("_m2") / n -
      lit(3.0) * mu * mu * mu * mu) / (varP * varP) - lit(3.0)
    m.select(col(groupCol), n.cast("long").as("n"),
      Semantics.safeRound(mu, scale).as("mean"),
      Semantics.safeRound(sig, scale).as("sigma"),
      when(sig === 0, lit(null).cast(DoubleType))
        .otherwise(Semantics.safeRound(skew, scale)).as("skewness"),
      when(sig === 0, lit(null).cast(DoubleType))
        .otherwise(Semantics.safeRound(kurt, scale)).as("kurtosis"))
      .orderBy(col(groupCol))
  }

  /** Candidate-key discovery: for each proposed column set, is it unique?
    * Exact distinct counts per candidate (one aggregate each — candidates
    * are a bounded hand-list, not a search) with the duplicate count —
    * the schema-profiling step before declaring a merge/join key. */
  def keyCandidates(df: DataFrame,
      candidates: Seq[Seq[String]]): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate key")
    candidates.map { cols =>
      df.agg(count(lit(1)).as("n_rows"),
        countDistinct(cols.head, cols.tail: _*).as("n_distinct"))
        .select(lit(cols.mkString(",")).as("candidate"),
          col("n_rows"), col("n_distinct"),
          (col("n_rows") === col("n_distinct")).as("is_key"))
    }.reduce(_ unionByName _).orderBy(col("candidate"))
  }

  /** Cohen's kappa between two categorical labelings, in exact integer
    * arithmetic: kappa = (n·Σdiag − Σ(rowᵢ·colᵢ)) / (n² − Σ(rowᵢ·colᵢ)),
    * emitted e6-scaled through one FLOOR(double) division of exact longs
    * (identical operands → identical result in any engine; floor keeps
    * negative kappas portable where truncating integer division differs).
    * The label-marginal join is a tiny full-outer on distinct labels. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val top = df.agg(count(lit(1)).as("n"),
      sum(when(col(aCol) === col(bCol), 1L).otherwise(0L)).as("n_agree"))
    val ra = df.groupBy(col(aCol).as("_lbl")).agg(count(lit(1)).as("_ra"))
    val cb = df.groupBy(col(bCol).as("_lbl")).agg(count(lit(1)).as("_cb"))
    val src = ra.join(cb, Seq("_lbl"), "full_outer")
      .agg(coalesce(sum(coalesce(col("_ra"), lit(0L)) *
        coalesce(col("_cb"), lit(0L))), lit(0L)).as("_src"))
    // degenerate input (both labelings one constant label) makes the
    // chance-agreement denominator n² − src zero; 0/0 would be NaN, which
    // Spark's floor→cast silently maps to 0 while DuckDB raises — emit
    // NULL instead (kappa is undefined there), mirroring autocorr's
    // zero-variance null
    top.crossJoin(src).select(col("n"), col("n_agree"),
      when(col("n") * col("n") === col("_src"),
        lit(null).cast(org.apache.spark.sql.types.LongType))
        .otherwise(
          floor(((col("n") * col("n_agree") - col("_src")) * lit(1000000L))
            .cast(DoubleType) /
            (col("n") * col("n") - col("_src")).cast(DoubleType))
            .cast(org.apache.spark.sql.types.LongType)).as("kappa_e6"))
  }

  /** Krippendorff's alpha for two complete nominal labelings — the
    * agreement coefficient that, unlike [[cohenKappa]], treats both
    * raters as draws from ONE pooled label distribution (coincidence
    * rather than contingency marginals), generalizes to missing data and
    * more raters, and applies the small-sample n−1 correction. For two
    * raters it reduces to integer marginals: with n = 2·units pooled
    * values, D = disagreeing units, and S = Σ_c n_c² over pooled label
    * counts, α = (den − (n−1)·2·D) / den where den = n² − S. All-integer
    * until one final floor'd e6 ratio (magnitudes bounded by n²·10⁶ —
    * exact in doubles up to ~30M units per group; same documented bound
    * as kappa). Degenerate single-constant-label input: den = 0, α
    * undefined → NULL, mirroring kappa. */
  def krippendorffAlpha(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val top = df.agg(count(lit(1)).as("n_units"),
      sum(when(col(aCol) === col(bCol), 0L).otherwise(1L)).as("n_disagree"))
    val pooled = df.select(col(aCol).as("_lbl"))
      .unionAll(df.select(col(bCol).as("_lbl")))
      .groupBy(col("_lbl")).agg(count(lit(1)).as("_nc"))
      .agg(coalesce(sum(col("_nc") * col("_nc")), lit(0L)).as("_sq"))
    top.crossJoin(pooled).select(col("n_units"), col("n_disagree"), {
      val n = col("n_units") * lit(2L)
      val den = n * n - col("_sq")
      val num = den - (n - lit(1L)) * lit(2L) * col("n_disagree")
      when(den === 0L, lit(null).cast(LongType))
        .otherwise(floor((num * lit(1000000L)).cast(DoubleType) /
          den.cast(DoubleType)).cast(LongType))
    }.as("alpha_e6"))
  }

  /** Referential-integrity report over declared FK relations: for each
    * (child, fkCol, parent, pkCol) edge, the row/key counts, NULL-FK rows,
    * and orphans (non-null FK values absent from the parent). Orphan
    * detection is one left-anti join per relation on a pre-aggregated
    * (fk → row count) frame, so the parent-side probe shuffles distinct
    * keys, never child rows — the cheap shape at 100 TB fact tables. */
  def refIntegrity(
      relations: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(relations.nonEmpty, "need at least one FK relation")
    relations.map { case (tag, child, fkCol, parent, pkCol) =>
      val perKey = child.groupBy(col(fkCol).as("_fk"))
        .agg(count(lit(1)).as("_rows"))
      val nulls = perKey.filter(col("_fk").isNull)
        .agg(coalesce(sum(col("_rows")), lit(0L)).as("n_null_fk_rows"))
      val orphans = perKey.filter(col("_fk").isNotNull)
        .join(parent.select(col(pkCol).as("_fk")).distinct(),
          Seq("_fk"), "left_anti")
        .agg(coalesce(sum(col("_rows")), lit(0L)).as("n_orphan_rows"),
          count(lit(1)).as("n_orphan_keys"))
      child.agg(count(lit(1)).as("n_child_rows"),
          countDistinct(col(fkCol)).as("n_distinct_fk"))
        .crossJoin(nulls).crossJoin(orphans)
        .select(lit(tag).as("relation"), col("n_child_rows"),
          col("n_distinct_fk"), col("n_null_fk_rows"),
          col("n_orphan_rows"), col("n_orphan_keys"))
    }.reduce(_ unionByName _).orderBy(col("relation"))
  }

  /** k-anonymity risk report: quasi-identifier combinations shared by
    * fewer than `k` rows — the groups whose members a release would
    * re-identify. One aggregate on the quasi-id tuple. */
  def kAnonymityRisk(df: DataFrame, quasiIds: Seq[String],
      k: Long): DataFrame = {
    require(quasiIds.nonEmpty && k >= 2, "need quasi-ids and k >= 2")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
      .orderBy(quasiIds.map(col(_).asc) :+ col("n").asc: _*)
  }

  /** l-diversity risk report: the companion check k-anonymity misses —
    * a quasi-id group can be large yet still leak if everyone in it
    * shares the same SENSITIVE value (the classic homogeneity attack).
    * Reports groups whose distinct-sensitive-value count is below `l`,
    * with group size for triage. One aggregate on the quasi-id tuple
    * (count + count distinct), nothing quadratic. */
  def lDiversityRisk(df: DataFrame, quasiIds: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(quasiIds.nonEmpty && l >= 2, "need quasi-ids and l >= 2")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .filter(col("n_sensitive") < l)
      .orderBy(quasiIds.map(col(_).asc): _*)
  }

  /** t-closeness risk — the third rung of the privacy-audit ladder
    * (k-anonymity bounds group SIZE, l-diversity bounds sensitive-value
    * VARIETY, t-closeness bounds how much a group's sensitive-value
    * DISTRIBUTION deviates from the table's): per quasi-identifier
    * group, the total-variation distance
    * `TVD(g) = ½ Σ_v |p_g(v) − p(v)|`, INTEGER-exact via cross-
    * multiplication — `Σ_v |c_g(v)·n − c(v)·n_g| / (2·n_g·n)` as a
    * BIGINT numerator and one floored e6 ratio. Values absent from a
    * group contribute `c(v)·n_g` without ever joining: their sum is
    * `n·n_g − Σ_{v∈g} c(v)·n_g`, so the only join is (group, value) ×
    * broadcast global value counts — no outer-join blowup, no per-group
    * dictionary materialization. */
  def tClosenessRisk(df: DataFrame, quasiIds: Seq[String],
      sensitiveCol: String, scale: Int = 6): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    require(quasiIds.nonEmpty, "need quasi-ids")
    val rows = df.filter(col(sensitiveCol).isNotNull)
    val glob = rows.groupBy(col(sensitiveCol).as("_v"))
      .agg(count(lit(1)).as("_c"))
    // Global total stays IN the plan as a broadcast 1-row frame — no
    // driver-side .head() at construction time (an extra scan, and a
    // stale literal if the source changes before execution).
    val tot = glob.agg(coalesce(sum(col("_c")), lit(0L)).as("_nTot"))
    val d = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val gv = rows
      .groupBy(quasiIds.map(col) :+ col(sensitiveCol).as("_v"): _*)
      .agg(count(lit(1)).as("_cg"))
    val ng = gv.groupBy(quasiIds.map(col): _*)
      .agg(sum(col("_cg")).as("_ng"))
    gv.join(broadcast(glob), Seq("_v"))
      .join(ng, quasiIds)
      .crossJoin(broadcast(tot))
      .groupBy(quasiIds.map(col): _*)
      .agg(max(col("_ng")).as("n_g"),
        sum(abs(d(col("_cg")) * d(col("_nTot")) - d(col("_c")) *
          d(col("_ng")))).as("_inAbs"),
        sum(col("_c")).as("_sumC"),
        max(col("_nTot")).as("_nTot"))
      // values absent from the group: Σ c(v)·n_g over v ∉ g
      .withColumn("_num", col("_inAbs") +
        d(col("n_g")) * (d(col("_nTot")) - d(col("_sumC"))))
      .select(quasiIds.map(col) :+ col("n_g") :+
        floor(col("_num").cast(DoubleType) * 1e6 /
          (lit(2.0) * col("n_g") * col("_nTot").cast(DoubleType)))
          .cast(LongType).as("tvd_e6"): _*)
      .orderBy(quasiIds.map(col(_).asc): _*)
  }

  /** Two-sample Kolmogorov–Smirnov statistic — the distribution-drift
    * screen whose verdict (unlike PSI / chi-square, which bin) is
    * binning-free: sup over observed values of |F₁ − F₂|. Everything is
    * INTEGER-exact: with per-value cumulative counts a₁, a₂ the statistic
    * is max|a₁·n₂ − a₂·n₁| / (n₁·n₂), carried as a BIGINT numerator plus
    * an e6-scaled floor ratio — no float ever compares cross-engine.
    *
    * Scale shape: the empirical CDF needs a GLOBAL running sum over
    * sorted distinct values, which as one window is a single-partition
    * scan. Instead: per-value counts (one shuffle), range-sharding by
    * approx-quantile bounds (driver-tiny fit; bounds only PLACE the
    * shards — exactness never depends on them), per-shard totals rolled
    * into literal prefix offsets (≤ shards+1 rows on the driver), then a
    * SHARD-partitioned window plus offset. Same two-phase construction as
    * the pack-window cumsum; the hygiene sweep's no-global-window rule
    * holds. */
  /** Shared two-sample machinery: per distinct value, side counts
    * (_c1,_c2) and EXACT global cumulative counts (_a1,_a2), built with a
    * shard-partitioned window + driver prefix offsets. Returns the frame
    * plus (n1, n2). */
  private[graft] def cumulativeCounts(a: DataFrame, b: DataFrame,
      valueCol: String, shards: Int): (DataFrame, Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    require(shards >= 1, "need at least one shard")
    val u = a.select(col(valueCol).cast(DoubleType).as("_v"))
      .where(col("_v").isNotNull).withColumn("_s", lit(1))
      .unionByName(b.select(col(valueCol).cast(DoubleType).as("_v"))
        .where(col("_v").isNotNull).withColumn("_s", lit(2)))
    val counts = u.groupBy(col("_v")).agg(
      sum(when(col("_s") === 1, 1L).otherwise(0L)).as("_c1"),
      sum(when(col("_s") === 2, 1L).otherwise(0L)).as("_c2"))
    val probs = (1 until shards).map(_.toDouble / shards).toArray
    val bounds: Array[Double] =
      if (shards == 1) Array.empty
      else counts.stat.approxQuantile("_v", probs, 0.01).distinct.sorted
    val shardOf =
      if (bounds.isEmpty) lit(0)
      else aggregate(lit(bounds), lit(0),
        (acc, bnd) => acc + when(col("_v") > bnd, 1).otherwise(0))
    val sh = counts.withColumn("_sh", shardOf)
    val totals = sh.groupBy(col("_sh"))
      .agg(sum(col("_c1")).as("_t1"), sum(col("_c2")).as("_t2"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    require(totals.nonEmpty, "two-sample statistics need non-empty samples")
    val nShards = bounds.length + 1
    val off1 = new Array[Long](nShards); val off2 = new Array[Long](nShards)
    totals.foreach { case (s, t1, t2) =>
      var j = s + 1
      while (j < nShards) { off1(j) += t1; off2(j) += t2; j += 1 }
    }
    val n1 = totals.map(_._2).sum; val n2 = totals.map(_._3).sum
    require(n1 > 0 && n2 > 0, "both samples must be non-empty")
    val w = Window.partitionBy(col("_sh")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sh
      .withColumn("_a1",
        sum(col("_c1")).over(w) + element_at(lit(off1), col("_sh") + 1))
      .withColumn("_a2",
        sum(col("_c2")).over(w) + element_at(lit(off2), col("_sh") + 1))
    (cum, n1, n2)
  }

  def ksStatistic(a: DataFrame, b: DataFrame, valueCol: String,
      shards: Int = 32): DataFrame = {
    val (cum, n1, n2) = cumulativeCounts(a, b, valueCol, shards)
    // DecimalType(38,0) products: a₁·n₂ overflows BIGINT once both
    // samples pass ~3e9 rows — exactly the regime this operator targets
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    cum.agg(max(abs(col("_a1").cast(dec) * lit(n2).cast(dec) -
          col("_a2").cast(dec) * lit(n1).cast(dec)))
        .as("ks_num"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"),
        // BIGINT for the emitted cell (dtype parity with the oracle's
        // CAST; ANSI overflow would be loud, and consumers read ks_e6)
        col("ks_num").cast(LongType).as("ks_num"),
        // integral DIV, not decimal-/ + floor: the division's scale-6
        // rounding could cross an integer boundary and break floor parity
        expr("CAST((CAST(ks_num AS DECIMAL(38,0)) * 1000000) DIV " +
          s"(CAST(${n1}L AS DECIMAL(38,0)) * ${n2}L) AS BIGINT)")
          .as("ks_e6"))
  }

  /** Grouped two-sample KS — drift PER SEGMENT (per source, per tenant,
    * per event type), the shape a production drift dashboard actually
    * needs: within each group, sample 1 = rows where `sideCol` is false,
    * sample 2 = rows where it is true, and
    * D = max|a₁·n₂ − a₂·n₁| / (n₁·n₂) over the group's observed values.
    * UNLIKE the global [[ksStatistic]], no shard machinery is needed:
    * the cumulative counts partition by the group key, so the whole
    * operator is one count aggregate + one key-partitioned window + one
    * grouped max — plan-hygienic at any group count. Products ride in
    * Decimal(38,0) (BIGINT would wrap silently past ~3e9-row sides);
    * `drifted` compares the e6 statistic against `thresholdE6` in pure
    * integers. Groups missing either side carry no defined statistic and
    * are dropped (document the absence, don't fake a zero). */
  def ksByGroup(df: DataFrame, groupCol: String, sideCol: String,
      valueCol: String, thresholdE6: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = df
      .filter(col(valueCol).isNotNull && col(sideCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol).as("_v"))
      .agg(sum(when(!col(sideCol), 1L).otherwise(0L)).as("_c1"),
        sum(when(col(sideCol), 1L).otherwise(0L)).as("_c2"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("_a1", sum(col("_c1")).over(w))
      .withColumn("_a2", sum(col("_c2")).over(w))
    val tots = counts.groupBy(col(groupCol))
      .agg(sum(col("_c1")).as("_n1"), sum(col("_c2")).as("_n2"))
    cum.join(tots, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(max(col("_n1")).as("n1"), max(col("_n2")).as("n2"),
        max(abs(col("_a1").cast(dec) * col("_n2").cast(dec) -
          col("_a2").cast(dec) * col("_n1").cast(dec))).as("_num"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("ks_e6",
        expr("CAST((CAST(_num AS DECIMAL(38,0)) * 1000000) DIV " +
          "(CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"))
      .select(col(groupCol), col("n1"), col("n2"), col("ks_e6"),
        (col("ks_e6") > thresholdE6).as("drifted"))
  }

  /** Mann–Whitney U (rank-sum) between two samples, with its
    * normalization U/(n₁·n₂) — the common-language effect size, i.e. the
    * AUC of `valueCol` as a ranker separating the two populations: the
    * one-number answer to "does sample A stochastically dominate B, and
    * by how much". Midranks handle ties exactly: for a value with
    * cumulative count `cum` and tie width c, twice the rank sum of side 1
    * is c₁·(2·cum_before + c + 1) — pure integers, so doubled-U and the
    * e6 AUC replay cross-engine with no float. Same sharded-cumsum scale
    * shape as [[ksStatistic]]. */
  /** Wasserstein-1 (earth-mover) distance between two 1-D samples — the
    * third face of the drift family: KS reports the WORST CDF gap, W₁ the
    * INTEGRAL of the gap (how much probability mass must move how far).
    * Values are quantized to `scale` decimals first (floor(v·10^s) — the
    * documented semantic: W₁ over the quantized grid), which makes every
    * term integral: Σ over distinct values of |a₁·n₂ − a₂·n₁|·Δv with Δv
    * the gap to the next distinct quantized value, normalized by
    * n₁·n₂·10^s. Decimal accumulation, integral DIV — no float crosses
    * engines. Cross-shard Δv gaps stitch via driver-collected next-shard
    * minimums (shard-count rows), so the same no-global-window shape
    * holds. Quantized magnitudes must stay within double's exact-integer
    * range (|v|·10^s < 2⁵³ — vast for any real metric column). */
  def wasserstein1(a: DataFrame, b: DataFrame, valueCol: String,
      shards: Int = 32, scale: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(scale >= 0 && scale <= 9, s"scale out of range: $scale")
    val p = math.pow(10, scale)
    def q(df: DataFrame) = df
      .where(col(valueCol).isNotNull)
      .select(floor(col(valueCol).cast(DoubleType) * lit(p)).as("_q"))
    val (cum, n1, n2) = cumulativeCounts(q(a), q(b), "_q", shards)
    // next distinct value per row: lead within the shard, stitched across
    // shard boundaries by the next PRESENT shard's minimum (driver-tiny)
    val minsByShard = cum.groupBy(col("_sh")).agg(min(col("_v")).as("_m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    val maxShard = minsByShard.map(_._1).max
    val nextMin = new Array[Double](maxShard + 1)
    java.util.Arrays.fill(nextMin, Double.NaN)
    minsByShard.foreach { case (s, m) =>
      // every not-yet-stitched shard below s has s as its next present
      // shard (ascending processing stops at the previous present one)
      var j = s - 1
      while (j >= 0 && nextMin(j).isNaN) { nextMin(j) = m; j -= 1 }
    }
    val w = Window.partitionBy(col("_sh")).orderBy(col("_v"))
    val nxtRaw = coalesce(
      lead(col("_v"), 1).over(w),
      when(!isnan(element_at(lit(nextMin), col("_sh") + 1)),
        element_at(lit(nextMin), col("_sh") + 1)))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // window first, aggregate second (a window call can't nest in agg)
    val staged = cum.withColumn("_nxt", nxtRaw)
    val gap = (col("_nxt") - col("_v")).cast(dec) // integral-valued doubles
    val term = abs(col("_a1").cast(dec) * lit(n2).cast(dec) -
      col("_a2").cast(dec) * lit(n1).cast(dec)) * gap
    staged.agg(sum(when(col("_nxt").isNotNull, term)).as("_w1num"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"),
        expr("CAST((CAST(_w1num AS DECIMAL(38,0)) * 1000000) DIV " +
          s"(CAST(${n1}L AS DECIMAL(38,0)) * ${n2}L * " +
          s"${p.toLong}L) AS BIGINT)").as("w1_e6"))
  }

  def rankSumU(a: DataFrame, b: DataFrame, valueCol: String,
      shards: Int = 32): DataFrame = {
    val (cum, n1, n2) = cumulativeCounts(a, b, valueCol, shards)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val c = col("_c1") + col("_c2")
    val cumBefore = col("_a1") + col("_a2") - c
    // Σ over values of c1·(2·cum_before + c + 1) = 2·R1
    val r1x2 = sum((col("_c1") * (cumBefore * 2 + c + 1)).cast(dec))
    cum.agg(r1x2.as("_r1x2"))
      .select(lit(n1).as("n1"), lit(n2).as("n2"),
        // 2·U1 = 2·R1 − n1·(n1+1)
        (col("_r1x2") - lit(n1).cast(dec) * lit(n1 + 1).cast(dec))
          .cast(LongType).as("u1_x2"),
        // AUC·e6 = U1/(n1·n2) scaled: (2·U1·1e6) DIV (2·n1·n2)
        expr(s"CAST(((CAST(_r1x2 AS DECIMAL(38,0)) - ${n1}L * ${n1 + 1}L)" +
          s" * 1000000) DIV (2 * CAST(${n1}L AS DECIMAL(38,0)) * ${n2}L)" +
          " AS BIGINT)").as("auc_e6"))
  }
}
