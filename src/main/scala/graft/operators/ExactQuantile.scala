package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** EXACT order statistics without a global sort — the 100 TB answer to
  * "what is the true median". A full sort of 100 TB is a cluster-wide
  * range shuffle; Spark's exact `percentile` aggregate materializes a
  * value→count map per group (OOM at high value cardinality); sketches
  * (approx_percentile, KLL) are approximate by design. Iterative histogram
  * narrowing gets the EXACT k-th smallest in O(log_bins(range)) full scans
  * with O(bins) driver state per round: histogram the candidate range,
  * walk the (bounded, collected) bin counts to find the bin holding rank
  * k, restrict to that bin, repeat until the survivor set fits a direct
  * top-k. Two or three scans at any scale — each a pushed-down range
  * filter + one codegen'd aggregate, no shuffle wider than `bins` rows.
  *
  * Selection-by-rank is tie-stable (the VALUE at rank k is unique even
  * when row order among duplicates isn't), so results are exact and
  * engine-portable. Bucketing uses the same expression for assignment and
  * for the narrowing filter, so float boundary rounding can't misroute a
  * row between rounds. Progress is guaranteed: with >= 2 distinct values
  * in [lo,hi], lo routes to bucket 0 and hi to bucket bins-1, so every
  * round strictly shrinks either the range or the survivor count.
  */
object ExactQuantile {

  private def bucketOf(lo: Double, hi: Double, bins: Int) =
    least(
      floor((col("_v") - lit(lo)) / lit(hi - lo) * lit(bins.toDouble))
        .cast(LongType),
      lit(bins - 1L))

  /** (n, lo, hi) of the survivor frame — one aggregate, one driver row. */
  private def stats(cur: DataFrame): (Long, Double, Double) = {
    val s = cur.agg(count(lit(1)).as("n"), min(col("_v")).as("lo"),
      max(col("_v")).as("hi")).head()
    if (s.getLong(0) == 0L) (0L, 0.0, 0.0)
    else (s.getLong(0), s.getDouble(1), s.getDouble(2))
  }

  /** <= bins rows on the driver: (bucket, count), bucket-ascending. */
  private def histogram(cur: DataFrame, lo: Double, hi: Double,
      bins: Int): Array[(Long, Long)] =
    cur.groupBy(bucketOf(lo, hi, bins).as("_b")).agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)

  /** Bucket holding rank `k` plus the count strictly below it. */
  private def locate(hist: Array[(Long, Long)],
      k: Long): (Long, Long) = {
    var below = 0L
    var i = 0
    while (i < hist.length) {
      val (b, cnt) = hist(i)
      if (below + cnt >= k) return (b, below)
      below += cnt
      i += 1
    }
    throw new IllegalArgumentException(
      s"rank $k exceeds survivor count $below")
  }

  /** Direct selection on a small survivor frame: two bounded top-k sorts
    * (take the `rank` smallest, then the largest of those). */
  private def direct(cur: DataFrame, rank: Long): Double =
    cur.orderBy(col("_v").asc).limit(rank.toInt)
      .orderBy(col("_v").desc).limit(1).head().getDouble(0)

  private def kthRec(cur0: DataFrame, rank0: Long, bins: Int,
      directCutoff: Long): Double = {
    var cur = cur0
    var rank = rank0
    var round = 0
    while (true) {
      // with >= 2 distinct finite values in [lo,hi], lo routes to bucket 0
      // and hi to bins-1, so every round strictly narrows; 64 rounds
      // exceed any double range at bins >= 2 — tripping this means the
      // input violated the finite-values contract
      round += 1
      require(round <= 64, "kthSmallest failed to converge (64 rounds)")
      val (n, lo, hi) = stats(cur)
      require(rank <= n, s"rank $rank exceeds remaining count $n")
      if (lo == hi) return lo
      if (n <= directCutoff) return direct(cur, rank)
      val (chosen, below) = locate(histogram(cur, lo, hi, bins), rank)
      rank -= below
      cur = cur.filter(bucketOf(lo, hi, bins) === lit(chosen))
    }
    0.0 // unreachable
  }

  /** Values with no defined-and-safe rank position are excluded, stated in
    * the contract: null and NaN (NaN poisons the bucket arithmetic —
    * (NaN−lo)/width floors to NaN, whose ANSI long cast throws) and ±Inf
    * (an infinite lo/hi makes (v−lo)/(hi−lo) collapse every finite value
    * to one bucket, so the histogram never narrows — an infinite loop
    * instead of a wrong answer). COUNT-over-finite-values semantics. */
  private def finiteVals(df: DataFrame, v: Column): DataFrame =
    df.filter(v.isNotNull && !isnan(v) &&
      abs(v) =!= lit(Double.PositiveInfinity))

  private def cleanVals(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    // NOT rebalanced (r13 negative probe): the narrowing loop re-executes
    // this frame once per round in SEPARATE actions, so a round-robin
    // exchange here is paid per round — re-scanning an under-split small
    // file beats re-shuffling it every round (measured at sf1 min-of-2:
    // q_exact_kth 5.6 → 11.3 s, q_equidepth 7.1 → 13.9 s WITH the
    // rebalance; reverted). Rebalance pays only where the frame feeds a
    // compute-dense kernel under ONE action.
    finiteVals(df, v).select(v.as("_v"))
  }

  /** Heavy-group rows only: one null-safe left_semi against the (few,
    * broadcast) heavy keys. Package-private so the spec can assert the
    * narrowing loop's scan frame really excludes light rows. */
  private[graft] def heavyProjection(vals: DataFrame, heavyKeys: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val cond = groupCols
      .map(c => col(s"_l.$c") <=> col(s"_r.$c")).reduce(_ && _)
    vals.as("_l").join(broadcast(heavyKeys).as("_r"), cond, "left_semi")
  }

  private def checkCutoff(directCutoff: Long): Unit =
    require(directCutoff >= 1 && directCutoff <= Int.MaxValue,
      s"directCutoff must be in [1, Int.MaxValue] (it bounds a limit()): " +
        s"$directCutoff")

  /** The exact k-th smallest (1-based) value of `valueCol`; nulls, NaNs
    * and ±Inf are excluded (see [[finiteVals]]). */
  def kthSmallest(df: DataFrame, valueCol: String, k: Long,
      bins: Int = 256, directCutoff: Long = 20000L): Double = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(bins >= 2, s"bins must be >= 2, got $bins")
    checkCutoff(directCutoff)
    // single-column projection persisted across the narrowing rounds —
    // same rationale as [[kthSmallestMulti]]; released before returning
    // (kthRec is eager)
    val vals = cleanVals(df, valueCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kthRec(vals, k, bins, directCutoff)
    finally vals.unpersist(blocking = false)
  }

  /** EXACT per-group quantile without per-group value maps: Spark's exact
    * `percentile` aggregate materializes a value→count map per group (OOM
    * when a group holds billions of distinct values). Groups are routed
    * by size in one counting pass:
    *
    *  - LIGHT groups (rows ≤ `directCutoff`, i.e. almost all of them —
    *    per-domain percentiles over a crawl have millions of groups, and
    *    by pigeonhole at most totalRows/directCutoff can be heavy) run
    *    fully distributed through ONE sort_array(collect_list) aggregate
    *    — the same shape as Spark's percentile but bounded by the cutoff,
    *    with NO driver state at all.
    *  - HEAVY groups (rows > `directCutoff` — the per-language / per-day
    *    shape where one group holds billions of rows) run the same
    *    histogram narrowing as [[kthSmallest]], all heavy groups at
    *    once — per round ONE aggregate over (group, bucket) with
    *    per-group bounds joined in broadcast. Driver state is
    *    O(heavyGroups·bins), bounded by totalRows/directCutoff — NOT by
    *    the total group count.
    *
    * The quantile is the DISCRETE lower statistic at rank ceil(q·n_g)
    * with q = num/den kept RATIONAL so the rank arithmetic is
    * integer-exact and replays in any engine ((n·num + den − 1) div den).
    * Rows with null group keys form their own group (GROUP BY
    * semantics — null-SAFE joins route them like any other key); null,
    * NaN and ±Inf VALUES are excluded (see [[finiteVals]]).
    * Convergence of the heavy loop: each round divides every unresolved
    * group's candidate range into `bins` buckets and keeps one, so
    * resolution multiplies by ~bins per round; groups whose bucket
    * collapses to a single value resolve immediately (min==max per bucket
    * is collected with the histogram). The last ≤`directCutoff` survivors
    * per group resolve in ONE final collect_list pass. */
  def quantilePerGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, num: Int, den: Int, bins: Int = 64,
      directCutoff: Long = 4096L,
      quantileCol: String = "quantile"): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(num >= 1 && den >= 1 && num <= den,
      s"quantile num/den must satisfy 1 <= num <= den, got $num/$den")
    require(bins >= 2, s"bins must be >= 2, got $bins")
    checkCutoff(directCutoff)
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val gcols = groupCols.map(col)
    val vc = col(valueCol).cast("double")
    // NOT rebalanced — same negative probe as cleanVals: counts, the
    // light aggregate, and the heavy projection consume this frame in
    // separate actions (q_group_median 7.0 → 12.1 s sf1 min-of-2 WITH a
    // rebalance here; reverted)
    val vals = finiteVals(df, vc).select((gcols :+ vc.as("_v")): _*)
    val gSchema = vals.select(gcols: _*).limit(0).schema
    def keyOf(r: Row): Seq[Any] = groupCols.indices.map(r.get)
    // null-SAFE group equi-join conditions throughout: a plain equi-join
    // drops null-keyed groups, which round 0's groupBy keeps — they would
    // then throw at hist(key) (narrowing path) or vanish from the output
    def nullSafeCond: Column = groupCols
      .map(c => col(s"_l.$c") <=> col(s"_r.$c")).reduce(_ && _)

    // round 0: per-group counts — ONE aggregate; only HEAVY groups are
    // collected (≤ totalRows/directCutoff rows by pigeonhole)
    val counts = vals.groupBy(gcols: _*)
      .agg(count(lit(1)).as("_n"), min(col("_v")).as("_lo"),
        max(col("_v")).as("_hi"))
    val heavy = counts.filter(col("_n") > directCutoff).collect()
    val heavyKeys = if (heavy.isEmpty) None else Some(spark.createDataFrame(
      spark.sparkContext.parallelize(
        heavy.map(r => Row.fromSeq(keyOf(r))).toSeq, 1), gSchema))

    // LIGHT path, fully distributed: anti-join the (few, broadcast) heavy
    // keys away, then one bounded collect_list aggregate per group. The
    // rank expression is the same integer-exact ceil; sizes fit an int by
    // the cutoff bound but the multiply is done in bigint.
    val lightVals = heavyKeys.fold(vals)(hk =>
      vals.as("_l").join(broadcast(hk).as("_r"), nullSafeCond, "left_anti"))

    // HEAVY-ROWS PROJECTION, materialized ONCE: each narrowing round and
    // the final direct pass scan ONLY heavy-group rows. Without this, at
    // 100 TB a quantile over a few heavy groups re-reads the whole corpus
    // ~log_bins(range) times just to keep heavy rows; with it the full
    // input is scanned exactly twice (counts + this projection) and every
    // round reads the (persisted, column-pruned) heavy subset.
    val heavyVals = heavyKeys.map(hk => heavyProjection(vals, hk, groupCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    def joinBounds(b: DataFrame): DataFrame = {
      heavyVals.get.as("_l").join(broadcast(b).as("_r"), nullSafeCond)
        .select((groupCols.map(c => col(s"_l.$c")) ++ Seq(col("_v"),
          col("_slo"), col("_shi"), col("_sk"))): _*)
        .filter(col("_v") >= col("_slo") && col("_v") <= col("_shi"))
    }
    val light = lightVals.groupBy(gcols: _*)
      .agg(sort_array(collect_list(col("_v"))).as("_arr"))
      .select((gcols :+ element_at(col("_arr"), greatest(lit(1), expr(
        s"cast((cast(size(_arr) as bigint) * $num + $den - 1) div $den " +
          "as int)"))).as(quantileCol)): _*)

    // HEAVY path: simultaneous histogram narrowing, driver state bounded
    // by the heavy-group count
    var state = Map.empty[Seq[Any], (Double, Double, Long)]
    val ready = scala.collection.mutable.Map[Seq[Any], (Double, Double, Long)]()
    val resolved = scala.collection.mutable.Map[Seq[Any], Double]()
    heavy.foreach { r =>
      val o = groupCols.length
      val n = r.getLong(o); val lo = r.getDouble(o + 1)
      val hi = r.getDouble(o + 2)
      val k = math.max(1L, (n * num + den - 1) / den) // ceil(q*n), exact
      if (lo == hi) resolved(keyOf(r)) = lo
      else state = state + (keyOf(r) -> (lo, hi, k))
    }

    def boundsDf(m: Iterable[(Seq[Any], (Double, Double, Long))]): DataFrame = {
      // Seq[Any] is load-bearing: Seq(lo, hi, k) would trigger Scala's
      // numeric widening (weak conformance) and silently box k as Double,
      // which the LongType row encoder rejects at runtime
      val rows = m.toSeq.map { case (key, (lo, hi, k)) =>
        Row.fromSeq(key ++ Seq[Any](lo, hi, k)) }
      val schema = StructType(gSchema.fields ++ Seq(
        StructField("_slo", DoubleType), StructField("_shi", DoubleType),
        StructField("_sk", org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }

    var guard = 0
    while (state.nonEmpty) {
      guard += 1
      require(guard <= 64, "quantilePerGroup failed to converge (64 rounds)")
      // ONE aggregate for every unresolved group: per-group bounds ride in
      // on a broadcast join; bucket min/max come back with the counts so
      // single-value buckets resolve with no extra pass
      // the range filter is the narrowing: the join brings EVERY row of an
      // unresolved group, and rows outside [slo,shi] would land in
      // negative buckets and corrupt the below-counts
      val joined = joinBounds(boundsDf(state))
      val bucket = least(
        floor((col("_v") - col("_slo")) / (col("_shi") - col("_slo"))
          * lit(bins.toDouble)).cast(LongType),
        lit(bins - 1L))
      val hist = joined
        .groupBy((gcols :+ bucket.as("_b")): _*)
        .agg(count(lit(1)).as("_c"), min(col("_v")).as("_bmin"),
          max(col("_v")).as("_bmax"))
        .collect() // bounded: unresolved groups x bins rows
        .groupBy(keyOf).map { case (key, rs) =>
          val o = groupCols.length
          key -> rs.map(r => (r.getLong(o), r.getLong(o + 1),
            r.getDouble(o + 2), r.getDouble(o + 3))).sortBy(_._1)
        }
      var next = Map.empty[Seq[Any], (Double, Double, Long)]
      state.foreach { case (key, (_, _, k)) =>
        var below = 0L
        var done = false
        hist(key).foreach { case (_, c, bmin, bmax) =>
          if (!done) {
            if (below + c >= k) {
              val rk = k - below
              if (bmin == bmax) resolved(key) = bmin
              else if (c <= directCutoff) ready(key) = (bmin, bmax, rk)
              else next = next + (key -> (bmin, bmax, rk))
              done = true
            } else below += c
          }
        }
        require(done, s"rank $k not found for group $key")
      }
      state = next
    }

    // heavy final pass: every queued group's survivor set fits the
    // cutoff. A bucket's [min,max] range is disjoint from every other
    // bucket's, so the bounds filter recovers exactly that bucket's rows.
    if (ready.nonEmpty) {
      joinBounds(boundsDf(ready))
        .groupBy(gcols: _*)
        .agg(sort_array(collect_list(col("_v"))).as("_arr"),
          first(col("_sk")).as("_k"))
        .select((gcols :+
          element_at(col("_arr"), col("_k").cast("int")).as("_q")): _*)
        .collect()
        .foreach(r => resolved(keyOf(r)) = r.getDouble(groupCols.length))
    }
    // every heavy-path action has run (the loop and final pass are eager
    // collects); the lazily-evaluated light path never reads it
    heavyVals.foreach(_.unpersist(blocking = false))

    val heavyRows = resolved.toSeq.map { case (key, v) =>
      Row.fromSeq(key :+ v) }
    val outSchema = StructType(
      gSchema.fields :+ StructField(quantileCol, DoubleType))
    light.unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(heavyRows, 1), outSchema))
  }



  /** Equi-depth bucketing WITHOUT a sort: cut points are the exact values
    * at ranks ceil(i·n/b) (integer-exact arithmetic — no float rank), found
    * by the shared-pass multi-rank selection; rows get
    * bin = count(cuts strictly below value), a driver-built when-chain over
    * <= b−1 literals (codegen'd, no join). Ties sharing a cut value share a
    * bin, duplicate cut values skip a bin — both deterministic, so the
    * assignment replays exactly in any engine from the same rank spec. The
    * feature-engineering "quantile bucketizer" at 100 TB: O(log) scans for
    * the cuts + one projection pass, vs Spark ML's QuantileDiscretizer
    * (approximate) or a full sort. */
  def equiDepthBucketize(spark: SparkSession, df: DataFrame,
      valueCol: String, b: Int, binCol: String = "bin",
      bins: Int = 256, directCutoff: Long = 20000L): DataFrame = {
    require(b >= 2, s"b must be >= 2, got $b")
    checkCutoff(directCutoff)
    val vc = col(valueCol).cast("double")
    val vals = finiteVals(df, vc)
    val n = vals.count()
    require(n >= 1, "input has no non-null, non-NaN values")
    val ranks = (1 until b).map(i => (i.toLong * n + b - 1) / b)
      .filter(_ >= 1).distinct
    // dedupe cut VALUES (distinct ranks can land on equal values in
    // duplicate-heavy data) — double-counting a repeated cut would skip
    // bins differently from the count-distinct-cuts-below spec
    val cuts = kthSmallestMulti(spark, vals, valueCol, ranks, bins,
      directCutoff).collect().map(_.getDouble(1)).distinct.sorted
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col(valueCol) > lit(c), 1).otherwise(0)
    }
    vals.withColumn(binCol, bin.cast(LongType))
  }

  /** Exact values at several ranks with the expensive first rounds SHARED:
    * one stats pass + one full-data histogram serve every rank; ranks that
    * land in the same bucket keep sharing the narrowed frame. Returns
    * (k, value) rows. This is the scale shape — p25/p50/p75/p99 of 100 TB
    * cost one extra filtered scan each beyond the shared first pass, not a
    * private narrowing cascade per rank. */
  def kthSmallestMulti(spark: SparkSession, df: DataFrame, valueCol: String,
      ks: Seq[Long], bins: Int = 256,
      directCutoff: Long = 20000L): DataFrame = {
    import spark.implicits._
    require(ks.nonEmpty, "ks must be non-empty")
    require(ks.forall(_ >= 1), s"all ranks must be >= 1, got $ks")
    checkCutoff(directCutoff)
    // the VALUES PROJECTION is materialized once (MEMORY_AND_DISK — a
    // single double column, so it spills rather than evicts): the shared
    // stats pass, the shared histogram, and every rank's private
    // narrowing rounds otherwise EACH re-read the source — at 100 TB,
    // multi-rank selection over a wide table would re-scan the corpus
    // O(ranks·log) times for one column. Results are computed eagerly
    // below, so the cache is released before returning.
    val vals = cleanVals(df, valueCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sorted = ks.distinct.sorted
      val (n, lo, hi) = stats(vals)
      require(sorted.last <= n, s"rank ${sorted.last} exceeds count $n")
      val results: Seq[(Long, Double)] =
        if (lo == hi) sorted.map(_ -> lo)
        else if (n <= directCutoff) sorted.map(k => k -> direct(vals, k))
        else {
          val hist = histogram(vals, lo, hi, bins)
          sorted.map(k => (k, locate(hist, k)))
            .groupBy { case (_, (bucket, _)) => bucket }
            .toSeq
            .flatMap { case (bucket, group) =>
              val narrowed = vals.filter(bucketOf(lo, hi, bins) === lit(bucket))
              group.map { case (k, (_, below)) =>
                k -> kthRec(narrowed, k - below, bins, directCutoff)
              }
            }
        }
      results.sortBy(_._1).toDF("k", "value")
    } finally vals.unpersist(blocking = false)
  }
}
