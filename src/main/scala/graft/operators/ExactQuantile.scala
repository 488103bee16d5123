package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  LongType, StructField, StructType}

/** EXACT order statistics without a global sort — the 100 TB answer to
  * "what is the true median". A full sort of 100 TB is a cluster-wide
  * range shuffle; Spark's exact `percentile` aggregate materializes a
  * value→count map per group (OOM at high value cardinality); sketches
  * (approx_percentile, KLL) are approximate by design. Iterative histogram
  * narrowing gets the EXACT k-th smallest in O(log_bins(range)) full scans
  * with O(bins) driver state per round: histogram the candidate range,
  * walk the (bounded, collected) bin counts to find the bin holding rank
  * k, restrict to that bin, repeat until the survivor set fits a direct
  * top-k. Two or three scans at any scale — each a range join against
  * per-group bounds + one codegen'd aggregate, no shuffle wider than
  * `bins` rows per group.
  *
  * Every public entry point runs the one loop in [[selectRanks]]:
  * [[quantilePerGroup]] over the caller's groups, [[kthSmallestMulti]]
  * and [[equiDepthBucketize]] over one group holding the whole column.
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

  /** Values with no defined-and-safe rank position are excluded, stated in
    * the contract: null and NaN (NaN poisons the bucket arithmetic —
    * (NaN−lo)/width floors to NaN, whose ANSI long cast throws) and ±Inf
    * (an infinite lo/hi makes (v−lo)/(hi−lo) collapse every finite value
    * to one bucket, so the histogram never narrows — an infinite loop
    * instead of a wrong answer). COUNT-over-finite-values semantics. */
  private def finiteVals(df: DataFrame, v: Column): DataFrame =
    df.filter(v.isNotNull && !isnan(v) &&
      abs(v) =!= lit(Double.PositiveInfinity))

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

  /** One heavy group's open value range [lo, hi] and the ranks still to
    * find in it, each as (rank in the group, rank within the range). */
  private final case class Cell(key: Seq[Any], n: Long, lo: Double,
      hi: Double, ranks: Seq[(Long, Long)])

  /** The one rank-selection loop: for every group of `vals` (the group
    * columns plus a finite double `_v`), the values at the 1-based ranks
    * that `ranks` — a SQL expression over the group's bigint size `_n`
    * giving an array<bigint> of distinct ranks — names. Groups are routed
    * by size in one counting pass:
    *
    *  - LIGHT groups (rows ≤ `directCutoff`, i.e. almost all of them —
    *    per-domain percentiles over a crawl have millions of groups, and
    *    by pigeonhole at most totalRows/directCutoff can be heavy) run
    *    fully distributed through ONE sort_array(collect_list) aggregate
    *    — the same shape as Spark's percentile but bounded by the cutoff,
    *    with NO driver state at all.
    *  - HEAVY groups (rows > `directCutoff` — the per-language / per-day
    *    shape where one group holds billions of rows) narrow all at once:
    *    per round ONE aggregate over (cell, bucket) with every open cell's
    *    bounds joined in broadcast. Ranks of one group that land in one
    *    bucket share that bucket's cell. Driver state is
    *    O(heavyGroups·ranks·bins), bounded by totalRows/directCutoff — NOT
    *    by the total group count.
    *
    * Rows with null group keys form their own group (GROUP BY semantics —
    * null-SAFE joins route them like any other key). Convergence of the
    * heavy loop: each round divides every open cell's range into `bins`
    * buckets and keeps the ones holding its ranks, so resolution
    * multiplies by ~bins per round; a bucket that holds a single value
    * resolves at once (min==max per bucket is collected with the
    * histogram). The last ≤`directCutoff` survivors per cell resolve in ONE
    * final collect_list pass.
    *
    * Returns (light, heavy): the light groups' rows as a lazy frame and
    * the heavy groups' rows already computed, both (groupCols…, _n, _k,
    * _v), one per rank; `_v` is null for a rank above `_n`. */
  private def selectRanks(vals: DataFrame, groupCols: Seq[String],
      ranks: String, bins: Int, directCutoff: Long): (DataFrame, Seq[Row]) = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    checkCutoff(directCutoff)
    val spark = vals.sparkSession
    val gcols = groupCols.map(col)
    val gSchema = vals.select(gcols: _*).limit(0).schema
    def keyOf(r: Row): Seq[Any] = groupCols.indices.map(r.get)
    // null-SAFE group equi-join conditions throughout: a plain equi-join
    // drops null-keyed groups, which round 0's groupBy keeps — they would
    // then vanish from the narrowing rounds or the output
    def nullSafeCond: Column = groupCols
      .map(c => col(s"_l.$c") <=> col(s"_r.$c")).reduce(_ && _)

    // round 0: per-group counts and bounds — ONE aggregate; only HEAVY
    // groups are collected (≤ totalRows/directCutoff rows by pigeonhole),
    // each with its ranks
    val heavy = vals.groupBy(gcols: _*)
      .agg(count(lit(1)).as("_n"), min(col("_v")).as("_lo"),
        max(col("_v")).as("_hi"))
      .filter(col("_n") > directCutoff)
      .select((gcols ++ Seq(col("_n"), col("_lo"), col("_hi"),
        expr(ranks).as("_ks"))): _*)
      .collect()
    val heavyKeys = if (heavy.isEmpty) None else Some(spark.createDataFrame(
      spark.sparkContext.parallelize(
        heavy.map(r => Row.fromSeq(keyOf(r))).toSeq, 1), gSchema))

    // LIGHT path, fully distributed: anti-join the (few, broadcast) heavy
    // keys away, then one bounded collect_list aggregate per group; the
    // guard keeps element_at inside the array (ANSI throws past its end)
    val light = heavyKeys.fold(vals)(hk =>
        vals.as("_l").join(broadcast(hk).as("_r"), nullSafeCond, "left_anti"))
      .groupBy(gcols: _*)
      .agg(sort_array(collect_list(col("_v"))).as("_arr"))
      .withColumn("_n", size(col("_arr")).cast(LongType))
      .select((gcols ++ Seq(col("_n"), explode(expr(ranks)).as("_k"),
        col("_arr"))): _*)
      .select((gcols ++ Seq(col("_n"), col("_k"), when(col("_k") <= col("_n"),
        element_at(col("_arr"), col("_k").cast(IntegerType))).as("_v"))): _*)

    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    // Seq[Any] is load-bearing: Seq(n, k, v) would trigger Scala's numeric
    // widening (weak conformance) and silently box n and k as Double,
    // which the LongType row encoder rejects at runtime
    def emit(c: Cell, k: Long, v: Any): Unit =
      out += Row.fromSeq(c.key ++ Seq[Any](c.n, k, v))
    var cells = heavy.toSeq.flatMap { r =>
      val o = groupCols.length
      val c = Cell(keyOf(r), r.getLong(o), r.getDouble(o + 1),
        r.getDouble(o + 2), Nil)
      val (in, above) = r.getSeq[Long](o + 3).sorted.partition(_ <= c.n)
      above.foreach(emit(c, _, null))
      if (c.lo == c.hi || in.isEmpty) { in.foreach(emit(c, _, c.lo)); None }
      else Some(c.copy(ranks = in.map(k => (k, k))))
    }

    // HEAVY-ROWS PROJECTION, materialized ONCE: each narrowing round and
    // the final direct pass scan ONLY heavy-group rows. Without this, at
    // 100 TB a quantile over a few heavy groups re-reads the whole corpus
    // ~log_bins(range) times just to keep heavy rows; with it the full
    // input is scanned exactly twice (counts + this projection) and every
    // round reads the (persisted, column-pruned) heavy subset.
    val heavyVals = heavyKeys.map(hk => heavyProjection(vals, hk, groupCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val boundsSchema = StructType(gSchema.fields ++ Seq(
      StructField("_cell", IntegerType), StructField("_slo", DoubleType),
      StructField("_shi", DoubleType),
      StructField("_ks", ArrayType(LongType))))
    // every row of a cell's range, tagged with the cell. One group's cells
    // hold disjoint ranges, so a row lands in at most one; rows outside
    // every range would land in negative buckets and corrupt the counts
    def joinBounds(cs: Seq[Cell]): DataFrame = {
      val rows = cs.zipWithIndex.map { case (c, i) =>
        Row.fromSeq(c.key ++ Seq[Any](i, c.lo, c.hi, c.ranks.map(_._2))) }
      val bounds = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), boundsSchema)
      heavyVals.get.as("_l").join(broadcast(bounds).as("_r"), nullSafeCond)
        .filter(col("_v") >= col("_slo") && col("_v") <= col("_shi"))
    }

    val ready = scala.collection.mutable.ArrayBuffer.empty[Cell]
    var round = 0
    while (cells.nonEmpty) {
      // with >= 2 distinct finite values in [lo,hi], lo routes to bucket 0
      // and hi to bins-1, so every round strictly narrows; 64 rounds
      // exceed any double range at bins >= 2 — tripping this means the
      // input violated the finite-values contract
      round += 1
      require(round <= 64, "rank selection failed to converge (64 rounds)")
      // ONE aggregate for every open cell: bucket min/max come back with
      // the counts so single-value buckets resolve with no extra pass
      val bucket = least(
        floor((col("_v") - col("_slo")) / (col("_shi") - col("_slo"))
          * lit(bins.toDouble)).cast(LongType),
        lit(bins - 1L))
      val hist = joinBounds(cells)
        .groupBy(col("_cell"), bucket.as("_b"))
        .agg(count(lit(1)).as("_c"), min(col("_v")), max(col("_v")))
        .collect() // bounded: open cells x bins rows
        .groupBy(_.getInt(0))
      val next = scala.collection.mutable.ArrayBuffer.empty[Cell]
      cells.zipWithIndex.foreach { case (c, i) =>
        var below = 0L
        var todo = c.ranks
        val buckets = hist.getOrElse(i, Array.empty[Row]).sortBy(_.getLong(1))
        buckets.foreach { r =>
          val cnt = r.getLong(2)
          val (here, rest) = todo.span(_._2 <= below + cnt)
          if (here.nonEmpty) {
            val sub = c.copy(lo = r.getDouble(3), hi = r.getDouble(4),
              ranks = here.map { case (k, rk) => (k, rk - below) })
            if (sub.lo == sub.hi)
              sub.ranks.foreach { case (k, _) => emit(sub, k, sub.lo) }
            else if (cnt <= directCutoff) ready += sub
            else next += sub
          }
          todo = rest
          below += cnt
        }
        require(todo.isEmpty,
          s"ranks ${todo.map(_._1)} not found for group ${c.key}")
      }
      cells = next.toSeq
    }

    // heavy final pass: every ready cell's survivor set fits the cutoff.
    // A bucket's [min,max] range is disjoint from every other bucket's,
    // so the bounds filter recovers exactly that bucket's rows.
    if (ready.nonEmpty) {
      joinBounds(ready.toSeq)
        .groupBy(col("_cell"))
        .agg(sort_array(collect_list(col("_v"))).as("_arr"),
          first(col("_ks")).as("_ks"))
        .select(col("_cell"), transform(col("_ks"),
          k => element_at(col("_arr"), k.cast(IntegerType))))
        .collect()
        .foreach { r =>
          val c = ready(r.getInt(0))
          c.ranks.zip(r.getSeq[Double](1)).foreach { case ((k, _), v) =>
            emit(c, k, v) }
        }
    }
    // every heavy-path action has run (the loop and final pass are eager
    // collects); the lazily-evaluated light path never reads it
    heavyVals.foreach(_.unpersist(blocking = false))
    (light, out.toSeq)
  }

  /** EXACT per-group quantile without per-group value maps: Spark's exact
    * `percentile` aggregate materializes a value→count map per group (OOM
    * when a group holds billions of distinct values); [[selectRanks]]
    * keeps driver state bounded by the heavy-group count.
    *
    * The quantile is the DISCRETE lower statistic at rank ceil(q·n_g)
    * with q = num/den kept RATIONAL so the rank arithmetic is
    * integer-exact and replays in any engine ((n·num + den − 1) div den).
    * Rows with null group keys form their own group; null, NaN and ±Inf
    * VALUES are excluded (see [[finiteVals]]). */
  def quantilePerGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, num: Int, den: Int, bins: Int = 64,
      directCutoff: Long = 4096L,
      quantileCol: String = "quantile"): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(num >= 1 && den >= 1 && num <= den,
      s"quantile num/den must satisfy 1 <= num <= den, got $num/$den")
    val gcols = groupCols.map(col)
    val vc = col(valueCol).cast("double")
    // NOT rebalanced (r13 negative probe): counts, the light aggregate,
    // and the heavy projection consume this frame in separate actions, so
    // a round-robin exchange here is paid per action — q_group_median
    // 7.0 → 12.1 s sf1 min-of-2 WITH a rebalance here; reverted
    val vals = finiteVals(df, vc).select((gcols :+ vc.as("_v")): _*)
    val (light, heavy) = selectRanks(vals, groupCols,
      s"array(greatest(1, (_n * $num + ${den - 1}) div $den))", bins,
      directCutoff)
    val spark = df.sparkSession
    light.unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(heavy, 1), light.schema))
      .select((gcols :+ col("_v").as(quantileCol)): _*)
  }

  /** [[selectRanks]] over one group holding every finite value of
    * `valueCol`: the value count n and the (rank, value) pairs of the
    * ranks ≤ n, rank-ascending. Eager; a light group costs one aggregate,
    * and when the group is heavy the light frame is empty by
    * construction and never runs. */
  private def selectOne(df: DataFrame, valueCol: String, ranks: String,
      bins: Int, directCutoff: Long): (Long, Seq[(Long, Double)]) = {
    val v = col(valueCol).cast("double")
    val (light, heavy) = selectRanks(
      finiteVals(df, v).select(lit(0).as("_g"), v.as("_v")), Seq("_g"),
      ranks, bins, directCutoff)
    val rows = if (heavy.nonEmpty) heavy else light.collect().toSeq
    (rows.headOption.fold(0L)(_.getLong(1)),
      rows.filterNot(_.isNullAt(3)).map(r => r.getLong(2) -> r.getDouble(3))
        .sortBy(_._1))
  }

  /** Equi-depth bucketing WITHOUT a sort: cut points are the exact values
    * at ranks ceil(i·n/b) (integer-exact arithmetic — no float rank), found
    * by the one shared-pass rank selection; rows get
    * bin = count(cuts strictly below value), a driver-built when-chain over
    * <= b−1 literals (codegen'd, no join). Ties sharing a cut value share a
    * bin, duplicate cut values skip a bin — both deterministic, so the
    * assignment replays exactly in any engine from the same rank spec. The
    * feature-engineering "quantile bucketizer" at 100 TB: O(log) scans for
    * the cuts + one projection pass, vs Spark ML's QuantileDiscretizer
    * (approximate) or a full sort. */
  def equiDepthBucketize(df: DataFrame, valueCol: String, b: Int,
      binCol: String = "bin", bins: Int = 256,
      directCutoff: Long = 20000L): DataFrame = {
    require(b >= 2, s"b must be >= 2, got $b")
    val ranks = (1 until b).map(i => s"($i * _n + ${b - 1}) div $b")
    val (n, at) = selectOne(df, valueCol,
      s"array_distinct(array(${ranks.mkString(", ")}))", bins, directCutoff)
    require(n >= 1, "input has no non-null, non-NaN values")
    // dedupe cut VALUES (distinct ranks can land on equal values in
    // duplicate-heavy data) — double-counting a repeated cut would skip
    // bins differently from the count-distinct-cuts-below spec
    val cuts = at.map(_._2).distinct.sorted
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col(valueCol) > lit(c), 1).otherwise(0)
    }
    finiteVals(df, col(valueCol).cast("double"))
      .withColumn(binCol, bin.cast(LongType))
  }

  /** Exact values at several ranks with the expensive rounds SHARED: one
    * count pass and one histogram per round serve every rank; ranks that
    * land in the same bucket keep sharing it. Returns (k, value) rows,
    * k-ascending; nulls, NaNs and ±Inf are excluded (see [[finiteVals]]).
    * This is the scale shape — p25/p50/p75/p99 of 100 TB cost the same
    * rounds as one rank, not a private narrowing cascade per rank. */
  def kthSmallestMulti(df: DataFrame, valueCol: String, ks: Seq[Long],
      bins: Int = 256, directCutoff: Long = 20000L): DataFrame = {
    require(ks.nonEmpty, "ks must be non-empty")
    require(ks.forall(_ >= 1), s"all ranks must be >= 1, got $ks")
    val (n, at) = selectOne(df, valueCol,
      s"array(${ks.distinct.map(k => s"${k}L").mkString(", ")})", bins,
      directCutoff)
    require(ks.max <= n, s"rank ${ks.max} exceeds count $n")
    val spark = df.sparkSession
    import spark.implicits._
    at.toDF("k", "value")
  }
}
