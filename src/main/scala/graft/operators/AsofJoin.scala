package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal) join: for each left row, attach the most recent right row
  * at or before (backward) the left row's time, per key — the standard
  * event/state alignment primitive the reference lacks (its only join is the
  * dashboard left merge). Composed from built-in operators per the
  * extension-preference order (SURVEY §7.3): no custom physical plan needed
  * because union + window expresses the semantics exactly.
  *
  * Physical shape — the reason this scales where the naive forms don't:
  *   - naive range join (`l JOIN r ON l.key = r.key AND r.ts <= l.ts` + argmax)
  *     explodes to |matches| rows per left row before pruning: quadratic per
  *     key at 100 TB.
  *   - this construction UNIONs the two sides (a zero-shuffle concat), then
  *     one hash shuffle on the key and one in-partition sort by (ts, side)
  *     drive a running `last(right_payload, ignoreNulls)` window — each row
  *     is touched once, so cost is sort-merge-like: O(n log n) per key,
  *     linear memory, no row amplification.
  *   - skewed keys degrade to a single partition's sort (same bound as any
  *     sort-merge join); range-repartition by (key, ts) with boundary overlap
  *     is the known refinement if one key exceeds a partition.
  *
  * Semantics notes:
  *   - `strict = false` (default): right rows at exactly left's ts match
  *     (DuckDB `ASOF JOIN ... ON l.ts >= r.ts`).
  *   - `strict = true`: only strictly-earlier right rows match
  *     (`l.ts > r.ts`).
  *   - Left rows with no prior right row get nulls (left-outer behavior).
  *   - Right side should be unique per (keys, ts); duplicates resolve to an
  *     arbitrary single row (make it deterministic by pre-aggregating, as
  *     q_asof_join does).
  *   - Column names of `right` (minus keys) must not collide with `left`'s —
  *     rename before calling.
  */
object AsofJoin {

  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, strict: Boolean = false): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightPayload = right.columns.toSeq.filterNot(keys.contains)
    val collisions = rightPayload.toSet intersect leftCols.toSet
    require(collisions.isEmpty,
      s"right payload columns collide with left: $collisions — rename first")

    // side ordering encodes the boundary rule: at equal ts the right row must
    // sort BEFORE the left row to be visible (inclusive) or AFTER (strict)
    val (rightSide, leftSide) = if (strict) (1, 0) else (0, 1)
    val lPart = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("_asof_ts"), lit(leftSide).as("_asof_side"),
        struct(leftCols.map(col): _*).as("_asof_l")): _*)
    val rPart = right.select(
      keys.map(col) ++ Seq(
        col(rightTs).as("_asof_ts"), lit(rightSide).as("_asof_side"),
        struct(rightPayload.map(col): _*).as("_asof_r")): _*)
    // unionByName with null-fill gives each side the other's struct as null
    val unioned = lPart.unionByName(rPart, allowMissingColumns = true)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_asof_ts").asc, col("_asof_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("_asof_m", last(col("_asof_r"), ignoreNulls = true).over(w))
      .filter(col("_asof_l").isNotNull)
    matched.select(
      leftCols.map(c => col(s"_asof_l.$c").as(c)) ++
        rightPayload.map(c => col(s"_asof_m.$c").as(c)): _*)
  }

  /** [[backward]] with a staleness bound (pandas `merge_asof(tolerance)`):
    * a match older than `tolerance` before the left row's time is nulled
    * out — "the last quote, but only if it's fresh". Same single-window
    * plan; the bound is one codegen'd comparison applied AFTER the join,
    * so it adds no shuffle. `tolerance` is any SQL interval string. */
  def backwardWithin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, tolerance: String,
      strict: Boolean = false): DataFrame = {
    val joined = backward(left, right, keys, leftTs, rightTs, strict)
    val rightPayload = right.columns.toSeq.filterNot(keys.contains)
    require(rightPayload.contains(rightTs),
      s"tolerance needs the right time column '$rightTs' in the payload")
    val stale = col(rightTs).isNull ||
      col(rightTs).cast("timestamp") <
        col(leftTs).cast("timestamp") - expr(s"INTERVAL $tolerance")
    val flagged = joined.withColumn("_asof_stale", stale)
    rightPayload.foldLeft(flagged) { (df, c) =>
      df.withColumn(c, when(col("_asof_stale"), lit(null)).otherwise(col(c)))
    }.drop("_asof_stale")
  }

  /** Forward as-of: earliest right row at or after left's ts. Same plan shape
    * with the window running from the end. */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, strict: Boolean = false): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightPayload = right.columns.toSeq.filterNot(keys.contains)
    val collisions = rightPayload.toSet intersect leftCols.toSet
    require(collisions.isEmpty,
      s"right payload columns collide with left: $collisions — rename first")
    val (rightSide, leftSide) = if (strict) (0, 1) else (1, 0)
    val lPart = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("_asof_ts"), lit(leftSide).as("_asof_side"),
        struct(leftCols.map(col): _*).as("_asof_l")): _*)
    val rPart = right.select(
      keys.map(col) ++ Seq(
        col(rightTs).as("_asof_ts"), lit(rightSide).as("_asof_side"),
        struct(rightPayload.map(col): _*).as("_asof_r")): _*)
    val unioned = lPart.unionByName(rPart, allowMissingColumns = true)
    // REVERSED sort + running unbounded-preceding frame, not a FOLLOWING
    // frame: Spark evaluates only prefix-to-current frames incrementally;
    // an UNBOUNDED FOLLOWING frame re-aggregates the tail at every row —
    // O(n²) per key (the q_interpolate bench regression, same class).
    // `last` over the reverse order ≡ `first` over the forward order.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_asof_ts").desc, col("_asof_side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("_asof_m", last(col("_asof_r"), ignoreNulls = true).over(w))
      .filter(col("_asof_l").isNotNull)
    matched.select(
      leftCols.map(c => col(s"_asof_l.$c").as(c)) ++
        rightPayload.map(c => col(s"_asof_m.$c").as(c)): _*)
  }

  /** Nearest as-of: for each left row, whichever of the backward and
    * forward matches is closer in time (ties go backward) — sensor/event
    * alignment when "most recent" is the wrong default. Composes the two
    * directional joins (each the linear union+window construction; the
    * left frame rides through both), so cost is two keyed window passes,
    * still no range cross product. Output = left columns + the chosen
    * right payload under its original names + `asof_dir`
    * ('b'/'f'/null). */
  def nearest(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String,
      strict: Boolean = false): DataFrame = {
    val rightPayload = right.columns.toSeq.filterNot(keys.contains)
    def prefixed(p: String) = right.select(
      keys.map(col) ++ rightPayload.map(c => col(c).as(s"$p$c")): _*)
    val bwd = backward(left, prefixed("_b_"), keys, leftTs,
      s"_b_$rightTs", strict)
    val both = forward(bwd, prefixed("_f_"), keys, leftTs,
      s"_f_$rightTs", strict)
    val bTs = col(s"_b_$rightTs"); val fTs = col(s"_f_$rightTs")
    val lTs = col(leftTs)
    // subtraction works for timestamps (DayTimeInterval) and numerics
    // alike, and intervals compare — no epoch cast needed
    val db = lTs - bTs
    val df = fTs - lTs
    val dir = when(bTs.isNull && fTs.isNull, lit(null).cast("string"))
      .when(fTs.isNull, "b").when(bTs.isNull, "f")
      .when(db <= df, "b").otherwise("f")
    val withDir = both.withColumn("asof_dir", dir)
    withDir.select(
      left.columns.toSeq.map(col) ++
        rightPayload.map(c =>
          when(col("asof_dir") === "b", col(s"_b_$c"))
            .when(col("asof_dir") === "f", col(s"_f_$c"))
            .as(c)) :+
        col("asof_dir"): _*)
  }
}
