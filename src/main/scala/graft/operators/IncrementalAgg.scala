package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental keyed aggregation: a persisted (key, n, total) state table
  * folded forward one ingest batch at a time — the nightly-rollup shape
  * that NEVER rescans history. Each update aggregates only the new batch
  * (decimal-exact totals, so merge order can't drift the result) and
  * re-aggregates state ∪ partial on the key — cost tracks batch size plus
  * state cardinality, not corpus size. Count/sum are commutative monoids,
  * so any batch slicing converges to the full-rescan answer (the law the
  * gate proves: two-step fold == one global aggregate). Pair with
  * mergeable sketches ([[graft.functions.Sketches]]) for distinct/quantile
  * state. */
object IncrementalAgg {

  def update(state: Option[DataFrame], batch: DataFrame,
      keyCols: Seq[String], valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val partial = batch.groupBy(keyCols.map(col): _*)
      .agg(count(col(valueCol)).as("n"),
        graft.functions.Dec128.sumExact(col(valueCol)).as("total"))
    state match {
      case None => partial
      case Some(st) =>
        st.select((keyCols.map(col) :+ col("n") :+ col("total")): _*)
          .unionByName(partial)
          .groupBy(keyCols.map(col): _*)
          .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
    }
  }

  /** CDC fold: one batch of inserts AND deletes applied to the same
    * (key, n, total) state. Count/sum form a group, not just a monoid —
    * deletes are exact inverses — so retraction is one union of three
    * state-sized frames and a re-aggregate, still never rescanning
    * history; groups whose non-null count reaches zero vanish (what a
    * recompute would say). Deletes must be actual prior rows (the
    * standard CDC contract — pair with
    * [[SnapshotDiff.applyChanges]] upstream for row materialization);
    * exact decimal totals make insert-then-retract restore the state
    * bit-identically (the spec law). min/max extrema are NOT invertible
    * under deletes — keep them out of retractable state and rebuild on a
    * tolerable cadence. */
  /** The incremental-refresh recipe in one call: diff the new corpus
    * snapshot against the old ([[SnapshotDiff]]), turn the classification
    * into a CDC batch (changed = delete old row + insert new row), fold it
    * into `state` (the per-key aggregate of the OLD snapshot). Refresh
    * cost tracks the churn — diff slice plus state frame — never the
    * corpus, and the result equals a full recompute over the new snapshot
    * exactly (the law the q_incremental_refresh gate pins). */
  def refreshFromSnapshots(state: DataFrame, oldSnap: DataFrame,
      newSnap: DataFrame, idCol: String, contentCol: String,
      keyCols: Seq[String], valueCol: String): DataFrame = {
    val diff = SnapshotDiff.diff(oldSnap, newSnap, idCol, contentCol)
    val dels = oldSnap.join(
      diff.filter(col("status").isin("removed", "changed")).select(idCol),
      Seq(idCol), "left_semi")
    val ins = newSnap.join(
      diff.filter(col("status").isin("added", "changed")).select(idCol),
      Seq(idCol), "left_semi")
    updateCdc(state, ins, dels, keyCols, valueCol)
  }

  def updateCdc(state: DataFrame, inserts: DataFrame, deletes: DataFrame,
      keyCols: Seq[String], valueCol: String): DataFrame = {
    val ins = update(None, inserts, keyCols, valueCol)
    val del = update(None, deletes, keyCols, valueCol)
      .select(keyCols.map(col) ++ Seq(
        (-col("n")).as("n"), (-col("total")).as("total")): _*)
    state.select((keyCols.map(col) :+ col("n") :+ col("total")): _*)
      .unionByName(ins).unionByName(del)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      .filter(col("n") > 0)
  }
}
