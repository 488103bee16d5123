package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus snapshot comparison — the "what changed between crawl N and
  * crawl N+1" report that drives incremental training-data refreshes
  * (re-embed only `changed`, retire `removed`, dedup-check only `added`).
  * Complements `Dedup.ExactDedup.incremental` (which deduplicates the new
  * batch) by CLASSIFYING instead of filtering.
  *
  * Scale shape: each side is reduced to (id, content-md5) — a pure
  * projection — before the full-outer join, so only 16-byte hashes cross
  * the one shuffle on the uniform id key; document bodies never move. */
object SnapshotDiff {

  /** One row per document id present in either snapshot:
    * `status ∈ {added, removed, changed, unchanged}` by content hash.
    * Presence is tracked with explicit flags, NOT hash nullness — a doc
    * whose content is NULL still EXISTS in its snapshot (md5(NULL) is
    * NULL, which would otherwise masquerade as absence), and two null
    * contents compare as unchanged via the null-safe equality. */
  def diff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    diffBy(oldDf, newDf, idCol, md5(col(contentCol).cast(StringType)))

  private def diffBy(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      hash: Column): DataFrame = {
    val o = oldDf.select(col(idCol).as(idCol), hash.as("_old_hash"),
      lit(true).as("_in_old"))
    val n = newDf.select(col(idCol).as(idCol), hash.as("_new_hash"),
      lit(true).as("_in_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(col("_old_hash") <=> col("_new_hash"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** The four status counts — the one-line drift report. */
  def summary(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    diff(oldDf, newDf, idCol, contentCol)
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))

  /** Apply a CDC changes batch to a base table — MERGE semantics without a
    * table format: `opCol ∈ {upsert, delete}`; an upsert replaces the base
    * row (or inserts a new one), a delete removes it, untouched base rows
    * pass through. Exactly one change per id (enforce upstream with
    * `ExactDedup.incremental`-style keep-last if the feed has dups —
    * duplicated change ids would fan the join out).
    *
    * One full-outer join on the uniform id key; both sides carry their
    * payload columns once — no second scan, no window. */
  def applyChanges(base: DataFrame, changes: DataFrame, idCol: String,
      opCol: String): DataFrame = {
    val payload = base.columns.filterNot(_ == idCol)
    require(changes.columns.contains(opCol), s"changes needs $opCol")
    val b = payload.foldLeft(base)((d, c) =>
      d.withColumnRenamed(c, s"_b_$c"))
    val ch = payload.foldLeft(changes)((d, c) =>
      d.withColumnRenamed(c, s"_c_$c"))
    b.join(ch, Seq(idCol), "full_outer")
      .filter(col(opCol).isNull || col(opCol) =!= "delete")
      .select(col(idCol) +: payload.map(c =>
        when(col(opCol) === "upsert", col(s"_c_$c"))
          .otherwise(col(s"_b_$c")).as(c)): _*)
  }
}

/** Token-level drift for documents [[SnapshotDiff.diff]] marks `changed`:
  * HOW different is the new text, not just that it differs. Word-set
  * Jaccard per changed doc — near 1.0 means a template tweak (keep the
  * embedding, skip re-annotation), near 0.0 means a rewrite (full
  * re-process). Ids reduce to (id, hash) before any join; word sets
  * explode ONLY for the changed slice, so cost tracks churn, not corpus
  * size. */
object ContentDrift {
  def changedJaccard(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String, scale: Int = 4): DataFrame = {
    def words(df: DataFrame) = df.select(col(idCol),
      explode(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")),
        " ")).as("_w")).distinct()
    val changed = oldDf
      .select(col(idCol), md5(col(textCol)).as("_oh"))
      .join(newDf.select(col(idCol), md5(col(textCol)).as("_nh")),
        Seq(idCol))
      .filter(col("_oh") =!= col("_nh"))
      .select(col(idCol))
    val ow = words(oldDf.join(changed, Seq(idCol)))
    val nw = words(newDf.join(changed, Seq(idCol)))
    val no = ow.groupBy(col(idCol)).agg(count(lit(1)).as("n_old"))
    val nn = nw.groupBy(col(idCol)).agg(count(lit(1)).as("n_new"))
    val ni = ow.join(nw, Seq(idCol, "_w"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    no.join(nn, Seq(idCol))
      .join(ni, Seq(idCol), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col(idCol), col("n_old"), col("n_new"), col("n_shared"),
        graft.core.Semantics.safeRound(
          col("n_shared").cast(DoubleType) /
            (col("n_old") + col("n_new") - col("n_shared"))
              .cast(DoubleType), scale).as("jaccard"))
  }
}

/** Schema drift between two ingest batches — the metadata face of
  * [[SnapshotDiff]]: which columns appeared, vanished, or changed type.
  * Pure driver-side schema comparison (schemas are bounded metadata); the
  * report frame is for joining into run logs. */
object SchemaDrift {
  def diff(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val o = oldDf.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val n = newDf.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (n.keySet -- o.keySet).toSeq.sorted.map(c =>
        (c, "added", null: String, n(c))) ++
      (o.keySet -- n.keySet).toSeq.sorted.map(c =>
        (c, "removed", o(c), null: String)) ++
      (o.keySet & n.keySet).toSeq.sorted.collect {
        case c if o(c) != n(c) => (c, "type_changed", o(c), n(c))
      }
    val spark = oldDf.sparkSession
    import spark.implicits._
    rows.toDF("column", "status", "old_type", "new_type")
  }
}
