package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Semantics.asNumeric

/** Aggregator (`/root/reference/src/transformers/enrichers/aggregator.py`,
  * 321 LoC): SQL GROUP BY with a multi-output agg spec and the reference's
  * exact null/type semantics (SURVEY §2.5 table):
  *
  *  - sum:   over numeric non-null values; 0 if none
  *  - avg/min/max: over numeric non-null only (non-numeric strings skipped);
  *           null if none
  *  - count: ALL rows including nulls (COUNT(*), not COUNT(col))
  *  - count_distinct: distinct over str(v) of non-null values
  *  - first/last: first/last in input order (may be null)
  *  - concat: ", ".join(str(v)) of non-null, input order
  *  - list:  collect of non-null values, input order
  *
  * Order-sensitive fns (first/last/concat/list) need a stable row order that
  * survives the shuffle — callers thread a rowId column captured at scan time
  * (SURVEY §7.4.1); we sort collected (rowId, value) structs inside each
  * group, which keeps the aggregation a single hash-agg with map-side
  * partials (no global sort, no window).
  */
object Aggregator {
  final case class AggSpec(out: String, field: String, fn: String)

  /** rowId for order-sensitive semantics: capture BEFORE any shuffle. */
  def withRowId(df: DataFrame, idCol: String = "_row_id"): DataFrame =
    df.withColumn(idCol, monotonically_increasing_id())

  def expr(spec: AggSpec, rowId: String): Column = {
    val v = col(spec.field)
    val num = asNumeric(v)
    spec.fn match {
      // decimal accumulation: associative → partial-agg order can't change
      // the result (cross-engine deterministic, SURVEY §7.4.3)
      case "sum" =>
        coalesce(graft.functions.Dec128.sumExact(num).cast(DoubleType),
          lit(0.0)).as(spec.out)
      case "avg" =>
        (graft.functions.Dec128.sumExact(num).cast(DoubleType) / count(num))
          .as(spec.out)
      case "min" => min(num).as(spec.out)
      case "max" => max(num).as(spec.out)
      case "count" => count(lit(1)).as(spec.out)
      case "count_distinct" =>
        countDistinct(when(v.isNotNull, v.cast(StringType))).as(spec.out)
      case "first" =>
        min_by(v, col(rowId)).as(spec.out)
      case "last" =>
        max_by(v, col(rowId)).as(spec.out)
      case "concat" =>
        array_join(
          transform(
            array_sort(collect_list(when(v.isNotNull,
              struct(col(rowId).as("i"), v.cast(StringType).as("v"))))),
            _.getField("v")),
          ", ").as(spec.out)
      case "list" =>
        transform(
          array_sort(collect_list(when(v.isNotNull,
            struct(col(rowId).as("i"), v.as("v"))))),
          _.getField("v")).as(spec.out)
      case other => throw new IllegalArgumentException(s"unknown agg fn $other")
    }
  }

  /** groupBy + agg; one shuffle on the group keys, partial aggregation free
    * via Catalyst. `keepGroupFields` mirrors aggregator.py:55,189-193. */
  def aggregate(df: DataFrame, groupBy: Seq[String], specs: Seq[AggSpec],
      rowId: String = "_row_id", keepGroupFields: Boolean = true): DataFrame = {
    val withId = if (df.columns.contains(rowId)) df else withRowId(df, rowId)
    val exprs = specs.map(expr(_, rowId))
    val out =
      if (groupBy.isEmpty) withId.agg(exprs.head, exprs.tail: _*)
      else withId.groupBy(groupBy.map(col): _*).agg(exprs.head, exprs.tail: _*)
    if (keepGroupFields || groupBy.isEmpty) out
    else out.drop(groupBy.toIndexedSeq: _*)
  }
}

/** DashboardAggregator (`src/transformers/exporters/dashboard_aggregator.py`,
  * 349 LoC): the fixed 4-view aggregation exporter. Column auto-detection by
  * keyword (`:64-79`); the by-provider view contains the repo's only join —
  * a left merge of mean quality score (`:203-210`) which we broadcast (tiny
  * right side: one row per provider). */
object DashboardAggregator {
  def findColumn(columns: Seq[String], keywords: Seq[String]): Option[String] =
    columns.find(c => keywords.exists(k => c.toLowerCase.contains(k)))

  val amountKeywords = Seq("billed", "amount", "cost", "price", "charge", "total", "pay")
  val providerKeywords = Seq("prov", "provider", "npi", "physician", "supplier")
  val diagnosisKeywords = Seq("dx", "diagnosis", "icd", "code", "category")
  val dateKeywords = Seq("service_date", "date", "dos", "time")

  /** 1-row overall summary (dashboard_aggregator.py:126-162). */
  def summary(df: DataFrame, amount: String, qualityCol: Option[String] = None): DataFrame = {
    import graft.core.Semantics.{exactAvg, exactSum}
    val a = col(amount)
    val base = Seq(
      count(lit(1)).as("record_count"),
      exactSum(a).as("total_amount"),
      exactAvg(a).as("mean_amount"),
      min(a).cast(DoubleType).as("min_amount"),
      max(a).cast(DoubleType).as("max_amount"))
    val withQ = qualityCol.fold(base)(q => base :+
      exactAvg(col(q)).as("mean_quality_score") :+
      sum(when(col("_meta_is_anomaly"), 1L).otherwise(0L)).as("anomaly_count"))
    df.agg(withQ.head, withQ.tail: _*)
  }

  /** By-provider view + left-join of mean quality (the repo's only join).
    * Right side is an aggregate with one row per provider — broadcast it so
    * the join is shuffle-free at any scale. */
  def byProvider(df: DataFrame, provider: String, amount: String,
      qualityCol: Option[String]): DataFrame = {
    import graft.core.Semantics.{exactAvg, exactSum}
    val agg = df.groupBy(col(provider)).agg(
      count(lit(1)).as("record_count"),
      exactSum(col(amount)).as("total_amount"),
      exactAvg(col(amount)).as("mean_amount"),
      min(col(amount)).cast(DoubleType).as("min_amount"),
      max(col(amount)).cast(DoubleType).as("max_amount"))
    val joined = qualityCol match {
      case Some(q) =>
        val quality = df.groupBy(col(provider))
          .agg(exactAvg(col(q)).as("mean_quality_score"))
        agg.join(broadcast(quality), Seq(provider), "left")
      case None => agg
    }
    joined.orderBy(col("total_amount").desc, col(provider).asc)
  }

  /** By-diagnosis view (dashboard_aggregator.py:225-272). */
  def byCategory(df: DataFrame, category: String, amount: String): DataFrame = {
    import graft.core.Semantics.{exactAvg, exactSum}
    df.groupBy(col(category)).agg(
        count(lit(1)).as("record_count"),
        exactSum(col(amount)).as("total_amount"),
        exactAvg(col(amount)).as("mean_amount"))
      .orderBy(col("record_count").desc, col(category).asc)
  }

  /** By-date view (dashboard_aggregator.py:274-334): coerce to date, drop
    * invalid, truncate, aggregate, sort ascending. */
  def byDate(df: DataFrame, dateCol: String, amount: String): DataFrame = {
    import graft.core.Semantics.{exactAvg, exactSum}
    df.withColumn("_d", to_date(col(dateCol)))
      .filter(col("_d").isNotNull)
      .groupBy(col("_d").as("service_date"))
      .agg(
        count(lit(1)).as("record_count"),
        exactSum(col(amount)).as("total_amount"),
        exactAvg(col(amount)).as("mean_amount"))
      .orderBy(col("service_date").asc)
  }
}
