package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The interactive query layer — Spark-native rebuild of the reference's
  * DuckDB service (`/root/reference/src/database/duckdb_service.py`).
  *
  * All four operators compile to single declarative plans: filter → (agg) →
  * sort → limit, which Catalyst turns into pushed-filter parquet scans with
  * partial aggregation. No driver-side row loops anywhere; everything remains
  * an executor-side plan until the caller materializes.
  */
object QueryService {

  /** Filtered aggregation (`duckdb_service.py:327-434`).
    * No-agg fallback = `SELECT * ... LIMIT 1000` like the reference. */
  def query(df: DataFrame, filters: Seq[Filter], spec: AggregationSpec): DataFrame = {
    val filtered = df.filter(Filter.compile(filters))
    if (spec.metrics.isEmpty) filtered.limit(spec.limit.getOrElse(1000))
    else {
      val aggCols = spec.metrics.map(_.toColumn)
      val grouped =
        if (spec.groupBy.isEmpty) filtered.agg(aggCols.head, aggCols.tail: _*)
        else filtered.groupBy(spec.groupBy.map(col): _*)
          .agg(aggCols.head, aggCols.tail: _*)
      // default order: first metric DESC (duckdb_service.py:384-393)
      val (alias, asc) = spec.orderBy.getOrElse((spec.metrics.head.alias, false))
      val ordered = grouped.orderBy(
        (if (asc) col(alias).asc else col(alias).desc) +:
          spec.groupBy.map(col(_).asc): _*) // deterministic tiebreak
      spec.limit.fold(ordered)(ordered.limit)
    }
  }

  /** Drill-down: raw records for dimension=value + filters, projection,
    * LIMIT/OFFSET pagination (`duckdb_service.py:436-505`) over
    * [[drillDownOrdered]]'s order. Spark has native offset (3.4+). */
  def drillDown(df: DataFrame, filters: Seq[Filter], columns: Seq[String],
      sortKey: String, limit: Int = 100, offset: Int = 0): DataFrame =
    drillDownOrdered(df, filters, columns, sortKey).offset(offset).limit(limit)

  /** Drill-down rows in page order: by the sort key, then by every other
    * projected column as a tie-break, so the pages are deterministic even
    * when the key is not unique, and a page sliced from a longer ordered
    * prefix equals the page computed alone. Rows still tied are equal in
    * every orderable column; a column of a type with no order (a map) can
    * break no tie. */
  def drillDownOrdered(df: DataFrame, filters: Seq[Filter], columns: Seq[String],
      sortKey: String): DataFrame = {
    val base = df.filter(Filter.compile(filters))
    val projected = if (columns.isEmpty) base else base.select(columns.map(col): _*)
    val ties = projected.schema.fields.toSeq.collect {
      case f if f.name != sortKey && RowOrdering.isOrderable(f.dataType) =>
        col("`" + f.name.replace("`", "``") + "`")
    }
    projected.orderBy(col(sortKey) +: ties: _*)
  }

  /** Distinct filter-values with optional ILIKE search
    * (`duckdb_service.py:507-562`). */
  def filterValues(df: DataFrame, column: String, search: Option[String] = None,
      limit: Int = 100): DataFrame = {
    val c = col(column)
    val base = df.select(c).where(c.isNotNull)
    val searched = search.fold(base)(s =>
      base.where(lower(c.cast(StringType)).contains(s.toLowerCase)))
    searched.distinct().orderBy(c).limit(limit)
  }

  /** Exact per-column distinct counts as a (column_name, n_distinct) frame,
    * WITHOUT Catalyst's multi-distinct Expand: N `countDistinct`s over
    * different children in one aggregate make the planner expand every
    * input row N ways into an N×-wide shuffle (measured super-linear —
    * 2.6 s → 18.7 s under 10× rows on the profile gate). Instead, project
    * each row to N narrow (column, value) pairs and run two THIN
    * hash aggregations: map-side partial agg collapses duplicate values
    * before the first exchange, so the shuffle carries roughly the
    * distinct-value mass, not N copies of the table.
    *
    * Values compare as strings (one common struct type for the stacked
    * array): Spark's casts are value-injective for the SCALAR profiled
    * types (shortest-round-trip doubles, microsecond timestamps), and
    * ±0.0 — where the string split ("−0.0"/"0.0") diverges from SQL
    * distinct semantics — is pre-normalized for float columns. The cast
    * is NOT injective for complex types (array<string> ["a, b"] and
    * ["a","b"] both render "[a, b]"), so complex-typed columns take a
    * separate exact `countDistinct` aggregate instead — Catalyst's Expand
    * there fans rows only |complexCols| ways, and profiled tables are
    * overwhelmingly scalar, so the stacked fast path keeps the hot cost.
    * Null values are excluded, matching `count(DISTINCT c)`. */
  private[graft] def distinctCounts(df: DataFrame, columns: Seq[String]): DataFrame = {
    val (scalarCols, complexCols) = columns.partition(c =>
      df.schema(c).dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      })
    val complexPart =
      if (complexCols.isEmpty) None
      else {
        // ONE aggregate job, its single row collected and re-emitted as a
        // local relation: unioning N single-column selects of the same agg
        // frame is NOT deduped by Catalyst (identical aggregate subtrees
        // re-plan per union branch), so N complex columns used to cost N
        // full-table distinct aggregates. MapType is unorderable —
        // countDistinct rejects it — so map columns report 0 instead of
        // failing the whole profile pass.
        val (countable, mapCols) = complexCols.partition(c =>
          !df.schema(c).dataType.isInstanceOf[MapType])
        val counted: Seq[(String, Long)] =
          if (countable.isEmpty) Nil
          else {
            val aggs = countable.map(c => countDistinct(col(c)).as(s"${c}__nd"))
            val row = df.agg(aggs.head, aggs.tail: _*).head()
            countable.map(c => c -> row.getAs[Long](s"${c}__nd"))
          }
        val session = df.sparkSession
        import session.implicits._
        // map columns emit NULL, not 0: "uncountable" must stay
        // distinguishable from "zero distinct values" for every consumer
        // (a 0 propagates silently where the old countDistinct failed loudly)
        Some((counted.map { case (c, n) => (c, Option(n)) } ++
            mapCols.map(_ -> Option.empty[Long]))
          .toDF("column_name", "n_distinct"))
      }
    if (scalarCols.isEmpty)
      return complexPart.getOrElse(
        df.sparkSession.emptyDataFrame
          .select(lit("").as("column_name"), lit(0L).as("n_distinct"))
          .limit(0))
    val pairs = scalarCols.map { c =>
      val cc = df.schema(c).dataType match {
        // -0.0 and 0.0 are equal under SQL DISTINCT but not as strings
        case DoubleType | FloatType =>
          when(col(c) === lit(0.0), lit(0.0)).otherwise(col(c))
        case _ => col(c)
      }
      struct(lit(c).as("column_name"), cc.cast(StringType).as("v"))
    }
    val scalarPart = df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.column_name").as("column_name"), col("p.v").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("column_name"), col("v")).agg(count(lit(1)).as("_n"))
      .groupBy(col("column_name")).agg(count(lit(1)).as("n_distinct"))
    complexPart.fold(scalarPart)(scalarPart.unionByName(_))
  }

  /** Per-column profile (`duckdb_service.py:115-253`): numeric min/max/mean/
    * distinct count; returned as one row per column. One aggregate pass for
    * the moments plus one narrow two-phase pass for the exact distinct
    * counts ([[distinctCounts]] — no Expand), regardless of column count. */
  def profileNumeric(df: DataFrame, columns: Seq[String]): DataFrame = {
    import graft.core.Semantics.{exactAvg => eavg}
    val aggs = columns.flatMap { c =>
      Seq(min(col(c)).cast(DoubleType).as(s"${c}__min"),
          max(col(c)).cast(DoubleType).as(s"${c}__max"),
          eavg(col(c)).as(s"${c}__mean"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // unpivot to (column, min, max, mean) — pure plan, no collect
    val stacked = columns.map { c =>
      wide.select(lit(c).as("column_name"),
        col(s"${c}__min").as("min_value"), col(s"${c}__max").as("max_value"),
        col(s"${c}__mean").as("mean_value"))
    }
    // n_distinct joins on: both sides are column-count-sized, so this is a
    // broadcast join of tiny frames; an all-null column has no pair rows
    // (countDistinct semantics → 0)
    stacked.reduce(_ unionByName _)
      .join(broadcast(distinctCounts(df, columns)), Seq("column_name"), "left")
      .select(col("column_name"), col("min_value"), col("max_value"),
        col("mean_value"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
  }

  /** Full query-time table profile (`duckdb_service.py:115-253`): per column
    * — dtype, null count, distinct count, typed min/max (numeric as double,
    * text/timestamp as formatted strings), exact mean for numerics, a
    * high-cardinality flag, the reference's dimension/metric/id role
    * suggestion, and the sorted distinct values for small categorical
    * columns.
    *
    * Plan shape: ONE wide aggregate pass computes every column's moments
    * (nulls, min/max/mean — column count widens the projection, never
    * re-scans), plus ONE narrow two-phase pass for the exact distinct
    * counts ([[distinctCounts]] — kept out of the stats aggregate because
    * N countDistincts there ride Catalyst's Expand, an N×-row shuffle).
    * Value lists for small-categorical columns (n_distinct already proven
    * ≤ cap) come from ONE more aggregate holding a collect_set per
    * qualifying column — each buffer bounded by the proven cardinality,
    * never an unbounded high-card collect. Each pass reads only the
    * profiled columns from the source and nothing is persisted: at scale a
    * cached copy of those columns is the memory risk, the three pruned
    * scans are not. Profiling a 50-column table costs exactly 3 scans
    * total, not 2 jobs per column.
    *
    * The result is a local relation of the collected values, so rendering
    * it (the envelope's `to_json`) folds on the driver: no job, no
    * generated class. */
  def profileTable(df: DataFrame, columns: Seq[String], sampleCap: Int = 20,
      highCardThreshold: Long = 100): DataFrame = {
    import graft.core.Semantics
    val spark = df.sparkSession
    val fmt = "yyyy-MM-dd HH:mm:ss"
    final case class Info(c: String, dt: DataType, isNum: Boolean, isTs: Boolean)
    val infos = columns.map { c =>
      val dt = df.schema(c).dataType
      Info(c, dt, dt.isInstanceOf[NumericType],
        dt == TimestampType || dt == TimestampNTZType || dt == DateType)
    }
    val base = df.select(columns.map(col): _*)
    val aggs = count(lit(1)).as("__total") +: infos.flatMap { i =>
      val cc = col(i.c)
      val missing = Semantics.isMissing(cc)
      Seq(
        sum(when(missing, 1L).otherwise(0L)).as(s"${i.c}__nulls"),
        (if (i.isNum) min(cc).cast(DoubleType)
         else lit(null).cast(DoubleType)).as(s"${i.c}__min"),
        (if (i.isNum) max(cc).cast(DoubleType)
         else lit(null).cast(DoubleType)).as(s"${i.c}__max"),
        (if (i.isNum) Semantics.exactAvg(cc)
         else lit(null).cast(DoubleType)).as(s"${i.c}__mean"),
        (if (i.isTs) date_format(min(cc.cast("timestamp")), fmt)
         else if (!i.isNum) min(cc).cast(StringType)
         else lit(null).cast(StringType)).as(s"${i.c}__mint"),
        (if (i.isTs) date_format(max(cc.cast("timestamp")), fmt)
         else if (!i.isNum) max(cc).cast(StringType)
         else lit(null).cast(StringType)).as(s"${i.c}__maxt"))
    }
    val row = base.agg(aggs.head, aggs.tail: _*).head() // the one stats job
    val total = row.getAs[Long]("__total")
    // exact distinct counts come from their own narrow two-phase pass
    // ([[distinctCounts]]): keeping N countDistincts inside the stats
    // aggregate rode Catalyst's Expand — every row duplicated N ways into
    // an N×-wide shuffle, the worst super-linear growth in the suite
    // null n_distinct = uncountable (MapType): absent from the map, so the
    // sample/role guards below can never treat it as proven-small
    val ndByCol: Map[String, Long] = distinctCounts(base, columns).collect()
      .flatMap(r => if (r.isNullAt(1)) None
        else Some(r.getString(0) -> r.getLong(1))).toMap
    // Value lists for ALL small-categorical columns come from ONE second
    // scan: the stats pass already proved n_distinct ≤ cap for each, so a
    // collect_set per qualifying column is a bounded buffer (≤ cap values)
    // — never an unbounded high-cardinality collect. 2 jobs total for any
    // column count, instead of one narrow scan per categorical column.
    // `.get.exists`, not getOrElse(0): a column with NO proven count (a
    // MapType reports null from distinctCounts) must not slip into the
    // bounded-buffer collect_set below — the "n_distinct already proven
    // ≤ cap" invariant is what bounds that buffer
    val sampled = infos.filter { i =>
      !i.isNum && !i.isTs && ndByCol.get(i.c).exists(_ <= sampleCap)
    }
    val sampleValues: Map[String, String] =
      if (sampled.isEmpty) Map.empty
      else {
        val sa = sampled.map { i =>
          val cc = col(i.c)
          array_join(sort_array(collect_set(
            when(!Semantics.isMissing(cc), cc.cast(StringType)))), "|")
            .as(s"${i.c}__samples")
        }
        val r = base.agg(sa.head, sa.tail: _*).head()
        sampled.map(i => i.c -> r.getAs[String](s"${i.c}__samples")).toMap
      }
    val rows = infos.map { i =>
      val nulls = row.getAs[Long](s"${i.c}__nulls")
      val nd = ndByCol.getOrElse(i.c, 0L)
      def dbl(s: String): java.lang.Double = Option(row.getAs[Any](s"${i.c}__$s"))
        .map(v => java.lang.Double.valueOf(v.toString)).orNull
      val idLike = i.c.toLowerCase.endsWith("_id") ||
        i.c.toLowerCase.endsWith("key")
      val role =
        if (idLike && nd == total - nulls) "id"
        else if (i.isNum) "metric"
        else if (i.isTs) "datetime"
        else if (nd <= highCardThreshold) "dimension"
        else "text"
      Row(i.c, graft.core.Types.fromSpark(i.dt).name, total, nulls, nd,
        nd > highCardThreshold, role, dbl("min"), dbl("max"), dbl("mean"),
        row.getAs[String](s"${i.c}__mint"), row.getAs[String](s"${i.c}__maxt"),
        sampleValues.get(i.c).orNull)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ProfileSchema)
  }

  private val ProfileSchema = StructType(
    Seq("column_name" -> StringType, "dtype" -> StringType,
      "total_count" -> LongType, "null_count" -> LongType,
      "n_distinct" -> LongType, "high_cardinality" -> BooleanType,
      "suggested_role" -> StringType).map { case (n, t) =>
      StructField(n, t, nullable = false)
    } ++
    Seq("min_value" -> DoubleType, "max_value" -> DoubleType,
      "mean_value" -> DoubleType, "min_text" -> StringType,
      "max_text" -> StringType, "sample_values" -> StringType).map {
      case (n, t) => StructField(n, t)
    })
}
