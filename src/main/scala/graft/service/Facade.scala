package graft.service

import org.apache.spark.sql.DataFrame
import graft.query.{AggregationSpec, Filter, QueryService}

/** Typed facade over the reference's analytics REST endpoints
  * (`/root/reference/src/api/main.py:905-1385`, `duckdb_service.py`): each
  * endpoint becomes a request ADT dispatched to the corresponding engine
  * operator. The HTTP/auth/multi-tenant CRUD around it
  * (`main.py:1388-2728`) is bookkeeping, not analytics — any JSON server
  * can wrap this object; the engine boundary is `handle(request) →
  * DataFrame`.
  *
  * Every arm returns a LAZY DataFrame (no collect), so a server layer can
  * stream/paginate results and Catalyst sees the full plan including the
  * caller's later projections.
  */
object Facade {

  sealed trait Request
  /** POST /dashboard/query — filters + optional aggregation. */
  final case class Query(table: String, filters: Seq[Filter] = Nil,
      agg: AggregationSpec = AggregationSpec(Nil, Nil)) extends Request
  /** POST /dashboard/drill-down — raw rows behind a cell, paginated. */
  final case class DrillDown(table: String, filters: Seq[Filter],
      columns: Seq[String], sortKey: String, limit: Int = 100,
      offset: Int = 0) extends Request
  /** GET /dashboard/filter-values — distinct values for a filter widget. */
  final case class FilterValues(table: String, column: String,
      search: Option[String] = None, limit: Int = 100) extends Request
  /** GET /dashboard/schema — per-column profile with role suggestions. */
  final case class Profile(table: String, columns: Seq[String]) extends Request
  /** GET /dashboard — the four canned dashboard aggregates; amount/provider/
    * category/date columns auto-detected by keyword like the reference
    * (`dashboard_aggregator.py:64-79`). */
  final case class Dashboard(kind: String, table: String) extends Request
  /** POST /anomalies — z-score / IQR / combined detection over columns. */
  final case class Anomalies(table: String, method: String,
      fields: Seq[String], threshold: Double = 3.0) extends Request

  final case class Tables(resolve: String => DataFrame)

  def handle(req: Request)(implicit tables: Tables): DataFrame = req match {
    case Query(t, fs, agg)    => QueryService.query(tables.resolve(t), fs, agg)
    case DrillDown(t, fs, cols, key, lim, off) =>
      QueryService.drillDown(tables.resolve(t), fs, cols, key, lim, off)
    case FilterValues(t, c, s, lim) =>
      QueryService.filterValues(tables.resolve(t), c, s, lim)
    case Profile(t, cols)     => QueryService.profileTable(tables.resolve(t), cols)
    case Dashboard(kind, t) =>
      import graft.operators.DashboardAggregator._
      val df = tables.resolve(t)
      val cols = df.columns.toSeq
      def detect(kw: Seq[String], what: String): String =
        findColumn(cols, kw).getOrElse(
          throw new IllegalArgumentException(s"no $what column detected in $t"))
      val amount = detect(amountKeywords, "amount")
      val quality = cols.find(_ == "_meta_quality_score")
      kind match {
        case "summary"     => summary(df, amount, quality)
        case "by_provider" =>
          byProvider(df, detect(providerKeywords, "provider"), amount, quality)
        case "by_category" => byCategory(df, detect(diagnosisKeywords, "category"), amount)
        case "by_date"     => byDate(df, detect(dateKeywords, "date"), amount)
        case other => throw new IllegalArgumentException(s"unknown dashboard $other")
      }
    case Anomalies(t, method, fields, thr) =>
      graft.operators.AnomalyDetector.byMethod(tables.resolve(t), method, fields, thr)
  }
}
