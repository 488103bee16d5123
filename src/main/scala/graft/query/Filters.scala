package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference dashboard's filter model: 12 operators, conjunctive AND only
  * (`/root/reference/src/database/duckdb_service.py:22-28,255-325`).
  *
  * Each filter compiles to a single Catalyst `Column` predicate, so the whole
  * conjunction is one expression tree Catalyst can push into the parquet scan
  * (shows up as PushedFilters for eq/in/comparison ops) — at 100 TB this is
  * row-group skipping, not post-scan filtering.
  */
sealed trait Filter { def column: String; def toColumn: Column }

object Filter {
  final case class Eq(column: String, value: Any) extends Filter {
    def toColumn: Column = col(column) === lit(value)
  }
  final case class Neq(column: String, value: Any) extends Filter {
    def toColumn: Column = col(column) =!= lit(value)
  }
  final case class In(column: String, values: Seq[Any]) extends Filter {
    def toColumn: Column = col(column).isin(values: _*)
  }
  final case class NotIn(column: String, values: Seq[Any]) extends Filter {
    def toColumn: Column = !col(column).isin(values: _*)
  }
  final case class Between(column: String, lo: Any, hi: Any) extends Filter {
    def toColumn: Column = col(column).between(lit(lo), lit(hi))
  }
  final case class Gt(column: String, value: Any) extends Filter {
    def toColumn: Column = col(column) > lit(value)
  }
  final case class Gte(column: String, value: Any) extends Filter {
    def toColumn: Column = col(column) >= lit(value)
  }
  final case class Lt(column: String, value: Any) extends Filter {
    def toColumn: Column = col(column) < lit(value)
  }
  final case class Lte(column: String, value: Any) extends Filter {
    def toColumn: Column = col(column) <= lit(value)
  }
  /** Reference `contains` is case-insensitive substring: `ILIKE '%v%'`. */
  final case class Contains(column: String, value: String) extends Filter {
    def toColumn: Column =
      col(column).cast(StringType).ilike(s"%${escapeLike(value)}%")
  }
  final case class IsNull(column: String) extends Filter {
    def toColumn: Column = col(column).isNull
  }
  final case class IsNotNull(column: String) extends Filter {
    def toColumn: Column = col(column).isNotNull
  }
  private def escapeLike(v: String): String =
    v.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")

  /** Conjunctive fold — the reference supports AND only. */
  def compile(filters: Seq[Filter]): Column =
    filters.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))
}

/** Metric spec of the filtered-aggregation endpoint
  * (`duckdb_service.py:327-434`): SUM/AVG/MIN/MAX/COUNT/COUNT DISTINCT with
  * output alias. */
final case class Metric(fn: String, field: String, alias: String) {
  import graft.core.Semantics.{exactAvg, exactSum}
  // sum/avg accumulate in decimal: associative, so results don't depend on
  // partition/merge order — required for oracle hashing, and the right
  // default anyway (repeatable dashboards across reruns and cluster sizes)
  def toColumn: Column = fn.toLowerCase match {
    case "sum"            => exactSum(col(field)).as(alias)
    case "avg"            => exactAvg(col(field)).as(alias)
    case "min"            => min(col(field)).as(alias)
    case "max"            => max(col(field)).as(alias)
    case "count"          => count(lit(1)).as(alias)
    case "count_distinct" => countDistinct(col(field)).as(alias)
    case other => throw new IllegalArgumentException(s"unknown metric fn $other")
  }
}

final case class AggregationSpec(
    groupBy: Seq[String],
    metrics: Seq[Metric],
    orderBy: Option[(String, Boolean)] = None, // (alias, ascending)
    limit: Option[Int] = None)
