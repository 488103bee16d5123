package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.Semantics

/** Declarative data-quality expectations — the Deequ-style constraint
  * suite ("values non-null", "a ≤ b", "matches pattern", "within set")
  * evaluated as ONE aggregate pass regardless of rule count: every rule
  * becomes a conditional sum over the same scan, so a 50-rule suite costs
  * exactly one job at any corpus size. The reference's QualityScorer bakes
  * a fixed rule set per row; this is the table-level contract check a
  * pipeline gates a load on.
  */
object Expectations {

  final case class Rule(name: String, predicate: Column)

  /** One row per rule: rows passed / failed (nulls fail — a constraint
    * that cannot be evaluated is not satisfied) and the pass rate. */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    require(rules.map(_.name).distinct.size == rules.size,
      "rule names must be unique")
    val aggs = rules.map(r =>
      sum(when(coalesce(r.predicate, lit(false)), 1L).otherwise(0L))
        .as(s"_p_${r.name}")) :+ count(lit(1)).as("_n")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("_n")
    val spark = df.sparkSession
    import spark.implicits._
    rules.map { r =>
      val p = row.getAs[Long](s"_p_${r.name}")
      (r.name, p, n - p)
    }.toDF("rule", "n_pass", "n_fail")
      .withColumn("pass_rate", Semantics.safeRound(
        col("n_pass").cast(DoubleType) /
          (col("n_pass") + col("n_fail")).cast(DoubleType), 4))
  }
}
