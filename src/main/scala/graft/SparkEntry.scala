package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.entry.{CoreQueries, DocQueries, ExtraQueries, Gate}

/** The gate registry (SURVEY.md §7). Gates live in `graft.entry.*`
  * grouped by domain, each declared once with its builder and its DuckDB
  * oracle; this object merges them for the smoke check, `Verify` and
  * `Bench`.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The dashboard shape end-to-end: filters + star-schema broadcast joins +
    * exact aggregation + ordered output. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_broadcast")(spark, "/root/testdata/sf0.001")

  /** Every gate, in declaration order. */
  val gates: Seq[Gate] =
    CoreQueries.gates ++ DocQueries.gates ++ ExtraQueries.gates

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Every gate carries its oracle, so the key sets
    * are equal. */
  val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap
}
