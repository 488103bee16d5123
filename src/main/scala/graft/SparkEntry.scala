package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.entry.{CoreQueries, DocQueries, ExtraQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in `graft.entry.*` grouped by domain; this object is the
  * merged registry the driver's smoke/verify/bench harness consumes.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The dashboard shape end-to-end: filters + star-schema broadcast joins +
    * exact aggregation + ordered output. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_broadcast")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ DocQueries.queries ++ ExtraQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Keys absent here get a rows-only check (used for
    * ops whose hashing primitives differ cross-engine, e.g. xxhash64 LSH). */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ DocQueries.oracleSql ++ ExtraQueries.oracleSql
}
