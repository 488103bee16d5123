package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query: `build` runs it over the tables in a data directory,
  * and its output must hash-match `oracleSql` run by DuckDB over the same
  * parquet files. */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
