package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file integrity manifest of a parquet table directory: for every
  * part file, its row count and id-column summary (sum/min/max). This is
  * the partial-write / bitrot / lost-file detector for 100 TB table dirs:
  * persist the manifest next to the data at write time, re-derive it at
  * read time, and compare — a truncated file shows as a row-count drop, a
  * missing file as an absent manifest row, and the check costs one pruned
  * scan of the id column, not a byte-level re-read.
  *
  * Grouping is by the deterministic `part-NNNNN` index (the writer-task
  * partition id), not the full physical path — task-attempt UUIDs in the
  * basename differ per write, partition indices don't, so manifests of
  * two writes of the same data compare equal.
  *
  * Reference behavior: `pipeline_service.py` trusts sinks blindly after
  * load; this is the engine-side completeness check a 1000-executor
  * cluster needs when any task's output can be lost or truncated between
  * write and downstream read.
  */
object TableManifest {

  /** Manifest frame (file_part, n_rows, sum_id, min_id, max_id), one row
    * per part file of `path`. The id column should be a stable unique key
    * (sum/min/max over it pin both content and range per file). */
  def parquetManifest(spark: SparkSession, path: String,
      idCol: String): DataFrame =
    spark.read.parquet(path)
      .select(input_file_name().as("_file"), col(idCol))
      .groupBy(regexp_extract(col("_file"), "part-(\\d+)", 1)
        .as("file_part"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(idCol)).as("sum_id"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))
}
