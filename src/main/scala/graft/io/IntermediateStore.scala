package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.service.MiniJson

/** Keyed intermediate storage (`/root/reference/src/storage/
  * file_storage.py:18-226` + `s3_storage.py:19-330`): save/load datasets by
  * key with a `.meta.json` sidecar (row count, stage, transformers applied),
  * plus exists/delete/list/cleanup. ONE implementation replaces both
  * reference classes: everything goes through the Hadoop FileSystem API, so
  * `file:///...` and `s3a://bucket/...` base paths run the same code —
  * Spark writes parquet natively to either, and the sidecar goes through
  * the same FS client. (Presigned URLs are an S3-console concern the
  * library does not reproduce; SURVEY §2.12.)
  *
  * The sidecar's row count comes from the write itself: an `observe()`
  * count rides the write job, so a save launches the jobs of a plain
  * parquet write and no read-back. */
final class IntermediateStore(spark: SparkSession, basePath: String) {

  final case class Meta(rows: Long, stage: String, transformers: Seq[String],
      columns: Seq[String])

  private def dataPath(key: String) = new Path(s"$basePath/$key.parquet")
  private def metaPath(key: String) = new Path(s"$basePath/$key.meta.json")
  private def fs: FileSystem =
    new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `save_records` (file_storage.py:36-77): parquet + meta sidecar;
    * returns the row count recorded in the sidecar. */
  def save(key: String, df: DataFrame, stage: String = "",
      transformers: Seq[String] = Nil): Long = {
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dataPath(key).toString)
    val rows = written.get("rows").asInstanceOf[Long]
    val meta = MiniJson.render(Map(
      "rows" -> rows, "stage" -> stage,
      "transformers" -> transformers, "columns" -> df.columns.toSeq))
    val out = fs.create(metaPath(key), true)
    try out.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    rows
  }

  /** `load_records` (file_storage.py:79-109): frame + parsed sidecar. */
  def load(key: String): (DataFrame, Option[Meta]) = {
    val df = spark.read.parquet(dataPath(key).toString)
    val meta =
      if (!fs.exists(metaPath(key))) None
      else {
        val in = fs.open(metaPath(key))
        val raw = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        val m = MiniJson.parse(raw).asInstanceOf[Map[String, Any]]
        def strs(k: String) = m.get(k).collect {
          case l: List[_] => l.map(String.valueOf(_))
        }.getOrElse(Nil)
        Some(Meta(m.get("rows").collect { case l: Long => l }.getOrElse(-1L),
          String.valueOf(m.getOrElse("stage", "")), strs("transformers"),
          strs("columns")))
      }
    (df, meta)
  }

  def exists(key: String): Boolean = fs.exists(dataPath(key))

  def delete(key: String): Unit = {
    fs.delete(dataPath(key), true)
    fs.delete(metaPath(key), false)
    ()
  }

  /** `list_keys` (file_storage.py:133-149): keys under the base path,
    * optionally filtered by prefix. */
  def listKeys(prefix: Option[String] = None): Seq[String] = {
    val base = new Path(basePath)
    if (!fs.exists(base)) return Nil
    fs.listStatus(base).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .filter(k => prefix.forall(k.startsWith))
      .sorted
  }

  /** `cleanup` (file_storage.py:194-211): drop every key that starts with
    * `pipelineId` (all of them by default), then the base directory if
    * nothing is left in it. A base path that is already gone is a no-op. */
  def cleanup(pipelineId: String = ""): Unit = {
    listKeys(Some(pipelineId)).foreach(delete)
    val base = new Path(basePath)
    if (fs.exists(base) && fs.listStatus(base).isEmpty) { fs.delete(base, false); () }
  }
}
