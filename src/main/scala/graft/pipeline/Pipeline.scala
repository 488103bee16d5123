package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.TransformStage

/** Fluent batch pipeline (`/root/reference/src/orchestration/pipeline.py:
  * 80-264`): extract → transforms → load(s), with optional per-stage parquet
  * checkpointing for staged resume.
  *
  * Key departure from the reference: stages compose LAZILY into one Catalyst
  * plan — there is no per-stage materialization unless checkpointing is
  * requested, so Catalyst fuses the whole chain (filter pushdown through
  * every stage, one pass over the data). The reference materializes
  * `List[Record]` between every stage; at 100 TB that's the difference
  * between one scan and N scans.
  */
final class Pipeline private (
    source: SparkSession => DataFrame,
    stages: Vector[TransformStage],
    sinks: Vector[DataFrame => Unit],
    checkpointDir: Option[String]) {

  def transform(stage: TransformStage): Pipeline =
    new Pipeline(source, stages :+ stage, sinks, checkpointDir)

  def load(sink: DataFrame => Unit): Pipeline =
    new Pipeline(source, stages, sinks :+ sink, checkpointDir)

  /** Persist every stage boundary to parquet (the reference's
    * `.pipeline_cache` behavior) — pay the materialization cost only when
    * retry/resume fidelity is actually wanted. */
  def checkpointed(dir: String): Pipeline =
    new Pipeline(source, stages, sinks, Some(dir))

  /** `stageRowCounts` are observe()-metric counts of rows that actually
    * FLOWED through each stage — because stages fuse into one lazy plan, a
    * downstream limit legitimately truncates upstream counts (rows never
    * computed are never counted). That is the cost-accurate reading; for
    * materialized per-stage cardinality use `checkpointed(dir)`, where each
    * stage boundary is a real write. */
  final case class Result(df: DataFrame, rowsLoaded: Long,
      stageNames: Seq[String], durationMs: Long,
      stageRowCounts: Map[String, Long] = Map.empty,
      extractMs: Long = 0, transformMs: Long = 0, loadMs: Long = 0,
      success: Boolean = true, error: Option[String] = None) {
    /** The reference's `get_stats` view (pipeline.py:266-293). In the lazy
      * (unckeckpointed) path stages fuse into one plan, so extract/transform
      * phases are plan-building time and the work lands in the load phase —
      * checkpointed runs report real per-phase wall time. */
    def stats: Map[String, Any] = Map(
      "success" -> success,
      "records_loaded" -> rowsLoaded,
      "duration_ms" -> durationMs,
      "extract_ms" -> extractMs,
      "transform_ms" -> transformMs,
      "load_ms" -> loadMs) ++
      stageRowCounts.map { case (k, v) => s"transformer_$k" -> v } ++
      error.map("error" -> _)
  }

  def run(spark: SparkSession): Result = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    val t0 = System.currentTimeMillis()
    val extracted = source(spark)
    val afterExtract = checkpointDir.fold(extracted) { dir =>
      extracted.write.mode("overwrite").parquet(s"$dir/extracted")
      spark.read.parquet(s"$dir/extracted")
    }
    val tExtract = System.currentTimeMillis() - t0
    // per-stage processed counts ride the SAME job via observe() metrics —
    // the reference's per-transformer stats (base_transformer.py:52-81)
    // without one extra action per stage
    val observations = scala.collection.mutable.ListBuffer.empty[(String, Observation)]
    val transformed = stages.zipWithIndex.foldLeft(afterExtract) {
      case (df, (stage, i)) =>
        val out = stage(df)
        val obs = Observation(s"stage_${i}_${stage.name}")
        observations += ((stage.name, obs))
        val observed = out.observe(obs, count(lit(1)).as("rows"))
        checkpointDir.fold(observed) { dir =>
          observed.write.mode("overwrite").parquet(s"$dir/stage_$i")
          spark.read.parquet(s"$dir/stage_$i")
        }
    }
    val tTransform = System.currentTimeMillis() - t0 - tExtract
    val rows = loadAndCount(transformed)
    val stageCounts = observations.map { case (name, obs) =>
      name -> obs.getAsJava.getOrDefault("rows", -1L).asInstanceOf[Long]
    }.toMap
    val total = System.currentTimeMillis() - t0
    Result(transformed, rows, stages.map(_.name), total, stageCounts,
      extractMs = tExtract, transformMs = tTransform,
      loadMs = total - tExtract - tTransform)
  }

  /** `run` with the reference's catch-into-result behavior
    * (pipeline.py:244-264): failures come back as `success = false` +
    * `error` instead of a throw. */
  def runSafe(spark: SparkSession): Result =
    try run(spark)
    catch {
      case e: Throwable =>
        Result(spark.emptyDataFrame, 0L, stages.map(_.name), 0L,
          success = false,
          error = Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }

  /** Resume from a previous run's checkpoint, skipping completed stages. */
  def resumeFrom(spark: SparkSession, dir: String, fromStage: Int): Result = {
    val t0 = System.currentTimeMillis()
    val start = spark.read.parquet(
      if (fromStage == 0) s"$dir/extracted" else s"$dir/stage_${fromStage - 1}")
    val transformed = stages.drop(fromStage).foldLeft(start)((df, s) => s(df))
    val rows = loadAndCount(transformed)
    Result(transformed, rows, stages.map(_.name),
      System.currentTimeMillis() - t0)
  }

  /** Every sink, then the row count, over ONE evaluation of the plan:
    * cache once, then N write actions + the count — without it even a
    * single sink computes the plan twice (pipeline_core.py:82-134). */
  private def loadAndCount(df: DataFrame): Long =
    if (sinks.isEmpty) df.count()
    else {
      val cached = df.cache()
      try { sinks.foreach(_(cached)); cached.count() }
      finally { cached.unpersist(); () }
    }
}

object Pipeline {
  def extract(source: SparkSession => DataFrame): Pipeline =
    new Pipeline(source, Vector.empty, Vector.empty, None)

  def fromParquet(path: String): Pipeline =
    extract(spark => spark.read.parquet(path))
}
