package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.IntermediateStore
import graft.operators.TransformStage

/** Fluent batch pipeline (`/root/reference/src/orchestration/pipeline.py:
  * 80-264`): extract → transforms → load(s), run unified (`run`) or staged
  * (`step`), with optional per-stage checkpointing for resume.
  *
  * Key departure from the reference: stages compose LAZILY into one Catalyst
  * plan — there is no per-stage materialization unless checkpointing is
  * requested, so Catalyst fuses the whole chain (filter pushdown through
  * every stage, one pass over the data). The reference materializes
  * `List[Record]` between every stage; at 100 TB that's the difference
  * between one scan and N scans.
  *
  * Every persisted stage boundary (a checkpoint, a staged step's output) is
  * an [[IntermediateStore]] key: parquet plus the reference's `.meta.json`
  * sidecar. This class holds the only stage fold and sink fan-out.
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

  /** Persist every stage boundary to an [[IntermediateStore]] under `dir`
    * (the reference's `.pipeline_cache` behavior) — pay the materialization
    * cost only when retry/resume fidelity is actually wanted. */
  def checkpointed(dir: String): Pipeline =
    new Pipeline(source, stages, sinks, Some(dir))

  def stageNames: Seq[String] = stages.map(_.name)

  /** `stageRowCounts` are observe()-metric counts of rows that actually
    * FLOWED through each stage — because stages fuse into one lazy plan, a
    * downstream limit legitimately truncates upstream counts (rows never
    * computed are never counted). That is the cost-accurate reading; for
    * materialized per-stage cardinality use `checkpointed(dir)`, where each
    * stage boundary is a real write. */
  final case class Result(df: DataFrame, rowsLoaded: Long,
      stageNames: Seq[String], durationMs: Long,
      stageRowCounts: Map[String, Long] = Map.empty,
      extractMs: Long = 0, transformMs: Long = 0, loadMs: Long = 0) {
    /** The reference's `get_stats` view (pipeline.py:266-293). In the lazy
      * (uncheckpointed) path stages fuse into one plan, so extract/transform
      * phases are plan-building time and the work lands in the load phase —
      * checkpointed runs report real per-phase wall time. `run` throws on a
      * failure, so a Result is always a success. */
    def stats: Map[String, Any] = Map(
      "success" -> true,
      "records_loaded" -> rowsLoaded,
      "duration_ms" -> durationMs,
      "extract_ms" -> extractMs,
      "transform_ms" -> transformMs,
      "load_ms" -> loadMs) ++
      stageRowCounts.map { case (k, v) => s"transformer_$k" -> v }
  }

  def run(spark: SparkSession): Result = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{count, lit}
    val store = checkpointDir.map(new IntermediateStore(spark, _))
    // a checkpointed boundary is written, then read back as the next input
    def boundary(key: String, df: DataFrame, stage: String,
        applied: Seq[String]): DataFrame =
      store.fold(df) { s => s.save(key, df, stage, applied); s.load(key)._1 }
    val t0 = System.currentTimeMillis()
    val extracted = boundary("extracted", source(spark), "extract", Nil)
    val tExtract = System.currentTimeMillis() - t0
    // per-stage processed counts ride the SAME job via observe() metrics —
    // the reference's per-transformer stats (base_transformer.py:52-81)
    // without one extra action per stage
    val observations = scala.collection.mutable.ListBuffer.empty[(String, Observation)]
    val transformed = fold(extracted, 0) { (out, i) =>
      val obs = Observation(s"stage_${i}_${stages(i).name}")
      observations += ((stages(i).name, obs))
      boundary(s"stage_$i", out.observe(obs, count(lit(1)).as("rows")),
        stages(i).name, stageNames.take(i + 1))
    }
    val tTransform = System.currentTimeMillis() - t0 - tExtract
    val rows = fanOut(transformed)(_.count())
    val stageCounts = observations.map { case (name, obs) =>
      name -> obs.getAsJava.getOrDefault("rows", -1L).asInstanceOf[Long]
    }.toMap
    val total = System.currentTimeMillis() - t0
    Result(transformed, rows, stageNames, total, stageCounts,
      extractMs = tExtract, transformMs = tTransform,
      loadMs = total - tExtract - tTransform)
  }

  /** Resume from a previous checkpointed run's store, skipping completed
    * stages. */
  def resumeFrom(spark: SparkSession, dir: String, fromStage: Int): Result = {
    val t0 = System.currentTimeMillis()
    val (start, _) = new IntermediateStore(spark, dir)
      .load(if (fromStage == 0) "extracted" else s"stage_${fromStage - 1}")
    val transformed = fold(start, fromStage)()
    Result(transformed, fanOut(transformed)(_.count()), stageNames,
      System.currentTimeMillis() - t0)
  }

  /** One call of the staged mode (main.py:183-330), off the prior step's
    * boundary in `store`: `"extract"` saves the source as `extracted`,
    * `"transform"` saves every stage over it as `transformed`, `"load"`
    * writes that (or `extracted`, with no stages) to every sink. Returns the
    * boundary's sidecar row count; the caller orders the steps. */
  def step(spark: SparkSession, store: IntermediateStore, name: String): Long =
    name match {
      case "extract" => store.save("extracted", source(spark), "extract")
      case "transform" =>
        val (df, _) = store.load("extracted")
        store.save("transformed", fold(df, 0)(), "transform", stageNames)
      case "load" =>
        val (df, meta) = store.load(if (stages.isEmpty) "extracted" else "transformed")
        fanOut(df)(_ => meta.fold(-1L)(_.rows))
      case other => throw new IllegalArgumentException(s"unknown stage $other")
    }

  /** Stages `from` onward over `start`; `each` gets every stage's output
    * and index, and returns the next stage's input. */
  private def fold(start: DataFrame, from: Int)(
      each: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame =
    (from until stages.length).foldLeft(start)((df, i) => each(stages(i)(df), i))

  /** Every sink, then `after`, over ONE evaluation of the plan: cache once,
    * then N write actions + `after` — without it even a single sink and a
    * count compute the plan twice (pipeline_core.py:82-134). */
  private def fanOut[T](df: DataFrame)(after: DataFrame => T): T =
    if (sinks.isEmpty) after(df)
    else {
      val cached = df.cache()
      try { sinks.foreach(_(cached)); after(cached) }
      finally { cached.unpersist(); () }
    }
}

object Pipeline {
  def extract(source: SparkSession => DataFrame): Pipeline =
    new Pipeline(source, Vector.empty, Vector.empty, None)
}
