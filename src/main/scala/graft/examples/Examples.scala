package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.{Sinks, Sources}
import graft.operators.{AnomalyDetector, AnomalySplitter, ExactDedup,
  MinHashDedup, NullRemover, QualityScorer, SchemaInferrer}
import graft.pipeline.Pipeline

/** The reference's `examples/` scripts, one function each — each a small
  * end-to-end pipeline a migrating user would recognize line for line
  * (the python files under `/root/reference/examples/`). All of them run
  * against any data directory with the standard tables; ExamplesSpec
  * drives every one.
  */
object Examples {

  /** `csv_to_csv_cleaning.py`: dirty CSV → null removal → dedup → quality
    * scores → clean CSV. */
  def csvToCsvCleaning(spark: SparkSession, inCsv: String,
      outCsv: String): Pipeline#Result =
    Pipeline.extract(s => Sources.csv(s, inCsv))
      .transform(NullRemover("drop"))
      .transform(new graft.operators.TransformStage {
        def name = "deduplicator"
        def apply(df: DataFrame): DataFrame = ExactDedup(df)
      })
      .transform(QualityScorer())
      .load(df => Sinks.csv(df, outCsv))
      .run(spark)

  /** `deduplication_pipeline.py`: JSON source → exact dedup → sink; the
    * fuzzy variant goes through MinHash-LSH (the scalable form of the
    * reference's O(N²) greedy walk). */
  def dedupPipeline(spark: SparkSession, inJson: String, outParquet: String,
      matchFields: Seq[String]): Pipeline#Result =
    Pipeline.extract(s => Sources.jsonAuto(s, inJson))
      .transform(new graft.operators.TransformStage {
        def name = "deduplicator(exact)"
        def apply(df: DataFrame): DataFrame = ExactDedup(df, matchFields)
      })
      .load(df => Sinks.parquet(df, outParquet))
      .run(spark)

  /** `deduplication_pipeline.py`'s fuzzy pass over a documents table. */
  def fuzzyDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    MinHashDedup.fuzzyDedup(docs, idCol, textCol)

  /** `format_conversion.py`: CSV → JSON array, JSON → CSV, CSV → JSONL. */
  def formatConversion(spark: SparkSession, inCsv: String,
      outDir: String): Unit = {
    val df = Sources.csv(spark, inCsv)
    Sinks.jsonArray(df, s"$outDir/out.json", pretty = true)
    Sinks.jsonl(df, s"$outDir/out_jsonl")
    val back = Sources.jsonArray(spark, s"$outDir/out.json")
    Sinks.csv(back, s"$outDir/roundtrip_csv")
  }

  /** `anomaly_detection_pipeline.py`: detect on numeric fields, split
    * anomalies to a quarantine sink, pass clean rows through. */
  def anomalyPipeline(spark: SparkSession, events: DataFrame,
      quarantineCsv: String): DataFrame = {
    val flagged = AnomalyDetector.zscore(events, Seq("value"), threshold = 2.5)
    AnomalySplitter.quarantine(flagged, quarantineCsv)
  }

  /** `schema_inference_pipeline.py`: ML-style field classification. */
  def schemaInference(df: DataFrame, fields: Seq[String]): DataFrame =
    SchemaInferrer.profile(df, fields)

  /** `aggregation_pipeline.py`: group + multi-metric rollup through the
    * reference's Aggregator semantics. */
  def aggregationPipeline(df: DataFrame, groupBy: Seq[String],
      specs: Seq[(String, String, String)]): DataFrame =
    graft.operators.Aggregator.aggregate(df, groupBy,
      specs.map { case (out, field, fn) =>
        graft.operators.Aggregator.AggSpec(out, field, fn) })

  /** `test_dual_output.py`: one extract, two destinations, single upstream
    * computation. */
  def dualOutput(spark: SparkSession, inCsv: String, outA: String,
      outB: String): Pipeline#Result =
    Pipeline.extract(s => Sources.csv(s, inCsv))
      .load(df => Sinks.parquet(df, outA))
      .load(df => Sinks.jsonl(df, outB))
      .run(spark)

  /** `test_staged_pipeline.py`: checkpoint every stage, then resume from
    * the persisted intermediate without recomputing upstream. */
  def stagedPipeline(spark: SparkSession, inCsv: String, checkpointDir: String,
      outParquet: String): Pipeline#Result =
    Pipeline.extract(s => Sources.csv(s, inCsv))
      .transform(NullRemover("drop"))
      .load(df => Sinks.parquet(df, outParquet))
      .checkpointed(checkpointDir)
      .run(spark)

  /** Beyond the reference scripts: the incremental-refresh recipe — diff
    * the new corpus snapshot against the old, turn the classification into
    * a CDC batch, fold it into the persisted per-group aggregate state.
    * The refresh cost tracks the CHURN (diff slice + state frame), never
    * the corpus; the returned state equals a full recompute over the new
    * snapshot exactly (the law q_incremental_refresh gates). */
  def incrementalRefresh(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String, contentCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    import graft.operators.IncrementalAgg
    IncrementalAgg.refreshFromSnapshots(
      IncrementalAgg.update(None, oldSnap, Seq(groupCol), valueCol),
      oldSnap, newSnap, idCol, contentCol, Seq(groupCol), valueCol)
  }
}
