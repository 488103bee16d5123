package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Sinks, Sources}
import graft.operators.{AnomalyDetector, AnomalySplitter, ExactDedup,
  NullRemover, QualityScorer, SchemaInferrer}
import graft.pipeline.Pipeline

/** Drives every reference example pipeline end-to-end against testdata —
  * the "a user of the reference could switch" proof in runnable form. */
class ExamplesSpec extends SparkSuite {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("csv_to_csv_cleaning: clean CSV lands with quality scores, no dupes") {
    val dir = tmp("ex_clean")
    val customers = graft.core.Tables.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    // dirty input: a duplicated block
    graft.io.Sinks.csv(customers.unionAll(customers.limit(20)), s"$dir/in")
    val r = Examples.csvToCsvCleaning(spark, s"$dir/in", s"$dir/out")
    assert(r.stats("success") == true && r.rowsLoaded == customers.count())
    val out = graft.io.Sources.csv(spark, s"$dir/out")
    assert(out.columns.contains("_meta_quality_score"))
  }

  test("deduplication_pipeline: exact dedup by match fields through JSON") {
    val dir = tmp("ex_dedup")
    val nations = graft.core.Tables.table(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    graft.io.Sinks.jsonl(nations.unionAll(nations), s"$dir/in")
    val r = Examples.dedupPipeline(spark, s"$dir/in", s"$dir/out",
      Seq("n_nationkey"))
    assert(r.stats("success") == true && r.rowsLoaded == 25L)
  }

  test("format_conversion: csv -> json -> csv roundtrip preserves rows") {
    val dir = tmp("ex_fmt")
    val region = graft.core.Tables.table(spark, sfDir, "region")
    graft.io.Sinks.csv(region, s"$dir/in")
    Examples.formatConversion(spark, s"$dir/in", dir)
    assert(graft.io.Sources.csv(spark, s"$dir/roundtrip_csv").count() == 5L)
    assert(graft.io.Sources.jsonl(spark, s"$dir/out_jsonl").count() == 5L)
  }

  test("anomaly_detection_pipeline: quarantine catches planted outliers") {
    import spark.implicits._
    val dir = tmp("ex_anom")
    val events = ((1 to 300).map(i => (i.toLong, 10.0 + i % 5)) :+
      (301L, 9999.0)).toDF("event_id", "value")
    val clean = Examples.anomalyPipeline(spark, events, s"$dir/quarantine")
    assert(clean.count() == 300L)
    val bad = spark.read.option("header", "true").csv(s"$dir/quarantine")
    assert(bad.select("event_id").as[String].collect().toSeq == Seq("301"))
  }

  test("schema_inference_pipeline: email field classified") {
    import spark.implicits._
    val df = Seq(("a@b.com", "xyz"), ("c@d.org", "abc")).toDF("email", "code")
    val prof = Examples.schemaInference(df, Seq("email", "code"))
    val byField = prof.collect()
      .map(r => r.getAs[String]("field") ->
        (r.getAs[String]("inferred_type"), r.getAs[String]("detected_pattern")))
      .toMap
    assert(byField("email") == (("STRING", "email")))
    assert(byField("code")._2 == null)
  }

  test("aggregation_pipeline: grouped rollup with reference agg names") {
    val orders = graft.core.Tables.table(spark, sfDir, "orders")
    val out = Examples.aggregationPipeline(orders, Seq("o_orderstatus"),
      Seq(("n", "o_orderkey", "count"), ("total", "o_totalprice", "sum")))
    assert(out.columns.toSet == Set("o_orderstatus", "n", "total"))
    assert(out.count() > 0)
  }

  test("dual_output: both sinks written from one extract") {
    val dir = tmp("ex_dual")
    val region = graft.core.Tables.table(spark, sfDir, "region")
    graft.io.Sinks.csv(region, s"$dir/in")
    val r = Examples.dualOutput(spark, s"$dir/in", s"$dir/a", s"$dir/b")
    assert(r.stats("success") == true)
    assert(spark.read.parquet(s"$dir/a").count() == 5L)
    assert(graft.io.Sources.jsonl(spark, s"$dir/b").count() == 5L)
  }

  test("staged_pipeline: checkpointed run persists per-stage outputs") {
    val dir = tmp("ex_staged")
    val region = graft.core.Tables.table(spark, sfDir, "region")
    graft.io.Sinks.csv(region, s"$dir/in")
    val r = Examples.stagedPipeline(spark, s"$dir/in", s"$dir/ckpt", s"$dir/out")
    assert(r.stats("success") == true && r.rowsLoaded == 5L)
    // the checkpoint dir holds a materialized stage output
    assert(new java.io.File(s"$dir/ckpt").listFiles().nonEmpty)
  }

  test("incremental_refresh: the diff-driven fold equals a full recompute " +
      "over the new snapshot") {
    import org.apache.spark.sql.functions._
    val d = graft.core.Tables.table(spark, sfDir, "documents")
    val v1 = d.filter(col("doc_id") % 4 =!= 0)
    val v2 = d.filter(col("doc_id") % 6 =!= 0)
    val got = Examples.incrementalRefresh(v1, v2, "doc_id", "text",
      "source", "n_chars")
    val direct = graft.operators.IncrementalAgg.update(None, v2,
      Seq("source"), "n_chars")
    assert(rowsOf(got.orderBy("source")) == rowsOf(direct.orderBy("source")))
  }
}

/** The reference's `examples/` python scripts, one function each — each a
  * small end-to-end pipeline a migrating user would recognize line for line,
  * driving the public Sources, Sinks, operators and Pipeline API; ExamplesSpec
  * runs every one.
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
    * reference's O(N²) greedy walk; its fuzzy pass is
    * `MinHashDedup.fuzzyDedup`). */
  def dedupPipeline(spark: SparkSession, inJson: String, outParquet: String,
      matchFields: Seq[String]): Pipeline#Result =
    Pipeline.extract(s => Sources.jsonAuto(s, inJson))
      .transform(new graft.operators.TransformStage {
        def name = "deduplicator(exact)"
        def apply(df: DataFrame): DataFrame = ExactDedup(df, matchFields)
      })
      .load(df => Sinks.parquet(df, outParquet))
      .run(spark)

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
