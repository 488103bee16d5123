package graft.service

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.pipeline.Pipeline

/** Config-driven pipelines (SURVEY §2.12; `/root/reference/src/api/models.py:
  * 28-119` + `pipeline_service.py:552-667`): typed config ADTs and the
  * factory mapping them onto sources, transform stages, and sinks.
  */
object Config {
  sealed trait SourceConfig
  final case class CsvSource(path: String, header: Boolean = true,
      delimiter: String = ",") extends SourceConfig
  final case class JsonSource(path: String, jsonPath: Option[String] = None)
    extends SourceConfig
  final case class ParquetSource(path: String) extends SourceConfig
  final case class JdbcSource(url: String, table: String,
      options: Map[String, String] = Map.empty) extends SourceConfig

  sealed trait TransformerConfig
  final case class NullRemoverConf(strategy: String = "drop",
      fields: Seq[String] = Nil, fillValue: String = "") extends TransformerConfig
  final case class ColumnRemoverConf(columns: Set[String] = Set.empty,
      prefix: Option[String] = None, pattern: Option[String] = None,
      keep: Set[String] = Set.empty) extends TransformerConfig
  final case class QualityScorerConf(fields: Seq[String] = Nil,
      minScore: Double = 0.5, filterLow: Boolean = false) extends TransformerConfig
  final case class DeduplicatorConf(matchFields: Seq[String] = Nil,
      strategy: String = "keep_first") extends TransformerConfig
  final case class AggregatorConf(groupBy: Seq[String],
      specs: Seq[(String, String, String)]) extends TransformerConfig
  final case class AnomalyDetectorConf(method: String = "statistical",
      fields: Seq[String] = Nil, threshold: Double = 3.0) extends TransformerConfig
  final case class MetadataToColumnsConf() extends TransformerConfig
  final case class SchemaInferrerConf(fields: Seq[String] = Nil) extends TransformerConfig

  sealed trait DestinationConfig
  final case class CsvDest(path: String, header: Boolean = true)
    extends DestinationConfig
  final case class JsonlDest(path: String) extends DestinationConfig
  /** Single JSON-array file — the reference's DEFAULT for destination type
    * "json" (`pipeline_service.py:643-646`, `json_loader.py:23`). */
  final case class JsonArrayDest(path: String, schemaSidecar: Boolean = false)
    extends DestinationConfig
  final case class ParquetDest(path: String, partitionCols: Seq[String] = Nil)
    extends DestinationConfig
  final case class JdbcDest(url: String, table: String,
      mode: String = "append") extends DestinationConfig

  final case class PipelineConfig(
      source: SourceConfig,
      transformers: Seq[TransformerConfig] = Nil,
      destinations: Seq[DestinationConfig] = Nil,
      checkpointDir: Option[String] = None)

  /** Source config → reader (shared by the unified build and the staged
    * HTTP mode, which runs stages one at a time). */
  def sourceFn(src: SourceConfig): SparkSession => DataFrame = src match {
    case CsvSource(p, h, d) => s => graft.io.Sources.csv(s, p, h, d)
    case JsonSource(p, jp) => s => graft.io.Sources.jsonArray(s, p, jp)
    case ParquetSource(p) => s => graft.io.Sources.parquet(s, p)
    case JdbcSource(u, t, o) => s => graft.io.Sources.jdbc(s, u, t, o)
  }

  /** Destination config → writer (shared the same way). */
  def sinkFn(dest: DestinationConfig): DataFrame => Unit = dest match {
    case CsvDest(p, h) => df => graft.io.Sinks.csv(df, p, h)
    case JsonlDest(p) => df => graft.io.Sinks.jsonl(df, p)
    case JsonArrayDest(p, sc) => df =>
      graft.io.Sinks.jsonArray(df, p, schemaSidecar = sc)
    case ParquetDest(p, pc) => df => graft.io.Sinks.parquet(df, p, partitionCols = pc)
    case JdbcDest(u, t, m) => df => graft.io.Sinks.jdbc(df, u, t, m)
  }

  /** Factory: config → runnable pipeline (pipeline_service.py:552-667). */
  def build(cfg: PipelineConfig): Pipeline = {
    val stages: Seq[TransformStage] = cfg.transformers.map(stageFor)
    val base = stages.foldLeft(Pipeline.extract(sourceFn(cfg.source)))(_ transform _)
    val withSinks = cfg.destinations.map(sinkFn).foldLeft(base)(_ load _)
    cfg.checkpointDir.fold(withSinks)(withSinks.checkpointed)
  }

  def stageFor(t: TransformerConfig): TransformStage = t match {
    case NullRemoverConf(s, f, v) => NullRemover(s, f, v)
    case ColumnRemoverConf(c, p, re, k) => ColumnRemover(c, p, re, k)
    case QualityScorerConf(f, m, fl) =>
      QualityScorer(fields = f, minScore = m, filterLow = fl)
    case DeduplicatorConf(mf, st) => new TransformStage {
      def name = s"deduplicator($st)"
      def apply(df: DataFrame): DataFrame = ExactDedup(df, mf, st)
    }
    case AggregatorConf(g, specs) => new TransformStage {
      def name = "aggregator"
      def apply(df: DataFrame): DataFrame =
        Aggregator.aggregate(df, g,
          specs.map { case (out, f, fn) => Aggregator.AggSpec(out, f, fn) })
    }
    case AnomalyDetectorConf(m, f, th) => new TransformStage {
      def name = s"anomaly_detector($m)"
      def apply(df: DataFrame): DataFrame = AnomalyDetector.byMethod(df, m,
        if (f.nonEmpty) f else AnomalyDetector.numericFields(df), th)
    }
    case MetadataToColumnsConf() => MetadataToColumns()
    case SchemaInferrerConf(_) => new TransformStage {
      def name = "schema_inferrer"
      def apply(df: DataFrame): DataFrame = df // profiling is a side output
    }
  }
}

/** Medallion path generation + slugify (SURVEY §2.12; `src/api/
  * path_generator.py:32-113`). */
object Paths {
  /** lower, whitespace/underscores → '-', strip non-alphanumerics. */
  def slugify(s: String): String =
    s.toLowerCase
      .replaceAll("[_\\s]+", "-")
      .replaceAll("[^a-z0-9-]", "")
      .replaceAll("-+", "-")
      .stripPrefix("-").stripSuffix("-")

  def goldBi(org: String, dataset: String): String = {
    val ds = slugify(dataset)
    s"${slugify(org)}/gold/bi/$ds/$ds.parquet"
  }
  def quarantine(org: String, dataset: String): String =
    s"${slugify(org)}/quarantine/${slugify(dataset)}_anomalies.csv"
}
