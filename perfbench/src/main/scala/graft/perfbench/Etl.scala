package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.io.IntermediateStore
import graft.service.{Config, Facade, HttpFacade, MiniJson}

/** The ETL part of the batch workload: one pipeline config (`null_remover
  * → dedup → quality_scorer → anomaly_detector`, loading to parquet and
  * jsonl) run over the generated CSV. Each pass runs it once unified,
  * through `POST /api/pipeline/unified`, and once staged, through
  * `/api/pipeline/staged/{init,extract,transform,load}`. The server keeps
  * each staged pipeline's checkpoints under `/tmp/graft_staged/<id>`; the
  * session's local file system ([[StagedDirFs]]) moves that directory into
  * the run's own, where each staged run's checkpoints are measured and
  * deleted. */
final class Etl(p: Main.Params, workDir: String) {
  private val csv = p("csv")
  private val out = s"$workDir/etl_out"
  private var http: HttpFacade = _
  private var port = 0

  private val matchFields = Seq("l_orderkey", "l_linenumber")
  private val qualityFields = Seq("l_orderkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_returnflag", "l_shipdate")
  private val anomalyFields = Seq("l_extendedprice", "l_quantity")

  private def q(s: String): String = "\"" + MiniJson.escape(s) + "\""
  private def list(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")

  /** The pipeline request body, for the unified and the staged init route. */
  def body(src: String, dst: String): String =
    s"""{"source":{"type":"csv","path":${q(src)}},"transformers":[""" +
      s"""{"type":"null_remover","config":{"strategy":"drop"}},""" +
      s"""{"type":"dedup","config":{"match_fields":${list(matchFields)},""" +
      s""""merge_strategy":"keep_first"}},""" +
      s"""{"type":"quality_scorer","config":{"fields":${list(qualityFields)},""" +
      s""""min_score":0.5}},""" +
      s"""{"type":"anomaly_detector","config":{"method":"statistical",""" +
      s""""fields":${list(anomalyFields)},"threshold":3.0}}],""" +
      s""""destinations":[{"type":"parquet","path":${q(s"$dst/parquet")}},""" +
      s"""{"type":"jsonl","path":${q(s"$dst/jsonl")}}]}"""

  /** The same pipeline as the server parses it from `body`. */
  def config(src: String, dst: String): Config.PipelineConfig =
    Config.PipelineConfig(Config.CsvSource(src), Seq(
      Config.NullRemoverConf("drop"),
      Config.DeduplicatorConf(matchFields, "keep_first"),
      Config.QualityScorerConf(qualityFields, 0.5, filterLow = false),
      Config.AnomalyDetectorConf("statistical", anomalyFields, 3.0)),
      Seq(Config.ParquetDest(s"$dst/parquet"), Config.JsonlDest(s"$dst/jsonl")))

  private def post(path: String, body: String, tr: Tracer, span: String,
      id: String): String = {
    val r = Dashboard.Req(0, 0, span, 0, "POST", path, body)
    val (code, resp) = tr.span(span, id)(Dashboard.send(port, r))
    require(code == 200, s"$path failed ($code): ${resp.take(300)}")
    resp
  }

  private def field(resp: String, name: String): String =
    s""""$name":"?([^",}]+)""".r.findFirstMatchIn(resp)
      .getOrElse(sys.error(s"no $name in ${resp.take(300)}")).group(1)

  private def unified(dst: String, tr: Tracer, id: String): Long =
    field(post("/api/pipeline/unified", body(csv, dst), tr, "service.unified", id),
      "rows_loaded").toLong

  /** init, extract, transform, load: one route call each. Returns the
    * pipeline id and the times of the three stage calls in ms. */
  private def staged(dst: String, tr: Tracer, id: String): (String, Seq[Double]) = {
    val pid = field(post("/api/pipeline/staged/init", body(csv, dst), tr,
      "pipeline.staged.init", id), "pipeline_id")
    val steps = Seq("extract", "transform", "load").map { st =>
      val t0 = tr.nowMs
      post(s"/api/pipeline/staged/$pid/$st", "", tr, s"pipeline.staged.$st", id)
      tr.nowMs - t0
    }
    (pid, steps)
  }

  private def sinkName(d: Config.DestinationConfig): String = d match {
    case _: Config.ParquetDest => "parquet"
    case _: Config.JsonlDest => "jsonl"
    case other => other.getClass.getSimpleName
  }

  /** HttpMain's SQL settings on `base`'s context. */
  def session(base: SparkSession): SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s
  }

  /** Starts the server; its threads inherit `spark` as their active
    * session, which the pipeline routes run on. */
  def setup(spark: SparkSession): Unit = {
    val fs = new org.apache.hadoop.fs.Path(StagedDirFs.From)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[StagedDirFs],
      s"the staged directory is not redirected (${fs.getClass.getName})")
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    http = new HttpFacade(Facade.Tables(t => sys.error(s"no table $t")))
    try port = http.start(0)
    finally prev.foreach(SparkSession.setActiveSession)
    val (code, _) = Dashboard.send(port,
      Dashboard.Req(0, 0, "health", 0, "GET", "/health", ""))
    require(code == 200, s"health check failed ($code)")
  }

  private val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  def result(t0: Double): Map[String, Any] =
    Map("t0" -> t0, "passes" -> passes.toSeq, "out_dir" -> out)

  /** One unified run, then one staged run. */
  def runPass(spark: SparkSession, tr: Tracer, pass: Int): Unit = {
    val uDst = s"$out/u$pass"
    val sDst = s"$out/s$pass"
    val ps = tr.nowMs
    val (rows, unifiedMs, stagedMs, steps, pid) = tr.span("etl.pass", s"p$pass") {
      val us = tr.nowMs
      val n = unified(uDst, tr, s"p$pass-unified")
      val ue = tr.nowMs
      if (tr.enabled) tr.span("pipeline.unified", s"p$pass-inproc") {
        val cfg = config(csv, s"$out/i$pass")
        tr.span("pipeline.build", s"p$pass-inproc") {
          val src = Config.sourceFn(cfg.source)(spark)
          Config.build(cfg)
          cfg.transformers.map(Config.stageFor).foldLeft(src)((d, s) => s(d))
        }
        tr.span("pipeline.run", s"p$pass-inproc")(Config.build(cfg).run(spark))
      }
      val ss = tr.nowMs
      val (pid, steps) = staged(sDst, tr, s"p$pass-staged")
      val se = tr.nowMs
      (n, ue - us, se - ss, steps, pid)
    }
    val pe = tr.nowMs
    // untimed bookkeeping: bytes written, then the staged checkpoints go
    val store = Paths.get(StagedDirFs.onDisk(spark, s"${StagedDirFs.From}/$pid"))
    val storeBytes = du(store)
    require(storeBytes > 0, s"no staged checkpoints at $store")
    deleteTree(store)
    deleteTree(Paths.get(s"$out/i$pass"))
    passes += Map("pass" -> pass, "start" -> ps, "end" -> pe,
      "rows_loaded" -> rows, "unified_ms" -> unifiedMs, "staged_ms" -> stagedMs,
      "staged_steps_ms" -> steps,
      "unified_bytes" -> du(Paths.get(uDst)), "staged_sink_bytes" -> du(Paths.get(sDst)),
      "store_bytes" -> storeBytes)
  }

  /** Traced only: the io layer on its own — a full source read, each sink
    * on an already-cached transformed frame, and an `IntermediateStore`
    * save and load of that frame. */
  def ioProbe(spark: SparkSession, tr: Tracer): Unit = tr.span("io.probe", "probe") {
    val cfg = config(csv, s"$workDir/probe")
    tr.span("io.source_read", "probe")(
      Config.sourceFn(cfg.source)(spark).write.format("noop").mode("overwrite").save())
    val stages = cfg.transformers.map(Config.stageFor)
    val cached = stages.foldLeft(Config.sourceFn(cfg.source)(spark))((d, s) => s(d)).cache()
    try {
      tr.span("io.cache_fill", "probe")(cached.count())
      cfg.destinations.foreach { d =>
        tr.span(s"io.sink.${sinkName(d)}", "probe")(Config.sinkFn(d)(cached))
      }
      val store = new IntermediateStore(spark, s"$workDir/probe/store")
      tr.span("io.store.save", "probe")(store.save("transformed", cached, "transform"))
      tr.span("io.store.load", "probe")(store.load("transformed"))
    } finally { cached.unpersist(); () }
    deleteTree(Paths.get(s"$workDir/probe"))
  }

  def teardown(): Unit = if (http != null) http.stop()

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
      finally s.close()
    }

  private def du(p: Path): Long =
    files(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    files(p).sortBy(-_.getNameCount).foreach(Files.delete)
}

/** The local file system with the server's staged checkpoint directory
  * moved: paths under `From` are stored under the directory the Hadoop
  * setting `To` names, so the staged routes write inside the run's own
  * directory. Callers keep seeing the paths under `From`: file statuses
  * carry the path asked for. `Main` installs it as `fs.file.impl` on the
  * batch session. */
final class StagedDirFs extends org.apache.hadoop.fs.LocalFileSystem(new StagedDirFs.Raw)

object StagedDirFs {
  import org.apache.hadoop.fs.{FileStatus, Path => HPath}

  val From = "/tmp/graft_staged"
  val To = "graft.perfbench.staged_dir"

  final class Raw extends org.apache.hadoop.fs.RawLocalFileSystem {
    private var to: String = _
    override def initialize(uri: java.net.URI,
        conf: org.apache.hadoop.conf.Configuration): Unit = {
      super.initialize(uri, conf)
      to = conf.get(To)
    }
    private def moved(f: java.io.File): Boolean = {
      val s = f.getPath
      to != null && (s == From || s.startsWith(From + "/"))
    }
    override def pathToFile(path: HPath): java.io.File = {
      val f = super.pathToFile(path)
      if (moved(f)) new java.io.File(to + f.getPath.substring(From.length)) else f
    }
    // listStatus builds each child's status through getFileStatus
    override def getFileStatus(path: HPath): FileStatus = {
      val st = super.getFileStatus(path)
      if (!moved(super.pathToFile(path))) st
      else new FileStatus(st.getLen, st.isDirectory, st.getReplication,
        st.getBlockSize, st.getModificationTime, makeQualified(path))
    }
  }

  /** Where `path`, a path under `From`, is on disk. */
  def onDisk(spark: SparkSession, path: String): String =
    spark.sparkContext.hadoopConfiguration.get(To) + path.substring(From.length)
}
