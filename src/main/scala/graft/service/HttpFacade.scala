package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.AnomalyDetector
import graft.query.{AggregationSpec, BoundLiterals, Filter, Metric, QueryService}

/** Loopback JSON-over-HTTP server for the analytics facade — the consumption
  * mode the reference ships as FastAPI routes (`/root/reference/src/api/
  * main.py:905-1385`). Auth/org/source CRUD (`main.py:1388-2728`) is scoped
  * out per SURVEY §2.12; the table name stands in for the reference's
  * org/source indirection. JDK `com.sun.net.httpserver` — no dependencies.
  *
  * Routes (POST bodies match the reference's documented examples):
  *   POST /api/analytics/dashboard/query        (main.py:955-1033)
  *   POST /api/analytics/dashboard/drill-down   (main.py:1044-1120)
  *   GET  /api/analytics/dashboard/filter-values?table=&column=&search=&limit=
  *   GET  /api/analytics/dashboard/schema?table=&columns=a,b,c
  *   GET  /api/analytics/dashboard?kind=&table=
  *
  * Responses: `{"data": [...], "row_count": n, "query_time_ms": t}` — the
  * reference's envelope (`duckdb_service.py:417-431`). Rows are serialized
  * plan-side (`to_json`, explicit nulls) and streamed; the server holds at
  * most the already-limited result of the endpoint's query.
  *
  * These six envelope routes (the five above and `POST /api/analytics/
  * anomalies`) answer a repeated request from a [[ResponseCache]] of
  * rendered bodies, keyed by route, canonical request JSON and resolved
  * table frame, and bounded to `Runtime.maxMemory / 32` bytes per server.
  * Three routes also keep partial results in it, within the same budget:
  *   - filter-values: the sorted distinct values of a (column, search),
  *     one past the limit asked; a smaller limit, or any limit once the
  *     list is complete, is a slice.
  *   - drill-down: the first rows in page order of a (filters, columns,
  *     sort key, page size), [[DrillReadAheadPages]] pages past the one
  *     asked, fetched by the same job; a later page within them is a slice.
  *   - anomalies: the per-(fields, method) stats, so a new threshold runs
  *     only the flagging job.
  * Each response carries `X-Graft-Cache: hit|miss`; a hit (a kept body or
  * a slice, neither runs a job) has the body a miss would have, except for
  * `query_time_ms`, which is the hit's own serve time. Every other route
  * runs each time.
  *
  * While a server runs, the session it serves plans file scans through
  * [[BoundLiterals]]: a numeric comparison operand in a scan's filter or
  * projection is read by reference, so a miss that only changes such a
  * value reuses the compiled classes of the first request of its shape.
  */
final class HttpFacade(tables: Facade.Tables, maxRows: Int = 100000) {
  import HttpFacade._
  import ResponseCache.Prefix
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private val cache = new ResponseCache(Runtime.getRuntime.maxMemory / 32)
  /** The session this server put [[BoundLiterals]] on, to take it off again. */
  private var boundOn: Option[SparkSession] = None

  def start(port: Int = 0): Int = {
    val spark = SparkSession.active
    if (BoundLiterals.install(spark)) boundOn = Some(spark)
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/api/analytics/dashboard/query", postCtx(handleQuery))
    server.createContext("/api/analytics/dashboard/drill-down", postCtx(handleDrillDown))
    server.createContext("/api/analytics/dashboard/filter-values", getCtx(handleFilterValues))
    server.createContext("/api/analytics/dashboard/schema", getCtx(handleSchema))
    server.createContext("/api/analytics/dashboard", getCtx(handleDashboard))
    server.createContext("/api/analytics/anomalies", postCtx(handleAnomalies))
    server.createContext("/api/analytics/generate-insights", postJsonCtx(handleInsights))
    server.createContext("/api/analytics/visualizations/generate", postJsonCtx(handleVizGenerate))
    server.createContext("/api/pipeline/unified", postJsonCtx(handlePipeline))
    server.createContext("/api/pipeline/staged", safe(handleStaged))
    server.createContext("/api/pipeline", safe(handleStatus)) // /{id}/status
    server.createContext("/api/pipelines",
      safe(ex => send(ex, 200, listPipelines())))
    server.createContext("/health",
      safe(ex => send(ex, 200, """{"status":"healthy"}""")))
    // a small pool: requests block on Spark actions, and Spark's scheduler
    // (FIFO/fair) arbitrates the actual cluster work
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  /** Stops serving, takes [[BoundLiterals]] off, and releases every staged
    * pipeline: its state, and its boundaries under `/tmp/graft_staged/<id>`
    * (one already gone is skipped). */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) { pool.shutdown(); () }
    boundOn.foreach(BoundLiterals.uninstall)
    boundOn = None
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach { spark =>
      stagedPipelines.values.forEach { st =>
        try new graft.io.IntermediateStore(spark, st.storeDir).cleanup()
        catch { case scala.util.control.NonFatal(_) => () } // release the rest
      }
    }
    stagedPipelines.clear()
  }

  // ---- request parsing (reference body shapes) ----------------------------

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }
  private def asList(v: Any): List[Any] = v match {
    case l: List[_] => l
    case _ => Nil
  }
  private def asStr(v: Any): String = String.valueOf(v)
  private def asInt(v: Any, default: Int): Int = v match {
    case l: Long => l.toInt
    case d: Double => d.toInt
    case _ => default
  }
  // MiniJson parses whole-number literals as Long — a Double-only match
  // would silently drop e.g. "threshold": 3
  private def asDouble(v: Any, default: Double): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case _ => default
  }

  /** `{"column": c, "operator": op, "value": v}` with the reference's twelve
    * operator names (`duckdb_service.py:271-324`). */
  private[service] def parseFilter(m: Map[String, Any]): Filter = {
    val c = asStr(m("column"))
    val v = m.getOrElse("value", null)
    asStr(m("operator")) match {
      case "eq" => Filter.Eq(c, v)
      case "neq" => Filter.Neq(c, v)
      case "in" => Filter.In(c, asList(v))
      case "not_in" => Filter.NotIn(c, asList(v))
      case "between" =>
        val l = asList(v); Filter.Between(c, l.head, l(1))
      case "gt" => Filter.Gt(c, v)
      case "gte" => Filter.Gte(c, v)
      case "lt" => Filter.Lt(c, v)
      case "lte" => Filter.Lte(c, v)
      case "contains" => Filter.Contains(c, asStr(v))
      case "is_null" => Filter.IsNull(c)
      case "is_not_null" => Filter.IsNotNull(c)
      case other => throw new IllegalArgumentException(s"unknown operator $other")
    }
  }

  /** `{"group_by": [...], "metrics": [{"column","agg","alias"}], "order_by",
    * "order_desc", "limit"}` (main.py:971-978). */
  private[service] def parseAgg(m: Map[String, Any]): AggregationSpec = {
    val metrics = asList(m.getOrElse("metrics", Nil)).map { mm =>
      val mv = asMap(mm)
      val c = asStr(mv("column"))
      Metric(asStr(mv.getOrElse("agg", "sum")), c,
        asStr(mv.getOrElse("alias", c)))
    }
    val orderBy = m.get("order_by").map(ob =>
      (asStr(ob), !m.get("order_desc").forall(_ == true)))
    AggregationSpec(
      groupBy = asList(m.getOrElse("group_by", Nil)).map(asStr),
      metrics = metrics,
      orderBy = orderBy,
      limit = m.get("limit").map(asInt(_, 1000)))
  }

  // ---- handlers -----------------------------------------------------------

  private def handleQuery(body: Map[String, Any]): Rows =
    rowsOf(Facade.handle(Facade.Query(
      table = asStr(body("table")),
      filters = asList(body.getOrElse("filters", Nil)).map(f => parseFilter(asMap(f))),
      agg = parseAgg(asMap(body.getOrElse("aggregation", Map.empty)))))(tables))

  /** A page sliced from the first rows in page order, which a miss fetches
    * [[DrillReadAheadPages]] pages past the page asked for. A read-ahead
    * past `maxRows` rows runs the page alone. */
  private def handleDrillDown(body: Map[String, Any]): Rows = {
    // dimension + dimension_value sugar (main.py:1095-1099) folds into an eq
    val dimFilter = body.get("dimension").map(d =>
      Filter.Eq(asStr(d), body.getOrElse("dimension_value", null)))
    val req = Facade.DrillDown(
      table = asStr(body("table")),
      filters = dimFilter.toSeq ++
        asList(body.getOrElse("filters", Nil)).map(f => parseFilter(asMap(f))),
      columns = asList(body.getOrElse("columns", Nil)).map(asStr),
      sortKey = body.get("sort_key").map(asStr).getOrElse(
        asList(body.getOrElse("columns", Nil)).map(asStr).headOption
          .getOrElse(tables.resolve(asStr(body("table"))).columns.head)),
      limit = asInt(body.getOrElse("limit", 100L), 100),
      offset = asInt(body.getOrElse("offset", 0L), 0))
    val ahead = req.offset.toLong + req.limit.toLong * (1 + DrillReadAheadPages)
    if (req.offset < 0 || req.limit < 0 || ahead > maxRows)
      rowsOf(Facade.handle(req)(tables))
    else {
      val frame = tables.resolve(req.table)
      val (window, reused) = cache.reuse[Prefix]("drill-down#window",
        (body - "offset") + ("sort_key" -> req.sortKey) + ("limit" -> req.limit.toLong),
        frame, _.weight, _.covers(req.offset + req.limit)) {
        Prefix(jsonRows(QueryService.drillDownOrdered(frame, req.filters,
          req.columns, req.sortKey).limit(ahead.toInt), ahead.toInt), ahead.toInt)
      }
      Rows(window.rows.slice(req.offset, req.offset + req.limit), reused)
    }
  }

  /** The flags over the per-(fields, method) stats, computed once per
    * table frame: a new threshold runs only the flagging job. */
  private def handleAnomalies(body: Map[String, Any]): Rows = {
    val req = Facade.Anomalies(
      table = asStr(body("table")),
      method = asStr(body.getOrElse("method", "statistical")),
      fields = asList(body.getOrElse("fields", Nil)).map(asStr),
      threshold = asDouble(body.getOrElse("threshold", 3.0), 3.0))
    val frame = tables.resolve(req.table)
    val (stats, _) = cache.reuse[AnomalyDetector.Stats]("anomalies#stats",
      Map("method" -> req.method, "fields" -> req.fields), frame,
      s => StatsFieldBytes * s.size) {
      AnomalyDetector.statsFor(frame, req.method, req.fields)
    }
    rowsOf(AnomalyDetector.flagWith(frame, req.method, req.fields, stats,
      req.threshold))
  }

  /** The first `limit` values sliced from the sorted distinct values of
    * the (column, search), which a miss fetches one past its own limit, so
    * a list shorter than that is known to be complete. */
  private def handleFilterValues(q: Map[String, String]): Rows = {
    val req = Facade.FilterValues(
      table = q("table"), column = q("column"),
      search = q.get("search").filter(_.nonEmpty),
      limit = q.get("limit").map(_.toInt).getOrElse(100))
    if (req.limit < 0) rowsOf(Facade.handle(req)(tables))
    else {
      val shown = math.min(req.limit, maxRows + 1) // what the envelope reads
      val frame = tables.resolve(req.table)
      val (values, reused) = cache.reuse[Prefix]("filter-values#values",
        Map("column" -> req.column, "search" -> req.search.orNull), frame,
        _.weight, _.covers(shown)) {
        Prefix(jsonRows(QueryService.filterValues(frame, req.column, req.search,
          shown + 1), shown + 1), shown + 1)
      }
      Rows(values.rows.take(shown), reused)
    }
  }

  private def handleSchema(q: Map[String, String]): Rows = {
    val t = q("table")
    val cols = q.get("columns").filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(tables.resolve(t).columns.toSeq)
    rowsOf(Facade.handle(Facade.Profile(t, cols))(tables))
  }

  private def handleDashboard(q: Map[String, String]): Rows =
    rowsOf(Facade.handle(Facade.Dashboard(
      kind = q.getOrElse("kind", "summary"), table = q("table")))(tables))

  /** `POST /api/analytics/generate-insights` (main.py:789-860): the
    * engine-side profile text the reference feeds its LLM call (the call
    * itself is out of scope — no egress). */
  private def handleInsights(body: Map[String, Any]): String = {
    val df = tables.resolve(asStr(body("table")))
    val text = graft.viz.InsightProfile.profileText(df,
      asInt(body.getOrElse("sample_rows", 1000L), 1000))
    MiniJson.render(Map("insights" -> text, "status" -> "generated"))
  }

  /** `POST /api/analytics/visualizations/generate` (main.py:1238-1297):
    * analyze the table, pick charts, aggregate each chart's data and return
    * ready-to-render ECharts configs. */
  private def handleVizGenerate(body: Map[String, Any]): String = {
    import graft.viz.{Echarts, Visualization}
    val df = tables.resolve(asStr(body("table")))
    val max = asInt(body.getOrElse("max_charts", 5L), 5)
    val charts = Visualization.selectCharts(Visualization.analyze(df), max)
    val rendered = charts.map { cfg =>
      val data = Visualization.dataFor(df, cfg)
      val rows = Echarts.rowsOf(data, limit = 100)
      val (xf, yf) = (data.columns.head,
        data.columns.lift(1).getOrElse(data.columns.head))
      val chart = Echarts.generate(cfg.chartType, rows, xf, yf,
        title = Some(s"${cfg.chartType}: ${cfg.x}"))
      s"""{"chart_type":"${MiniJson.escape(cfg.chartType)}",""" +
        s""""x":"${MiniJson.escape(cfg.x)}"""" +
        cfg.y.map(y => s""","y":"${MiniJson.escape(y)}"""").getOrElse("") +
        s""","priority":${cfg.priority},"echarts":${chart.render}}"""
    }
    s"""{"visualizations":${rendered.mkString("[", ",", "]")},"count":${rendered.length}}"""
  }

  /** `POST /api/pipeline/unified` (main.py:102-180): full
    * extract→transform→load from one JSON config — the reference's primary
    * execution endpoint. Org/RAG auto-pathing is scoped out (SURVEY §2.12);
    * sources/destinations are taken as given. */
  private def handlePipeline(body: Map[String, Any]): String = {
    val cfg = parsePipelineConfig(body)
    val result = Config.build(cfg)
      .run(org.apache.spark.sql.SparkSession.active)
    val stages = result.stageRowCounts.map { case (k, v) =>
      s""""${MiniJson.escape(k)}":$v""" }.mkString("{", ",", "}")
    s"""{"pipeline_id":"${java.util.UUID.randomUUID()}","mode":"unified",""" +
      s""""status":"completed","rows_loaded":${result.rowsLoaded},""" +
      s""""stage_counts":$stages}"""
  }

  /** Reference request shapes (`models.py:28-120`) → `Config` ADTs. */
  private[service] def parsePipelineConfig(body: Map[String, Any]): Config.PipelineConfig = {
    val src = asMap(body("source"))
    val source = asStr(src("type")) match {
      case "csv" => Config.CsvSource(asStr(src("path")))
      case "json" => Config.JsonSource(asStr(src("path")))
      case "parquet" => Config.ParquetSource(asStr(src("path")))
      case "database" | "postgresql" => Config.JdbcSource(
        asStr(src("connection_string")), asStr(src("table_name")))
      case other => throw new IllegalArgumentException(s"unknown source $other")
    }
    val transformers = asList(body.getOrElse("transformers", Nil)).map { t =>
      val tm = asMap(t)
      val c = asMap(tm.getOrElse("config", Map.empty))
      asStr(tm("type")) match {
        case "null_remover" => Config.NullRemoverConf(
          asStr(c.getOrElse("strategy", "drop")),
          asList(c.getOrElse("fields", Nil)).map(asStr),
          asStr(c.getOrElse("fill_value", "")))
        case "dedup" => Config.DeduplicatorConf(
          asList(c.getOrElse("match_fields", Nil)).map(asStr),
          asStr(c.getOrElse("merge_strategy", "keep_first")))
        case "quality_scorer" => Config.QualityScorerConf(
          asList(c.getOrElse("fields", Nil)).map(asStr),
          asDouble(c.getOrElse("min_score", 0.5), 0.5),
          c.get("filter_low").contains(true))
        case "anomaly_detector" => Config.AnomalyDetectorConf(
          asStr(c.getOrElse("method", "statistical")),
          asList(c.getOrElse("fields", Nil)).map(asStr),
          asDouble(c.getOrElse("threshold", 3.0), 3.0))
        case "schema_inferrer" => Config.SchemaInferrerConf(
          asList(c.getOrElse("fields", Nil)).map(asStr))
        case "aggregator" => Config.AggregatorConf(
          asList(c.getOrElse("group_by", Nil)).map(asStr),
          asList(c.getOrElse("aggregations", Nil)).map { a =>
            val am = asMap(a)
            (asStr(am("column")), asStr(am.getOrElse("agg", "sum")),
              asStr(am.getOrElse("alias", asStr(am("column")))))
          })
        case "column_remover" => Config.ColumnRemoverConf(
          asList(c.getOrElse("columns", Nil)).map(asStr).toSet)
        case "metadata_to_columns" => Config.MetadataToColumnsConf()
        case other => throw new IllegalArgumentException(s"unknown transformer $other")
      }
    }
    val dests = asList(body.getOrElse("destinations",
      body.get("destination").map(List(_)).getOrElse(Nil))).map { d =>
      val dm = asMap(d)
      asStr(dm("type")) match {
        case "csv" => Config.CsvDest(asStr(dm("path")))
        // "json" = single JSON-array file, the reference default
        // (pipeline_service.py:643-646, json_loader.py:23); line-delimited
        // output stays reachable via the explicit "jsonl" type
        case "json" => Config.JsonArrayDest(asStr(dm("path")))
        case "jsonl" => Config.JsonlDest(asStr(dm("path")))
        case "parquet" => Config.ParquetDest(asStr(dm("path")))
        case "sqlite" | "postgres" => Config.JdbcDest(
          asStr(dm("connection_string")),
          asStr(dm.getOrElse("table_name", "etl_data")))
        case other => throw new IllegalArgumentException(s"unknown destination $other")
      }
    }
    Config.PipelineConfig(source, transformers, dests)
  }

  // ---- staged mode (main.py:183-330) --------------------------------------

  /** One staged pipeline's lifecycle: its [[graft.pipeline.Pipeline]], built
    * at init, runs one `step` per HTTP call off the boundaries it keeps
    * under `storeDir`, so each call is independent (the reference's staged
    * mode persists between calls the same way). */
  private final class StagedState(val name: String,
      val pipeline: graft.pipeline.Pipeline, val storeDir: String) {
    val createdAt: Long = System.currentTimeMillis()
    @volatile var updatedAt: Long = createdAt
    @volatile var extractStatus = "pending"
    @volatile var transformStatus = "pending"
    @volatile var loadStatus = "pending"
    @volatile var extractRecords: Option[Long] = None
    @volatile var transformRecords: Option[Long] = None
    def overall: String =
      if (Seq(extractStatus, transformStatus, loadStatus).contains("failed")) "failed"
      else if (loadStatus == "completed") "completed"
      else if (extractStatus == "pending") "initialized"
      else "in_progress"
    /** Sets `stage`'s status and, for extract and transform, its records. */
    def mark(stage: String, status: String, records: Option[Long] = None): Unit = {
      stage match {
        case "extract" =>
          extractStatus = status; extractRecords = records.orElse(extractRecords)
        case "transform" =>
          transformStatus = status; transformRecords = records.orElse(transformRecords)
        case _ => loadStatus = status
      }
      updatedAt = System.currentTimeMillis()
    }
  }

  private val stagedPipelines =
    new java.util.concurrent.ConcurrentHashMap[String, StagedState]()

  private def handleStaged(ex: HttpExchange): Unit = {
    val rest = ex.getRequestURI.getPath.stripPrefix("/api/pipeline/staged")
      .stripPrefix("/")
    if (rest == "init") {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val parsed = asMap(MiniJson.parse(body))
      val id = java.util.UUID.randomUUID().toString
      val st = new StagedState(asStr(parsed.getOrElse("name", "pipeline")),
        Config.build(parsePipelineConfig(parsed)), s"/tmp/graft_staged/$id")
      stagedPipelines.put(id, st)
      send(ex, 200, s"""{"pipeline_id":"$id","mode":"staged",""" +
        s""""status":"initialized","message":"staged pipeline created"}""")
    } else rest.split("/") match {
      case Array(id, stage) if stagedPipelines.containsKey(id) =>
        send(ex, 200, runStage(id, stagedPipelines.get(id), stage))
      case _ => send(ex, 404, """{"detail":"pipeline not found"}""")
    }
  }

  private def runStage(id: String, st: StagedState, stage: String): String = {
    val spark = org.apache.spark.sql.SparkSession.active
    val t0 = System.nanoTime()
    try {
      if (stage == "transform")
        require(st.extractStatus == "completed", "extract has not run")
      if (stage == "load")
        require(st.transformStatus == "completed" ||
          (st.pipeline.stageNames.isEmpty && st.extractStatus == "completed"),
          "transform has not run")
      val n = st.pipeline.step(spark,
        new graft.io.IntermediateStore(spark, st.storeDir), stage)
      st.mark(stage, "completed", Some(n))
      val secs = (System.nanoTime() - t0) / 1e9
      s"""{"pipeline_id":"$id","stage":"$stage","status":"completed",""" +
        f""""records":$n,"duration_seconds":$secs%.3f,"message":"$stage completed"}"""
    } catch {
      case e: Throwable =>
        st.mark(stage, "failed")
        throw e
    }
  }

  private def statusJson(id: String, st: StagedState): String =
    s"""{"pipeline_id":"$id","name":"${MiniJson.escape(st.name)}",""" +
      s""""mode":"staged","overall_status":"${st.overall}",""" +
      s""""extract_status":"${st.extractStatus}",""" +
      s""""transform_status":"${st.transformStatus}",""" +
      s""""load_status":"${st.loadStatus}"""" +
      st.extractRecords.fold("")(n => s""","extract_records":$n""") +
      st.transformRecords.fold("")(n => s""","transform_records":$n""") +
      s""","created_at":${st.createdAt},"updated_at":${st.updatedAt}}"""

  private def handleStatus(ex: HttpExchange): Unit = {
    val rest = ex.getRequestURI.getPath.stripPrefix("/api/pipeline")
      .stripPrefix("/")
    rest.split("/") match {
      case Array(id, "status") if stagedPipelines.containsKey(id) =>
        send(ex, 200, statusJson(id, stagedPipelines.get(id)))
      case Array(id, "data", "preview") if stagedPipelines.containsKey(id) =>
        // GET .../data/preview?stage=transformed&limit=100 (main.py:369)
        val q = queryParams(ex)
        val st = stagedPipelines.get(id)
        val store = new graft.io.IntermediateStore(
          org.apache.spark.sql.SparkSession.active, st.storeDir)
        val key = q.getOrElse("stage", "transformed")
        if (!store.exists(key))
          send(ex, 404, s"""{"detail":"No data found for stage '$key'"}""")
        else {
          val (df, _) = store.load(key)
          respond(ex, df.limit(q.get("limit").map(_.toInt).getOrElse(100)))
        }
      case _ => send(ex, 404, """{"detail":"pipeline not found"}""")
    }
  }

  private def listPipelines(): String = {
    import scala.jdk.CollectionConverters._
    stagedPipelines.asScala.toSeq.sortBy(_._2.createdAt)
      .map { case (id, st) => statusJson(id, st) }
      .mkString("[", ",", "]")
  }

  // ---- plumbing -----------------------------------------------------------

  /** POST handler returning a pre-rendered JSON body (non-envelope routes). */
  private def postJsonCtx(post: Map[String, Any] => String): com.sun.net.httpserver.HttpHandler =
    safe { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val parsed = if (body.trim.isEmpty) Map.empty[String, Any]
                   else asMap(MiniJson.parse(body))
      send(ex, 200, post(parsed))
    }

  private def postCtx(post: Map[String, Any] => Rows): com.sun.net.httpserver.HttpHandler =
    safe { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val parsed = if (body.trim.isEmpty) Map.empty[String, Any]
                   else asMap(MiniJson.parse(body))
      respondCached(ex, parsed.get("table").map(asStr), parsed)(post(parsed))
    }

  private def getCtx(get: Map[String, String] => Rows): com.sun.net.httpserver.HttpHandler =
    safe { ex =>
      val q = queryParams(ex)
      respondCached(ex, q.get("table"), q)(get(q))
    }

  /** An envelope route through the response cache. A request without a
    * table runs uncached (its handler answers the error). */
  private def respondCached(ex: HttpExchange, table: Option[String],
      request: Map[String, _])(rows: => Rows): Unit = {
    val t0 = System.nanoTime()
    var queryMs = 0L
    var sliced = false
    // timed from before the frame is built: a route's eager jobs (the
    // schema route's profile passes, the anomalies route's stats) run there
    def run(): Array[Byte] = {
      val t = System.nanoTime()
      val r = rows
      sliced = r.reused
      val head = ResponseCache.envelopeHead(r.json, maxRows)
      queryMs = (System.nanoTime() - t) / 1000000L
      head
    }
    ex.getResponseHeaders.set("X-Graft-Cache", "miss")
    val (head, hit) = table.fold((run(), false)) { t =>
      cache.getOrCompute(ex.getHttpContext.getPath, request, tables.resolve(t))(run())
    }
    if (hit || sliced) ex.getResponseHeaders.set("X-Graft-Cache", "hit")
    sendEnvelope(ex, head,
      if (hit) (System.nanoTime() - t0) / 1000000L else queryMs)
  }

  private def safe(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      // Multi-user fairness: each server thread submits its Spark jobs
      // into its own scheduler pool, so under spark.scheduler.mode=FAIR
      // (set by HttpMain) one user's heavy aggregation time-slices
      // against everyone else's dashboard clicks instead of queueing them
      // behind it (FIFO would run them strictly in arrival order). Pools
      // are created on demand; thread-pool size bounds the pool count.
      // Local properties are per-thread and threads are reused — always
      // reset in finally.
      val sc = org.apache.spark.sql.SparkSession.getDefaultSession
        .map(_.sparkContext)
      sc.foreach(_.setLocalProperty("spark.scheduler.pool",
        s"graft-req-${Thread.currentThread().getId}"))
      try f(ex)
      catch {
        case e: Throwable =>
          val msg = MiniJson.render(Map("detail" -> String.valueOf(e.getMessage)))
          send(ex, 500, msg)
      } finally sc.foreach(_.setLocalProperty("spark.scheduler.pool", null))
    }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) ->
          java.net.URLDecoder.decode(v, UTF_8)
      }.toMap
    }

  /** The reference's response envelope; rows serialized plan-side. The
    * server never materializes more than `maxRows` (+1 to detect overflow) —
    * an endpoint whose query exceeds the cap returns the first `maxRows`
    * with `"truncated": true` instead of buffering an unbounded frame. */
  private def respond(ex: HttpExchange, df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val head = ResponseCache.envelopeHead(rowsOf(df).json, maxRows)
    sendEnvelope(ex, head, (System.nanoTime() - t0) / 1000000L)
  }

  /** The envelope's rows of `df`: one past `maxRows` at most, so an
    * overflow shows. */
  private def rowsOf(df: DataFrame): Rows = Rows(jsonRows(df, maxRows + 1), reused = false)

  private def sendEnvelope(ex: HttpExchange, head: Array[Byte], queryMs: Long): Unit =
    send(ex, 200, head ++ s""","query_time_ms":$queryMs}""".getBytes(UTF_8))

  private def send(ex: HttpExchange, code: Int, body: String): Unit =
    send(ex, code, body.getBytes(UTF_8))

  private def send(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

private object HttpFacade {

  /** Pages a drill-down miss fetches past the one asked for, in the same
    * job. Fetching k pages of 100 rows, rendered, at sf0.01 on 4 cores
    * (median of 20 warm runs, ms, quartiles in brackets):
    *
    *   k         1            5            10
    *   orders    91 [75-102]  83 [76-89]   83 [77-101]
    *   events    67 [62-72]   73 [64-77]   75 [71-82]
    *
    * Five pages cost one page's job within its spread (the scan and the
    * sort dominate, not k); ten begin to cost more on events. So a
    * session's next four pages ride its first page's job. */
  val DrillReadAheadPages = 4

  /** What a kept field's anomaly stats weigh: the map entry, its key and
    * the five-number stats object. */
  val StatsFieldBytes = 160L

  /** An envelope route's rows rendered `to_json`, and whether they were
    * sliced from a kept partial result (no job ran). */
  final case class Rows(json: Array[String], reused: Boolean)

  /** The first `n` rows of `df`, each rendered `to_json` with explicit
    * nulls — the envelope's row form, serialized plan-side. */
  def jsonRows(df: DataFrame, n: Int): Array[String] = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    df.select(to_json(struct(df.columns.map(col): _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .limit(n)
      .collect().map(_.getString(0))
  }
}
