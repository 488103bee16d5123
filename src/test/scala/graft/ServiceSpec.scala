package graft

import org.apache.spark.sql.functions._
import graft.service.{AutoTuner, Config, Paths}
import graft.operators.IsolationForest

class ServiceSpec extends SparkSuite {

  test("facade dispatches every analytics endpoint to the engine") {
    import graft.service.Facade
    import graft.query.{AggregationSpec, Filter, Metric}
    implicit val tables: Facade.Tables =
      Facade.Tables(name => graft.core.Tables.table(spark, sfDir, name))

    val q = Facade.handle(Facade.Query("lineitem",
      Seq(Filter.Gt("l_quantity", 10.0)),
      AggregationSpec(Seq("l_returnflag"),
        Seq(Metric("sum", "l_extendedprice", "total")))))
    assert(q.columns.toSeq == Seq("l_returnflag", "total") && q.count() > 0)

    val dd = Facade.handle(Facade.DrillDown("customer",
      Seq(Filter.Eq("c_mktsegment", "BUILDING")),
      Seq("c_custkey", "c_name"), sortKey = "c_custkey", limit = 5, offset = 2))
    assert(dd.count() == 5)

    val fv = Facade.handle(Facade.FilterValues("lineitem", "l_returnflag"))
    assert(fv.count() <= 3)

    val prof = Facade.handle(Facade.Profile("events", Seq("value", "event_type")))
    assert(prof.count() == 2)

    // orders: amount keywords hit o_totalprice, date keywords o_orderdate
    val dash = Facade.handle(Facade.Dashboard("summary", "orders"))
    assert(dash.columns.contains("total_amount") && dash.count() == 1)
    val byDate = Facade.handle(Facade.Dashboard("by_date", "orders"))
    assert(byDate.columns.contains("service_date") && byDate.count() > 0)

    val anom = Facade.handle(Facade.Anomalies("events", "statistical",
      Seq("value"), threshold = 2.0))
    assert(anom.columns.contains("_meta_is_anomaly"))

    assert(Facade.handle(Facade.FilterValues("region", "r_name")).count() == 5)
  }
  import spark.implicits._

  test("isolation forest scores planted outliers above inliers (property)") {
    val data = ((1 to 200).map(i => (i.toLong, 10.0 + (i % 7))) ++
      Seq((201L, 5000.0), (202L, -4000.0))).toDF("id", "v")
    val out = IsolationForest.detect(data, Seq("v"), "id",
      contamination = 0.01, numTrees = 50)
    val flagged = out.filter(col("_meta_is_anomaly"))
      .select("id").as[Long].collect().toSet
    assert(flagged.contains(201L) || flagged.contains(202L))
    // determinism: same seed → same scores
    val s1 = IsolationForest.detect(data, Seq("v"), "id", numTrees = 20)
      .select("id", "_iforest_score").as[(Long, Double)].collect().toMap
    val s2 = IsolationForest.detect(data, Seq("v"), "id", numTrees = 20)
      .select("id", "_iforest_score").as[(Long, Double)].collect().toMap
    assert(s1 == s2)
  }

  test("flattened iforest scoring is bit-identical to the boxed tree walk") {
    val data = ((1 to 300).map(i => (i.toLong, (i % 13) * 1.7, (i % 5) * 3.0)) ++
      Seq((301L, 900.0, -700.0))).toDF("id", "a", "b")
    val model = IsolationForest.fit(data, Seq("a", "b"), "id", numTrees = 40)
    val rows = Seq(Array(1.7, 3.0), Array(900.0, -700.0), Array(0.0, 0.0),
      Array(-5.5, 12.0), Array(22.1, 6.0))
    rows.foreach { r =>
      assert(IsolationForest.score(model, r) ==
        graft.operators.OperatorTwins.scoreBoxed(model, r))
    }
  }

  test("custom aggregators register and partial-aggregate correctly") {
    graft.functions.CustomAggregators.registerBuiltins(spark)
    Seq(2.0, 8.0).toDF("v").createOrReplaceTempView("ca_test")
    val r = spark.sql(
      "SELECT geometric_mean(v) AS g, value_range(v) AS r FROM ca_test").head()
    assert(math.abs(r.getDouble(0) - 4.0) < 1e-9) // sqrt(2*8)
    assert(r.getDouble(1) == 6.0)
  }

  test("auto tuner recommends argmax batch size with confidence") {
    val tuner = new AutoTuner()
    Seq(100 -> 4355.0, 500 -> 12132.0, 1000 -> 13495.0, 2500 -> 12740.0)
      .foreach { case (b, tput) =>
        tuner.record(tuner.Run(b, records = (tput * 10).toLong,
          seconds = 10.0, mbProcessed = 100.0))
      }
    val rec = tuner.recommend().get
    assert(rec.batchSize == 1000)
    assert(rec.confidence > 0 && rec.confidence <= 1.0)
  }

  test("auto tuner: per-pipeline history, persistence, targets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tuner").toString
    val tuner = new AutoTuner(statePath = Some(dir), minSamples = 3)
    // below min_samples → no recommendation, reason says so
    tuner.recordPerformance(tuner.Metrics("p1", 100, 40000L, 10.0, 50.0))
    val early = tuner.getRecommendations("p1")
    assert(!early.hasRecommendations && early.reason.contains("Insufficient"))
    // more runs: 1000 is clearly best
    Seq(500 -> 120000L, 1000 -> 140000L, 1000 -> 138000L, 2500 -> 125000L)
      .foreach { case (b, r) =>
        tuner.recordPerformance(tuner.Metrics("p1", b, r, 10.0, 60.0))
      }
    val rec = tuner.getRecommendations("p1", currentBatchSize = Some(500))
    assert(rec.hasRecommendations && rec.batchSize.contains(1000))
    assert(rec.confidence > 0 && rec.confidence <= 1.0)
    assert(rec.stats("successful_runs") == 5)
    assert(rec.reason.contains("Optimal batch size is 1000"))
    // already at the optimum → "near optimal"
    val at = tuner.getRecommendations("p1", currentBatchSize = Some(1000))
    assert(!at.hasRecommendations && at.reason.contains("near optimal"))
    // persistence: a new instance reloads the same history
    val reloaded = new AutoTuner(statePath = Some(dir), minSamples = 3)
    assert(reloaded.runs("p1").size == 5)
    assert(reloaded.getRecommendations("p1", Some(500)).batchSize.contains(1000))
    // memory target inverts the preference (smaller per-record footprint)
    val memTuner = new AutoTuner(minSamples = 3, target = "memory")
    memTuner.recordPerformance(memTuner.Metrics("m", 100, 1000L, 1.0, 10.0))
    memTuner.recordPerformance(memTuner.Metrics("m", 5000, 1000L, 1.0, 500.0))
    memTuner.recordPerformance(memTuner.Metrics("m", 100, 1000L, 1.0, 10.0))
    assert(memTuner.getRecommendations("m", Some(5000)).batchSize.contains(100))
    // failed runs are excluded from scoring but counted in analysis
    tuner.recordPerformance(tuner.Metrics("p1", 10000, 0L, 10.0, 60.0,
      success = false, error = Some("oom")))
    assert(tuner.analyzeHistory("p1")("failed_runs") == 1)
    assert(tuner.getRecommendations("p1", Some(500)).batchSize.contains(1000))
  }

  test("config factory builds a runnable pipeline") {
    val out = java.nio.file.Files.createTempDirectory("graft_cfg").toString
    val cfg = Config.PipelineConfig(
      source = Config.ParquetSource(s"$sfDir/customer.parquet"),
      transformers = Seq(
        Config.QualityScorerConf(fields = Seq("c_custkey", "c_name")),
        Config.ColumnRemoverConf(prefix = Some("_meta_"),
          keep = Set("_meta_quality_score"))),
      destinations = Seq(Config.ParquetDest(s"$out/gold"),
        Config.JsonlDest(s"$out/rag")))
    val result = Config.build(cfg).run(spark)
    assert(result.rowsLoaded == 150L)
    assert(spark.read.parquet(s"$out/gold").count() == 150L)
    assert(spark.read.json(s"$out/rag").count() == 150L)
  }

  test("a pipeline's combined anomaly stage flags what the anomalies route flags") {
    import graft.service.Facade
    // 1..20 and two 40s: each 40 has z = 2.65 and lies past Q3 + 2·IQR
    // (37.75), so both votes flag it at threshold 2.0; z = 3.0 would not
    val df = ((1 to 20).map(_.toDouble) ++ Seq(40.0, 40.0)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    def flagged(out: org.apache.spark.sql.DataFrame): Set[Long] =
      out.filter(col("_meta_is_anomaly")).select("id").as[Long].collect().toSet
    val route = flagged(Facade.handle(Facade.Anomalies("t", "combined",
      Seq("v"), 2.0))(Facade.Tables(_ => df)))
    val stage = Config.stageFor(Config.AnomalyDetectorConf("combined", Seq("v"), 2.0))
    val piped = flagged(graft.pipeline.Pipeline.extract(_ => df)
      .transform(stage).run(spark).df)
    assert(route == Set(20L, 21L))
    assert(piped == route)
  }

  test("one config run unified and staged over HTTP writes equal outputs") {
    import graft.service.{Facade, HttpFacade, MiniJson}
    val dir = java.nio.file.Files.createTempDirectory("graft_u_vs_s").toString
    graft.io.Sinks.csv(graft.core.Tables.table(spark, sfDir, "customer"), s"$dir/in")
    def body(dst: String) =
      s"""{"source": {"type": "csv", "path": "$dir/in"},
          "transformers": [
            {"type": "null_remover", "config": {"strategy": "drop"}},
            {"type": "dedup", "config": {"match_fields": ["c_nationkey"]}},
            {"type": "quality_scorer", "config": {"fields": ["c_name", "c_mktsegment"]}},
            {"type": "anomaly_detector", "config": {"method": "statistical",
              "fields": ["c_acctbal"], "threshold": 1.0}}],
          "destinations": [{"type": "parquet", "path": "$dst/parquet"},
            {"type": "jsonl", "path": "$dst/jsonl"}]}"""
    val http = new HttpFacade(Facade.Tables(t => sys.error(s"no table $t")))
    val port = http.start()
    def post(path: String, b: String = ""): Map[String, Any] = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes("UTF-8"))
      val ok = conn.getResponseCode == 200
      val text = new String((if (ok) conn.getInputStream else conn.getErrorStream)
        .readAllBytes(), "UTF-8")
      assert(ok, s"$path: $text")
      MiniJson.parse(text).asInstanceOf[Map[String, Any]]
    }
    try {
      val unified = post("/api/pipeline/unified", body(s"$dir/u"))
      val pid = post("/api/pipeline/staged/init", body(s"$dir/s"))("pipeline_id")
      val steps = Seq("extract", "transform", "load")
        .map(st => post(s"/api/pipeline/staged/$pid/$st")("records"))
      assert(steps == Seq(150L, 25L, 25L) && unified("rows_loaded") == 25L)
      assert(new java.io.File(s"/tmp/graft_staged/$pid/transformed.meta.json").isFile)
      for ((u, s) <- Seq(
          spark.read.parquet(s"$dir/u/parquet") -> spark.read.parquet(s"$dir/s/parquet"),
          spark.read.json(s"$dir/u/jsonl") -> spark.read.json(s"$dir/s/jsonl"))) {
        assert(u.count() == 25L && u.filter(col("_meta_is_anomaly")).count() > 0)
        assert(u.exceptAll(s).isEmpty && s.exceptAll(u).isEmpty)
      }
    } finally http.stop()
  }

  test("stop drops every staged pipeline and deletes the directories it created") {
    import graft.service.{Facade, HttpFacade, MiniJson}
    val dir = java.nio.file.Files.createTempDirectory("graft_stop")
    java.nio.file.Files.write(dir.resolve("in.csv"), "k,v\n1,a\n2,b\n".getBytes("UTF-8"))
    val http = new HttpFacade(Facade.Tables(t => sys.error(s"no table $t")))
    def call(port: Int, method: String, path: String, b: String = ""): String = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod(method)
      if (b.nonEmpty) { conn.setDoOutput(true); conn.getOutputStream.write(b.getBytes("UTF-8")) }
      assert(conn.getResponseCode == 200, path)
      new String(conn.getInputStream.readAllBytes(), "UTF-8")
    }
    def staged(id: String) = new java.io.File(s"/tmp/graft_staged/$id")
    val port = http.start()
    val ids = try {
      val ids = (1 to 3).map { _ =>
        MiniJson.parse(call(port, "POST", "/api/pipeline/staged/init",
          s"""{"source": {"type": "csv", "path": "${dir.resolve("in.csv")}"}}"""))
          .asInstanceOf[Map[String, Any]]("pipeline_id").toString
      }
      // two extract, the third never runs; the second's directory is
      // already gone when the server stops
      ids.take(2).foreach(id => call(port, "POST", s"/api/pipeline/staged/$id/extract"))
      assert(ids.take(2).forall(staged(_).isDirectory))
      org.apache.commons.io.FileUtils.deleteDirectory(staged(ids(1)))
      ids
    } finally http.stop()
    assert(ids.forall(!staged(_).exists))
    val again = http.start()
    try assert(call(again, "GET", "/api/pipelines") == "[]")
    finally http.stop()
  }

  test("slugify + medallion paths match reference semantics") {
    assert(Paths.slugify("My Data_Set 2024!") == "my-data-set-2024")
    assert(Paths.goldBi("Acme Corp", "Q1 Sales") == "acme-corp/gold/bi/q1-sales/q1-sales.parquet")
    assert(Paths.quarantine("acme", "claims") == "acme/quarantine/claims_anomalies.csv")
  }

  test("visualization: analysis classifies columns, selection ranks charts") {
    import graft.viz.Visualization
    val ev = graft.core.Tables.table(spark, sfDir, "events")
    val profiles = Visualization.analyze(ev)
    val byName = profiles.map(p => p.name -> p).toMap
    assert(byName("value").kind == "numeric")
    assert(byName("event_type").kind == "categorical")
    assert(byName("ts").kind == "datetime")
    assert(byName("event_id").isId)
    val charts = Visualization.selectCharts(profiles)
    assert(charts.nonEmpty && charts.size <= 10)
    assert(charts.head.priority >= charts.last.priority)
    // bar chart renders through the §2.9 top-k shape
    val bar = charts.find(_.chartType == "bar")
    bar.foreach { b =>
      assert(Visualization.dataFor(ev, b).count() <= 15)
    }
    assert(charts.exists(_.chartType == "pie"))
  }

  test("type system maps Spark types to the reference's field types") {
    import graft.core.Types
    assert(Types.fromSpark(org.apache.spark.sql.types.DecimalType(10, 2)) == Types.FFloat)
  }

  test("insight profile text summarizes columns") {
    val txt = graft.viz.InsightProfile.profileText(
      graft.core.Tables.table(spark, sfDir, "nation"))
    assert(txt.contains("n_nationkey") && txt.contains("25 rows"))
  }

  test("echarts: all nine reference chart types render golden configs") {
    import graft.viz.Echarts
    val data = Seq(
      Map[String, Any]("k" -> "a", "v" -> 3, "w" -> 1.5),
      Map[String, Any]("k" -> "b", "v" -> 7, "w" -> 2.5))

    val bar = Echarts.bar(data, "k", "v", title = Some("T")).render
    assert(bar.contains(""""title":{"text":"T","left":"center"}"""))
    assert(bar.contains(""""axisPointer":{"type":"shadow"}"""))
    assert(bar.contains(""""xAxis":{"type":"category","data":["a","b"]}"""))
    assert(bar.contains(""""data":[3,7]"""))
    assert(bar.contains(""""borderRadius":[4,4,0,0]"""))
    assert(bar.contains(""""animationEasing":"elasticOut""""))
    // horizontal flips axes and radius corners (echarts_generator.py:104-117)
    val hbar = Echarts.bar(data, "k", "v", horizontal = true).render
    assert(hbar.contains(""""xAxis":{"type":"value","data":null}"""))
    assert(hbar.contains(""""yAxis":{"type":"category","data":["a","b"]}"""))
    assert(hbar.contains(""""borderRadius":[0,4,4,0]"""))

    val line = Echarts.line(data, "k", "v").render
    assert(line.contains(""""smooth":true""") && line.contains(""""symbol":"circle""""))
    assert(line.contains(""""boundaryGap":false"""))
    assert(!line.contains("areaStyle"))
    val area = Echarts.area(data, "k", "v").render
    assert(area.contains(""""areaStyle":{"opacity":0.3}"""))

    val pie = Echarts.pie(data, "k", "v").render
    assert(pie.contains(""""formatter":"{b}: {c} ({d}%)""""))
    assert(pie.contains(""""radius":"70%"""") && pie.contains(
      """{"name":"a","value":3}"""))
    val donut = Echarts.pie(data, "k", "v", donut = true).render
    assert(donut.contains(""""radius":["40%","70%"]"""))

    val scatter = Echarts.scatter(data, "v", "w").render
    assert(scatter.contains(""""data":[[3,1.5],[7,2.5]]"""))
    assert(scatter.contains(""""symbolSize":12"""))
    // size field: reference rule size/max*40+5 precomputed per point
    val sized = Echarts.scatter(data, "v", "w", sizeField = Some("v")).render
    assert(sized.contains(""""symbolSize":45""")) // 7/7*40+5
    assert(sized.contains("\"symbolSize\":" + (3.0 / 7 * 40 + 5)))

    val treemap = Echarts.treemap(data, "k", "v").render
    assert(treemap.contains(""""type":"treemap"""") &&
      treemap.contains(""""leafDepth":1""") &&
      treemap.contains(""""upperLabel":{"show":true,"height":30}"""))

    val hm = Echarts.heatmap(
      Seq(Map[String, Any]("x" -> "p", "y" -> "q", "value" -> 2),
        Map[String, Any]("x" -> "r", "y" -> "q", "value" -> 9)),
      "x", "y").render
    assert(hm.contains(""""data":["p","r"]""") && hm.contains(""""data":["q"]"""))
    assert(hm.contains("[0,0,2]") && hm.contains("[1,0,9]"))
    assert(hm.contains(""""visualMap":{"min":2,"max":9"""))

    val gauge = Echarts.gauge(data, "v", maxValue = 10).render
    assert(gauge.contains(""""type":"gauge"""") &&
      gauge.contains(""""data":[{"value":3,"name":"Value"}]""") &&
      gauge.contains(""""max":10"""))

    // sunburst falls back to bar like the reference's generators.get default
    val sb = Echarts.generate("sunburst", data, "k", "v")
    assert(sb.render.contains(""""type":"bar""""))
  }

  test("echarts: NaN and infinite values render as JSON null") {
    import graft.service.MiniJson
    import graft.viz.Echarts
    val data = Seq(
      Map[String, Any]("k" -> "a", "v" -> Double.NaN),
      Map[String, Any]("k" -> "b", "v" -> Double.NegativeInfinity),
      Map[String, Any]("k" -> "c\"\u0001", "v" -> 2.5))
    // bare NaN/Infinity would not parse
    val parsed = MiniJson.parse(Echarts.bar(data, "k", "v").render)
      .asInstanceOf[Map[String, Any]]
    def field(m: Any, k: String) = m.asInstanceOf[Map[String, Any]](k)
    assert(field(parsed("xAxis"), "data") == List("a", "b", "c\"\u0001"))
    val series = parsed("series").asInstanceOf[List[Any]].head
    assert(field(series, "data") == List(null, null, 2.5))
  }

  test("HTTP facade serves the reference's documented dashboard query E2E") {
    import graft.service.{Facade, HttpFacade, MiniJson}
    implicit val tables: Facade.Tables =
      Facade.Tables(graft.core.Tables.table(spark, sfDir, _))
    val http = new HttpFacade(tables)
    val port = http.start()
    try {
      def call(method: String, path: String, body: String = ""): (Int, Any) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        if (body.nonEmpty) {
          conn.setDoOutput(true)
          conn.getOutputStream.write(body.getBytes("UTF-8"))
        }
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, MiniJson.parse(new String(is.readAllBytes(), "UTF-8")))
      }

      // the reference's documented example body (main.py:964-979), on orders
      val (code, resp) = call("POST", "/api/analytics/dashboard/query",
        """{"table": "orders",
           "filters": [
             {"column": "o_orderstatus", "operator": "in", "value": ["O", "F"]},
             {"column": "o_orderdate", "operator": "between",
              "value": ["1995-01-01", "1997-12-31"]}],
           "aggregation": {
             "group_by": ["o_orderpriority"],
             "metrics": [{"column": "o_orderkey", "agg": "count", "alias": "n_orders"}],
             "limit": 20}}""")
      assert(code == 200)
      val env = resp.asInstanceOf[Map[String, Any]]
      assert(env.contains("query_time_ms"))
      val got = env("data").asInstanceOf[List[Any]]
        .map(_.asInstanceOf[Map[String, Any]])
        .map(m => (m("o_orderpriority"), m("n_orders"))).toSet
      // must equal the engine-side q_agg_dashboard result
      val want = SparkEntry.queries("q_agg_dashboard")(spark, sfDir)
        .collect().map(r => (r.getAs[Any]("o_orderpriority"),
          r.getAs[Long]("n_orders"))).toSet
      assert(env("row_count") == want.size.toLong)
      assert(got == want)

      // GET endpoints: filter-values + dashboard summary + profile schema
      val (c2, fv) = call("GET",
        "/api/analytics/dashboard/filter-values?table=orders&column=o_orderstatus")
      assert(c2 == 200)
      val vals = fv.asInstanceOf[Map[String, Any]]("data").asInstanceOf[List[Any]]
        .map(_.asInstanceOf[Map[String, Any]]("o_orderstatus"))
      assert(vals.toSet == Set("F", "O", "P"))

      val (c3, prof) = call("GET",
        "/api/analytics/dashboard/schema?table=nation&columns=n_nationkey,n_name")
      assert(c3 == 200)
      val roles = prof.asInstanceOf[Map[String, Any]]("data")
        .asInstanceOf[List[Any]].map(_.asInstanceOf[Map[String, Any]])
        .map(m => m("column_name") -> m("suggested_role")).toMap
      assert(roles("n_nationkey") == "id")

      // anomalies endpoint: z-score flags over events.value
      val (c5, an) = call("POST", "/api/analytics/anomalies",
        """{"table": "events", "method": "statistical",
           "fields": ["value"], "threshold": 2.0}""")
      assert(c5 == 200)
      val anRows = an.asInstanceOf[Map[String, Any]]("row_count")
      assert(anRows.asInstanceOf[Long] > 0)

      // the server truncates over-cap results instead of buffering them
      val small = new HttpFacade(tables, maxRows = 3)
      val p2 = small.start()
      try {
        val conn2 = new java.net.URL(
          s"http://127.0.0.1:$p2/api/analytics/dashboard/filter-values" +
            "?table=orders&column=o_orderpriority")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val env2 = MiniJson.parse(new String(
          conn2.getInputStream.readAllBytes(), "UTF-8"))
          .asInstanceOf[Map[String, Any]]
        assert(env2("row_count") == 3L && env2("truncated") == true)
      } finally small.stop()

      // errors surface as the reference's {"detail": ...} with HTTP 500
      val (c4, err) = call("GET", "/api/analytics/dashboard?table=nation&kind=nope")
      assert(c4 == 500)
      assert(err.asInstanceOf[Map[String, Any]]("detail")
        .asInstanceOf[String].nonEmpty) // amount detection fails on nation

      // health probe (main.py:88)
      val (ch, health) = call("GET", "/health")
      assert(ch == 200 &&
        health.asInstanceOf[Map[String, Any]]("status") == "healthy")

      // insights: engine-side profile text the reference feeds its LLM
      val (ci, ins) = call("POST", "/api/analytics/generate-insights",
        """{"table": "orders"}""")
      assert(ci == 200)
      assert(ins.asInstanceOf[Map[String, Any]]("insights")
        .asInstanceOf[String].contains("o_orderkey"))

      // viz generation: ready-to-render echarts configs
      val (cv, viz) = call("POST", "/api/analytics/visualizations/generate",
        """{"table": "orders", "max_charts": 3}""")
      assert(cv == 200)
      val vizzes = viz.asInstanceOf[Map[String, Any]]("visualizations")
        .asInstanceOf[List[Any]].map(_.asInstanceOf[Map[String, Any]])
      assert(vizzes.nonEmpty && vizzes.size <= 3)
      assert(vizzes.forall(v => v.contains("chart_type") &&
        v("echarts").asInstanceOf[Map[String, Any]].contains("series")))

      // unified pipeline: csv source -> null_remover + dedup -> parquet,
      // the reference's primary POST (main.py:102)
      val pipeDir = java.nio.file.Files.createTempDirectory("http_pipe")
      graft.io.Sinks.csv(
        graft.core.Tables.table(spark, sfDir, "region"), s"$pipeDir/in")
      val (cp, pipe) = call("POST", "/api/pipeline/unified",
        s"""{"name": "t", "mode": "unified",
            "source": {"type": "csv", "path": "$pipeDir/in"},
            "transformers": [
              {"type": "null_remover", "config": {"strategy": "drop"}},
              {"type": "dedup", "config": {"match_fields": ["r_regionkey"]}}],
            "destinations": [{"type": "parquet", "path": "$pipeDir/out"}]}""")
      assert(cp == 200)
      val penv = pipe.asInstanceOf[Map[String, Any]]
      assert(penv("status") == "completed")
      assert(penv("rows_loaded") == 5L)
      assert(spark.read.parquet(s"$pipeDir/out").count() == 5L)

      // destination type "json" writes a single JSON ARRAY file (the
      // reference default, pipeline_service.py:643-646 + json_loader.py:23);
      // "jsonl" is the explicit line-delimited type
      val (cj, _) = call("POST", "/api/pipeline/unified",
        s"""{"name": "tj", "mode": "unified",
            "source": {"type": "csv", "path": "$pipeDir/in"},
            "destinations": [
              {"type": "json", "path": "$pipeDir/out.json"},
              {"type": "jsonl", "path": "$pipeDir/out_jsonl"}]}""")
      assert(cj == 200)
      val arrText = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$pipeDir/out.json")), "UTF-8").trim
      assert(arrText.startsWith("[") && arrText.endsWith("]"))
      assert(spark.read.option("multiLine", "true")
        .json(s"$pipeDir/out.json").count() == 5L)
      assert(spark.read.json(s"$pipeDir/out_jsonl").count() == 5L)

      // staged mode: init -> extract -> transform -> load, one call each,
      // stage outputs persisted between calls (main.py:183-330)
      val (ci2, initResp) = call("POST", "/api/pipeline/staged/init",
        s"""{"name": "staged-t",
            "source": {"type": "csv", "path": "$pipeDir/in"},
            "transformers": [{"type": "dedup",
              "config": {"match_fields": ["r_regionkey"]}}],
            "destinations": [{"type": "parquet", "path": "$pipeDir/staged_out"}]}""")
      assert(ci2 == 200)
      val pid = initResp.asInstanceOf[Map[String, Any]]("pipeline_id")
        .asInstanceOf[String]
      for (stage <- Seq("extract", "transform", "load")) {
        val (cs, sr) = call("POST", s"/api/pipeline/staged/$pid/$stage")
        assert(cs == 200, s"$stage failed: $sr")
        val m = sr.asInstanceOf[Map[String, Any]]
        assert(m("status") == "completed" && m("stage") == stage)
      }
      val (cst, stat) = call("GET", s"/api/pipeline/$pid/status")
      assert(cst == 200)
      val sm = stat.asInstanceOf[Map[String, Any]]
      assert(sm("overall_status") == "completed")
      assert(sm("extract_records") == 5L && sm("transform_records") == 5L)
      assert(spark.read.parquet(s"$pipeDir/staged_out").count() == 5L)
      // preview returns the persisted stage rows in the query envelope
      val (cpv, pv) = call("GET",
        s"/api/pipeline/$pid/data/preview?stage=transformed&limit=3")
      assert(cpv == 200)
      assert(pv.asInstanceOf[Map[String, Any]]("row_count") == 3L)
      val (cpv404, _) = call("GET",
        s"/api/pipeline/$pid/data/preview?stage=bogus")
      assert(cpv404 == 404)
      // out-of-order stage call fails loudly, listing shows the pipeline
      val (cbad, _) = call("POST", "/api/pipeline/staged/nope/extract")
      assert(cbad == 404)
      val (cl, listed) = call("GET", "/api/pipelines")
      assert(cl == 200 && listed.asInstanceOf[List[Any]].nonEmpty)
    } finally http.stop()
  }

  test("query_time_ms counts the jobs that build a route's frame") {
    import graft.service.{Facade, HttpFacade, MiniJson}
    // one row in one partition: every pass over the frame sleeps 300 ms
    val slow = udf { (x: Long) => Thread.sleep(300); x }
    val frame = spark.range(0, 1, 1, 1).select(slow(col("id")).as("v"))
    val http = new HttpFacade(Facade.Tables(_ => frame))
    val port = http.start()
    try {
      val conn = new java.net.URL(
        s"http://127.0.0.1:$port/api/analytics/dashboard/schema?table=t")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val env = MiniJson.parse(new String(
        conn.getInputStream.readAllBytes(), "UTF-8"))
        .asInstanceOf[Map[String, Any]]
      assert(env("row_count") == 1L)
      // the profile's passes run while the frame is built, before rendering
      assert(env("query_time_ms").asInstanceOf[Long] >= 300L, env)
    } finally http.stop()
  }

  test("concurrent clients: 12 parallel mixed requests return correct, " +
      "client-specific results (no cross-request bleed)") {
    import graft.service.{Facade, HttpFacade, MiniJson}
    implicit val tables: Facade.Tables =
      Facade.Tables(graft.core.Tables.table(spark, sfDir, _))
    val http = new HttpFacade(tables)
    val port = http.start()
    try {
      // ground truth computed once, single-threaded, BEFORE the storm
      val building = graft.core.Tables.table(spark, sfDir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .orderBy(col("c_custkey")).select(col("c_custkey"))
        .collect().map(_.getLong(0)).toVector
      val priorities = graft.core.Tables.table(spark, sfDir, "orders")
        .groupBy(col("o_orderpriority")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val regionNames = graft.core.Tables.table(spark, sfDir, "region")
        .select(col("r_name")).collect().map(_.getString(0)).toSet

      def call(method: String, path: String, body: String): Map[String, Any] = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        if (body.nonEmpty) {
          conn.setDoOutput(true)
          conn.getOutputStream.write(body.getBytes("UTF-8"))
        }
        require(conn.getResponseCode == 200,
          s"HTTP ${conn.getResponseCode} for $path")
        MiniJson.parse(new String(conn.getInputStream.readAllBytes(),
          "UTF-8")).asInstanceOf[Map[String, Any]]
      }
      def dataRows(env: Map[String, Any]): List[Map[String, Any]] =
        env("data").asInstanceOf[List[Any]].map(_.asInstanceOf[Map[String, Any]])

      // each client's request carries a client-specific parameter (the
      // drill-down OFFSET) whose expected answer differs per client — a
      // response served from another request's state is caught, not
      // averaged away
      val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      try {
        val tasks = (0 until 12).map { i =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try {
                (0 until 3).foreach { _ =>
                  i % 3 match {
                    case 0 => // paginated drill-down, offset = client id
                      val env = call("POST",
                        "/api/analytics/dashboard/drill-down",
                        s"""{"table": "customer",
                           |"filters": [{"column": "c_mktsegment",
                           |  "operator": "eq", "value": "BUILDING"}],
                           |"columns": ["c_custkey"],
                           |"sort_key": "c_custkey",
                           |"limit": 5, "offset": $i}""".stripMargin)
                      val got = dataRows(env).map(_("c_custkey")
                        .asInstanceOf[Long])
                      val want = building.slice(i, i + 5).toList
                      if (got != want)
                        failures.add(s"client $i drilldown: $got != $want")
                    case 1 => // grouped aggregation
                      val env = call("POST",
                        "/api/analytics/dashboard/query",
                        """{"table": "orders", "aggregation": {
                          |"group_by": ["o_orderpriority"],
                          |"metrics": [{"column": "o_orderkey",
                          |  "agg": "count", "alias": "n"}]}}""".stripMargin)
                      val got = dataRows(env)
                        .map(m => m("o_orderpriority").asInstanceOf[String] ->
                          m("n").asInstanceOf[Long]).toMap
                      if (got != priorities)
                        failures.add(s"client $i agg: $got != $priorities")
                    case _ => // filter widget
                      val env = call("GET",
                        "/api/analytics/dashboard/filter-values" +
                          "?table=region&column=r_name", "")
                      val got = dataRows(env).map(_("r_name")).toSet
                      if (got != regionNames)
                        failures.add(s"client $i fv: $got")
                  }
                }
              } catch {
                case e: Throwable => failures.add(s"client $i: ${e.getMessage}")
              }
          })
        }
        tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      assert(failures.isEmpty, failures.toArray.mkString("; "))
    } finally http.stop()
  }

  test("negative paths: bad requests return the reference's error envelope " +
    "({detail: ...} with 404/500, never a stack page or a hang)") {
    import graft.service.{Facade, HttpFacade, MiniJson}
    implicit val tables: Facade.Tables =
      Facade.Tables(graft.core.Tables.table(spark, sfDir, _))
    val http = new HttpFacade(tables)
    val port = http.start()
    try {
      def call(method: String, path: String, body: String = ""): (Int, Any) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        if (body.nonEmpty) {
          conn.setDoOutput(true)
          conn.getOutputStream.write(body.getBytes("UTF-8"))
        }
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, MiniJson.parse(new String(is.readAllBytes(), "UTF-8")))
      }
      def detailOf(resp: Any): String =
        resp.asInstanceOf[Map[String, Any]]("detail").asInstanceOf[String]

      // 1. malformed JSON body (FastAPI rejects at parse; our envelope is
      //    the HTTPException shape: detail + error status)
      val (c1, r1) = call("POST", "/api/analytics/dashboard/query",
        """{"table": "orders", "filters": [""")
      assert(c1 == 500 && detailOf(r1).nonEmpty)

      // 2. unknown table
      val (c2, r2) = call("POST", "/api/analytics/dashboard/query",
        """{"table": "no_such_table"}""")
      assert(c2 == 500 && detailOf(r2).nonEmpty)

      // 3. unknown column in a filter (Spark analysis error surfaces as
      //    detail, mirroring duckdb_service's Binder error -> 500)
      val (c3, r3) = call("POST", "/api/analytics/dashboard/query",
        """{"table": "orders",
           "filters": [{"column": "no_such_col", "operator": "eq",
                        "value": "x"}]}""")
      assert(c3 == 500 && detailOf(r3).toLowerCase.contains("no_such_col"))

      // 4. unsupported filter operator
      val (c4, r4) = call("POST", "/api/analytics/dashboard/query",
        """{"table": "orders",
           "filters": [{"column": "o_orderstatus", "operator": "~~~",
                        "value": "O"}]}""")
      assert(c4 == 500 && detailOf(r4).nonEmpty)

      // 5. unknown aggregation function
      val (c5, r5) = call("POST", "/api/analytics/dashboard/query",
        """{"table": "orders", "aggregation": {
             "group_by": ["o_orderpriority"],
             "metrics": [{"column": "o_orderkey", "agg": "frobnicate"}]}}""")
      assert(c5 == 500 && detailOf(r5).nonEmpty)

      // 6. status / stage-run for a pipeline id that was never created
      val (c6, r6) = call("GET", "/api/pipeline/nope-id/status")
      assert(c6 == 404 && detailOf(r6) == "pipeline not found")
      val (c6b, r6b) = call("POST", "/api/pipeline/staged/nope-id/extract")
      assert(c6b == 404 && detailOf(r6b) == "pipeline not found")

      // 7. staged lifecycle misuse on a REAL pipeline: preview before any
      //    stage ran (404, main.py:369 shape), transform before extract
      //    and an unknown stage name (500 + detail)
      val (ci, ri) = call("POST", "/api/pipeline/staged/init",
        s"""{"name": "neg", "source": {"type": "parquet",
             "path": "$sfDir/nation.parquet"}}""")
      assert(ci == 200)
      val pid = ri.asInstanceOf[Map[String, Any]]("pipeline_id").asInstanceOf[String]
      val (c7, r7) = call("GET", s"/api/pipeline/$pid/data/preview?stage=transformed")
      assert(c7 == 404 && detailOf(r7).contains("No data found"))
      val (c8, r8) = call("POST", s"/api/pipeline/staged/$pid/transform")
      assert(c8 == 500 && detailOf(r8).contains("extract has not run"))
      val (c9, r9) = call("POST", s"/api/pipeline/staged/$pid/frobnicate")
      assert(c9 == 500 && detailOf(r9).contains("unknown stage"))

      // 8. unknown source type at init
      val (c10, r10) = call("POST", "/api/pipeline/staged/init",
        """{"source": {"type": "carrier_pigeon"}}""")
      assert(c10 == 500 && detailOf(r10).contains("unknown source"))

      // the server survives all of the above: a good request still works
      val (cOk, _) = call("GET",
        "/api/analytics/dashboard/filter-values?table=region&column=r_name")
      assert(cOk == 200)
    } finally http.stop()
  }
}
