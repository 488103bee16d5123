package graft.service

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkSuite

/** Partial results the dashboard routes keep in their store: a drill-down
  * session's later pages, a filter-values list at another limit and the
  * anomaly stats at another threshold run fewer jobs, answer what the
  * request computed on its own answers, and are never served after the
  * table's files change. */
class ReuseSpec extends SparkSuite {

  private lazy val sfTables = Facade.Tables(graft.core.Tables.table(spark, sfDir, _))

  private val drill = "/api/analytics/dashboard/drill-down"
  private val anomalies = "/api/analytics/anomalies"

  /** (status, body, X-Graft-Cache) */
  private def call(port: Int, method: String, path: String,
      body: String = ""): (Int, String, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body.nonEmpty) {
      c.setDoOutput(true)
      val os = c.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    (code, new String(in.readAllBytes(), UTF_8), c.getHeaderField("X-Graft-Cache"))
  }

  private def stripTime(body: String): String =
    body.replaceFirst(""","query_time_ms":\d+}$""", "}")

  /** Jobs launched while `f` runs. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    org.apache.spark.GraftTestListenerBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.GraftTestListenerBus.waitUntilEmpty(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withServer[T](http: HttpFacade)(f: Int => T): T = {
    org.apache.spark.sql.SparkSession.setActiveSession(spark) // the one it serves
    val port = http.start()
    try f(port) finally http.stop()
  }

  /** The body of `req` computed on its own, with no server: its frame from
    * [[Facade.handle]], rendered as the envelope, `query_time_ms` left out. */
  private def uncached(req: Facade.Request, tables: Facade.Tables = sfTables): String =
    new String(ResponseCache.envelopeHead(
      HttpFacade.jsonRows(Facade.handle(req)(tables), 100001), 100000), UTF_8) + "}"

  private def filterValues(table: String, column: String, limit: Int,
      search: Option[String] = None): String =
    s"/api/analytics/dashboard/filter-values?table=$table&column=$column&limit=$limit" +
      search.fold("")(s => "&search=" + URLEncoder.encode(s, UTF_8))

  private def page(filters: String, columns: Seq[String], sortKey: String,
      limit: Int, offset: Int): String =
    s"""{"table": "lineitem", "filters": $filters,
       |"columns": ${columns.map("\"" + _ + "\"").mkString("[", ",", "]")},
       |"sort_key": "$sortKey", "limit": $limit, "offset": $offset}""".stripMargin

  private def anomaly(table: String, threshold: Double): String =
    s"""{"table": "$table", "method": "statistical", "fields": ["value"],
       |"threshold": $threshold}""".stripMargin

  private def dataRows(body: String): List[Any] =
    MiniJson.parse(body).asInstanceOf[Map[String, Any]]("data").asInstanceOf[List[Any]]

  test("later pages of a session, a smaller filter-values limit and a new " +
      "anomaly threshold run 0, 0 and 1 jobs") {
    withServer(new HttpFacade(sfTables)) { port =>
      val filters = """[{"column": "l_returnflag", "operator": "eq", "value": "R"}]"""
      val cols = Seq("l_orderkey", "l_linenumber", "l_quantity")
      val (first, _) = jobsDuring(call(port, "POST", drill, page(filters, cols, "l_orderkey", 20, 0)))
      assert(first._1 == 200 && first._3 == "miss", first._2)
      for (p <- 1 to HttpFacade.DrillReadAheadPages) {
        val ((c, b, h), jobs) = jobsDuring(
          call(port, "POST", drill, page(filters, cols, "l_orderkey", 20, 20 * p)))
        assert(c == 200 && h == "hit" && jobs == 0, s"page ${p + 1}: $jobs jobs, $h")
        assert(b.contains("\"row_count\":20,"), b)
      }
      // one page past the read-ahead runs again
      val ((_, _, past), pastJobs) = jobsDuring(call(port, "POST", drill,
        page(filters, cols, "l_orderkey", 20, 20 * (HttpFacade.DrillReadAheadPages + 1))))
      assert(past == "miss" && pastJobs > 0)

      val ((_, _, f1), _) = jobsDuring(call(port, "GET", filterValues("lineitem", "l_linenumber", 5)))
      val ((_, b2, f2), jobs2) = jobsDuring(call(port, "GET", filterValues("lineitem", "l_linenumber", 3)))
      assert(f1 == "miss" && f2 == "hit" && jobs2 == 0)
      assert(b2.contains("\"row_count\":3,"), b2)

      val ((_, _, a1), jobs1) = jobsDuring(call(port, "POST", anomalies, anomaly("events", 2.0)))
      val ((c3, b3, a3), jobs3) = jobsDuring(call(port, "POST", anomalies, anomaly("events", 2.75)))
      assert(c3 == 200 && a3 == "miss" && jobs3 == 1,
        s"a new threshold ran $jobs3 jobs: the stats job again")
      assert(a1 == "miss" && jobs1 > jobs3, s"the first request ran $jobs1 jobs")
      assert(stripTime(b3) ==
        uncached(Facade.Anomalies("events", "statistical", Seq("value"), 2.75)))
    }
  }

  test("filter-values sliced at limits below, at and above the distinct " +
      "count equal the bodies computed on their own") {
    for ((column, search) <- Seq(("o_orderpriority", None), ("o_orderpriority", Some("i")),
        ("o_orderstatus", None))) {
      def fv(limit: Int) = Facade.FilterValues("orders", column, search, limit)
      val n = dataRows(uncached(fv(1000))).size
      assert(n >= 3, s"$column has $n values")
      withServer(new HttpFacade(sfTables)) { port =>
        // the first fetch covers every limit up to it; the list is complete
        val (_, _, h0) = call(port, "GET", filterValues("orders", column, n + 3, search))
        assert(h0 == "miss")
        for (limit <- Seq(n - 1, n, n + 1, n + 20, 1, 0)) {
          val path = filterValues("orders", column, limit, search)
          val (c, b, h) = call(port, "GET", path)
          assert(c == 200 && h == "hit", s"$path: $h")
          assert(stripTime(b) == uncached(fv(limit)), path)
        }
      }
      withServer(new HttpFacade(sfTables)) { port =>
        // a short first fetch: smaller limits slice, a larger one runs again
        val small = filterValues("orders", column, n - 2, search)
        assert(call(port, "GET", small)._3 == "miss")
        val (_, b1, h1) = call(port, "GET", filterValues("orders", column, n - 3, search))
        assert(h1 == "hit" && stripTime(b1) == uncached(fv(n - 3)))
        val (_, b2, h2) = call(port, "GET", filterValues("orders", column, n, search))
        assert(h2 == "miss" && stripTime(b2) == uncached(fv(n)))
      }
    }
  }

  test("drill-down pages over a non-unique sort key equal the pages computed " +
      "on their own, are disjoint, and together are the full ordered result") {
    val filters = """[{"column": "l_returnflag", "operator": "eq", "value": "R"}]"""
    // l_linestatus has two values, so nearly every row ties on the key
    val cols = Seq("l_linestatus", "l_orderkey", "l_linenumber", "l_quantity")
    val size = 7
    val pages = HttpFacade.DrillReadAheadPages + 1
    def dd(limit: Int, offset: Int) = Facade.DrillDown("lineitem",
      Seq(graft.query.Filter.Eq("l_returnflag", "R")), cols, "l_linestatus", limit, offset)
    val whole = dataRows(uncached(dd(size * pages, 0)))
    assert(whole.size == size * pages)
    withServer(new HttpFacade(sfTables)) { port =>
      val served = (0 until pages).map { p =>
        val body = page(filters, cols, "l_linestatus", size, size * p)
        val (c, b, h) = call(port, "POST", drill, body)
        assert(c == 200 && h == (if (p == 0) "miss" else "hit"), s"page $p: $b")
        assert(stripTime(b) == uncached(dd(size, size * p)), s"page $p")
        dataRows(b)
      }
      assert(served.forall(_.size == size))
      assert(served.flatten == whole)
      assert(served.flatten.distinct.size == whole.distinct.size)
    }
  }

  test("after the table's parquet file is rewritten, no kept prefix or stats is served") {
    import spark.implicits._
    val dir = Files.createTempDirectory("reuse_rewrite")
    (1 to 40).map(i => (i.toLong, (i % 7).toDouble)).toDF("k", "value")
      .coalesce(1).write.parquet(s"$dir/t")
    // every request reads the table afresh, as a caller's resolver may
    val tables = Facade.Tables(n => spark.read.parquet(s"$dir/$n"))
    val fv = (limit: Int) => s"/api/analytics/dashboard/filter-values?table=t&column=value&limit=$limit"
    val dd = (offset: Int) =>
      s"""{"table": "t", "columns": ["k", "value"], "sort_key": "value",
         |"limit": 4, "offset": $offset}""".stripMargin
    val fvReq = (limit: Int) => Facade.FilterValues("t", "value", None, limit)
    val ddReq = (offset: Int) => Facade.DrillDown("t", Nil, Seq("k", "value"), "value", 4, offset)
    val anReq = (thr: Double) => Facade.Anomalies("t", "statistical", Seq("value"), thr)
    withServer(new HttpFacade(tables)) { port =>
      assert(call(port, "GET", fv(20))._3 == "miss")
      assert(call(port, "POST", drill, dd(0))._3 == "miss")
      assert(call(port, "POST", anomalies, anomaly("t", 1.0))._3 == "miss")
      assert(call(port, "GET", fv(3))._3 == "hit")
      assert(call(port, "POST", drill, dd(4))._3 == "hit")
      // same file name, new bytes: copy a freshly written part (and its
      // checksum) over the old one
      (1 to 40).map(i => (i.toLong, (i % 11) * 10.0 + (if (i == 40) 1000.0 else 0.0)))
        .toDF("k", "value").coalesce(1).write.parquet(s"$dir/next")
      def part(sub: String, prefix: String, suffix: String): Path = {
        val s = Files.list(dir.resolve(sub))
        try s.toArray.toSeq.map(_.asInstanceOf[Path]).find { p =>
          val n = p.getFileName.toString
          n.startsWith(prefix) && n.endsWith(suffix)
        }.get finally s.close()
      }
      for ((prefix, suffix) <- Seq((".part-", ".parquet.crc"), ("part-", ".parquet")))
        Files.copy(part("next", prefix, suffix), part("t", prefix, suffix),
          StandardCopyOption.REPLACE_EXISTING)
      val (_, b1, h1) = call(port, "GET", fv(5))
      assert(h1 == "miss" && stripTime(b1) == uncached(fvReq(5), tables), b1)
      val (_, b2, h2) = call(port, "POST", drill, dd(8))
      assert(h2 == "miss" && stripTime(b2) == uncached(ddReq(8), tables), b2)
      val ((_, b3, h3), jobs3) = jobsDuring(call(port, "POST", anomalies, anomaly("t", 1.5)))
      assert(h3 == "miss" && jobs3 > 1, s"$jobs3 job: the stats were not recomputed")
      assert(stripTime(b3) == uncached(anReq(1.5), tables))
      assert(b3.contains("\"value\":1070.0,\"_meta_is_anomaly\":true"), b3)
      // and a rewrite under new file names
      Seq((1L, 5.0), (2L, 6.0)).toDF("k", "value").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/t")
      val (_, b4, h4) = call(port, "GET", fv(2))
      assert(h4 == "miss" && stripTime(b4) == uncached(fvReq(2), tables), b4)
      val (_, b5, h5) = call(port, "POST", drill, dd(0))
      assert(h5 == "miss" && b5.contains("\"row_count\":2,"), b5)
    }
  }
}
