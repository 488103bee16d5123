package graft.service

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkSuite

/** The dashboard routes' response cache: repeats run no Spark job, the key
  * keeps apart what plans differently, concurrent misses compute once,
  * failures are never kept, and a rewritten table is never served stale. */
class ResponseCacheSpec extends SparkSuite {

  private lazy val sfTables = Facade.Tables(graft.core.Tables.table(spark, sfDir, _))

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

  private def task[T](f: => T): Callable[T] = () => f

  private def withServer[T](http: HttpFacade)(f: Int => T): T = {
    org.apache.spark.sql.SparkSession.setActiveSession(spark) // the one it serves
    val port = http.start()
    try f(port) finally http.stop()
  }

  private val sixRoutes = Seq(
    ("POST", "/api/analytics/dashboard/query",
      """{"table": "orders", "aggregation": {"group_by": ["o_orderpriority"],
        |"metrics": [{"column": "o_totalprice", "agg": "sum", "alias": "s"}]}}""".stripMargin),
    ("POST", "/api/analytics/dashboard/drill-down",
      """{"table": "orders", "filters": [{"column": "o_orderstatus",
        |"operator": "eq", "value": "F"}], "columns": ["o_orderkey", "o_totalprice"],
        |"sort_key": "o_orderkey", "limit": 5, "offset": 10}""".stripMargin),
    ("GET", "/api/analytics/dashboard/filter-values?table=orders&column=o_orderpriority", ""),
    ("GET", "/api/analytics/dashboard/schema?table=nation&columns=n_nationkey,n_name", ""),
    ("GET", "/api/analytics/dashboard?kind=summary&table=orders", ""),
    ("POST", "/api/analytics/anomalies",
      """{"table": "events", "method": "statistical", "fields": ["value"], "threshold": 2.0}"""))

  test("a repeat on each of the six routes returns the same body and launches no job") {
    withServer(new HttpFacade(sfTables)) { port =>
      for ((method, path, body) <- sixRoutes) {
        val ((c1, b1, h1), _) = jobsDuring(call(port, method, path, body))
        assert(c1 == 200 && h1 == "miss", s"$path: $b1")
        val ((c2, b2, h2), jobs) = jobsDuring(call(port, method, path, body))
        assert(c2 == 200 && h2 == "hit", path)
        assert(jobs == 0, s"$path launched $jobs jobs on a hit")
        assert(stripTime(b2) == stripTime(b1), path)
        assert(b2.matches(""".*,"query_time_ms":\d+}$"""), path)
      }
    }
  }

  test("key order and whitespace do not split the key") {
    withServer(new HttpFacade(sfTables)) { port =>
      val q = "/api/analytics/dashboard/query"
      val (_, b1, h1) = call(port, "POST", q,
        """{"table":"orders","aggregation":{"group_by":["o_orderstatus"],""" +
          """"metrics":[{"column":"o_orderkey","agg":"count","alias":"n"}],"limit":10}}""")
      val (_, b2, h2) = call(port, "POST", q,
        """{ "aggregation" : { "limit" : 10, "metrics" : [ { "alias" : "n",
          |  "agg" : "count", "column" : "o_orderkey" } ],
          |  "group_by" : [ "o_orderstatus" ] },
          |  "table" : "orders" }""".stripMargin)
      assert(h1 == "miss" && h2 == "hit")
      assert(stripTime(b1) == stripTime(b2))
      val fv = "/api/analytics/dashboard/filter-values"
      val (_, _, g1) = call(port, "GET", s"$fv?table=orders&column=o_orderstatus")
      val (_, _, g2) = call(port, "GET", s"$fv?column=o_orderstatus&table=orders")
      assert(g1 == "miss" && g2 == "hit")
    }
  }

  test("3 vs 3.0 on a string column and limit 5 vs 6 are distinct keys") {
    val dir = Files.createTempDirectory("rc_str")
    import spark.implicits._
    Seq("3", "3.5", "4", "3.0").toDF("s").coalesce(1)
      .write.parquet(s"$dir/t")
    val tables = Facade.Tables(n => spark.read.parquet(s"$dir/$n"))
    def eq(v: String) =
      s"""{"table": "t", "filters": [{"column": "s", "operator": "eq", "value": $v}]}"""
    val q = "/api/analytics/dashboard/query"
    // what each body is without a cache: a fresh server per request
    def uncached(body: String): (Int, String) =
      withServer(new HttpFacade(tables)) { p =>
        val (c, b, _) = call(p, "POST", q, body); (c, stripTime(b))
      }
    withServer(new HttpFacade(tables)) { port =>
      val (c30, b30, h30) = call(port, "POST", q, eq("3.0"))
      val (c3, b3, h3) = call(port, "POST", q, eq("3"))
      assert(h30 == "miss" && h3 == "miss")
      assert((c3, stripTime(b3)) != ((c30, stripTime(b30))))
      assert((c3, stripTime(b3)) == uncached(eq("3")))
      assert((c30, stripTime(b30)) == uncached(eq("3.0")))
    }
    withServer(new HttpFacade(sfTables)) { port =>
      def page(limit: Int) =
        s"""{"table": "orders", "columns": ["o_orderkey"], "sort_key": "o_orderkey",
           |"limit": $limit}""".stripMargin
      val dd = "/api/analytics/dashboard/drill-down"
      val (_, b5, h5) = call(port, "POST", dd, page(5))
      val (_, b6, h6) = call(port, "POST", dd, page(6))
      assert(h5 == "miss" && h6 == "miss")
      assert(b5.contains("\"row_count\":5,") && b6.contains("\"row_count\":6,"))
    }
  }

  test("8 concurrent identical requests run the jobs once and share one body") {
    val (method, path, body) = sixRoutes.head
    withServer(new HttpFacade(sfTables))(call(_, method, path, body)) // resolve tables
    val (_, oneRun) = jobsDuring(
      withServer(new HttpFacade(sfTables))(call(_, method, path, body)))
    assert(oneRun > 0)
    withServer(new HttpFacade(sfTables)) { port =>
      val pool = Executors.newFixedThreadPool(8)
      val go = new CountDownLatch(1)
      try {
        val (replies, jobs) = jobsDuring {
          val fs = (0 until 8).map(_ => pool.submit(task {
            go.await(); call(port, method, path, body)
          }))
          go.countDown()
          fs.map(_.get(120, TimeUnit.SECONDS))
        }
        assert(jobs == oneRun)
        assert(replies.forall(_._1 == 200))
        assert(replies.map(r => stripTime(r._2)).distinct.size == 1)
        assert(replies.count(_._3 == "miss") == 1)
      } finally { pool.shutdownNow(); () }
    }
  }

  test("a failing request answers 500 on every try; concurrent waiters get the 500") {
    withServer(new HttpFacade(sfTables)) { port =>
      val q = "/api/analytics/dashboard/query"
      val bad = """{"table": "orders", "filters": [{"column": "no_such_col",
                  |"operator": "eq", "value": "x"}]}""".stripMargin
      for (_ <- 1 to 3) {
        val (c, b, h) = call(port, "POST", q, bad)
        assert(c == 500 && h == "miss" && b.contains("no_such_col"))
      }
      val pool = Executors.newFixedThreadPool(8)
      try {
        val fs = (0 until 8).map(_ => pool.submit(task(call(port, "POST", q, bad))))
        assert(fs.map(_.get(120, TimeUnit.SECONDS)._1).forall(_ == 500))
      } finally { pool.shutdownNow(); () }
    }
    // single flight, deterministically: the waiter arrives while the
    // leader runs, gets the leader's failure, and the next call runs again
    val cache = new ResponseCache(1L << 20)
    val frame = spark.range(1).toDF()
    val runs = new AtomicInteger()
    val running = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def failing(): Array[Byte] = {
      runs.incrementAndGet(); running.countDown(); release.await()
      throw new IllegalStateException("boom")
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def attempt(): Thread = {
      val t = new Thread(() =>
        try { cache.getOrCompute("/r", Map.empty, frame)(failing()); () }
        catch { case e: Throwable => failures.add(e); () })
      t.start(); t
    }
    val leader = attempt()
    assert(running.await(30, TimeUnit.SECONDS))
    val waiter = attempt()
    val deadline = System.nanoTime() + 30L * 1000000000L
    // parked on the leader's flight
    while (waiter.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(5)
    release.countDown()
    Seq(leader, waiter).foreach(_.join(30000))
    assert(failures.size == 2 && failures.toArray.forall {
      case e: IllegalStateException => e.getMessage == "boom"; case _ => false })
    assert(runs.get == 1)
    intercept[IllegalStateException](cache.getOrCompute("/r", Map.empty, frame)(failing()))
    assert(runs.get == 2)
  }

  test("after the table's parquet file is rewritten in place, the old body is not served") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rc_rewrite")
    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.parquet(s"$dir/t")
    // every request reads the table afresh, as a caller's resolver may
    val tables = Facade.Tables(n => spark.read.parquet(s"$dir/$n"))
    val q = "/api/analytics/dashboard/query"
    val sum = """{"table": "t", "aggregation": {"metrics": [{"column": "v", "agg": "sum", "alias": "s"}]}}"""
    withServer(new HttpFacade(tables)) { port =>
      val (_, b1, h1) = call(port, "POST", q, sum)
      val (_, b2, h2) = call(port, "POST", q, sum)
      assert(h1 == "miss" && h2 == "hit" && stripTime(b1) == stripTime(b2))
      assert(b1.contains("\"s\":6"))
      // same file name, new bytes: copy a freshly written part (and its
      // checksum) over the old one
      Seq(10L, 20L, 30L, 40L).toDF("v").coalesce(1).write.parquet(s"$dir/next")
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
      val (c3, b3, h3) = call(port, "POST", q, sum)
      assert(c3 == 200 && h3 == "miss", b3)
      assert(b3.contains("\"s\":100"), b3)
      // and a rewrite under new file names
      Seq(5L).toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
      val (_, b4, h4) = call(port, "POST", q, sum)
      assert(h4 == "miss" && b4.contains("\"s\":5"), b4)
    }
  }

  test("a small budget evicts the least recently used entries and never keeps an over-size response") {
    import spark.implicits._
    val frame = Seq(1).toDF("v") // local rows: kept, no files to stamp
    val body = Array.fill[Byte](100)(1)
    val runs = new AtomicInteger()
    // every request has the same length, so every entry weighs the same
    def hit(c: ResponseCache, i: Int, b: Array[Byte] = body): Boolean =
      c.getOrCompute("/r", Map("i" -> f"$i%02d"), frame) { runs.incrementAndGet(); b }._2
    val one = { val c = new ResponseCache(1L << 20); hit(c, 0); c.weight }
    val cache = new ResponseCache(16 * one) // 16 entries fit, 25 do not
    for (i <- 0 until 25) {
      assert(!hit(cache, i))
      assert(cache.weight <= 16 * one)
    }
    assert(cache.weight == 16 * one)
    assert(hit(cache, 24))  // the newest is kept
    assert(hit(cache, 9))   // the oldest kept one, now the most recently used
    assert(!hit(cache, 25)) // evicts 10, the least recently used, not 9
    assert(hit(cache, 9) && !hit(cache, 10))
    val big = Array.fill[Byte]((one + 1).toInt)(2) // over budget / 16
    val before = (runs.get, cache.weight)
    assert(!hit(cache, 99, big) && !hit(cache, 99, big))
    assert((runs.get, cache.weight) == ((before._1 + 2, before._2)))
  }

  test("an entry's counted weight covers what it holds, however many files its table has") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rc_files")
    Seq(1L).toDF("v").coalesce(1).write.parquet(s"$dir/t001")
    val part = {
      val s = Files.list(dir.resolve("t001"))
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
      finally s.close()
    }
    Files.createDirectory(dir.resolve("t300"))
    for (i <- 0 until 300)
      Files.copy(part, dir.resolve("t300").resolve(f"part-$i%05d-${"x" * 80}.parquet"))
    // what the entries hold, frames excluded: the cache keeps those apart
    def retained(c: ResponseCache): Long = {
      val f = classOf[ResponseCache].getDeclaredFields.find(_.getName.endsWith("entries")).get
      f.setAccessible(true)
      org.apache.spark.util.SizeEstimator.estimate(f.get(c))
    }
    // 150 entries keep the map's table under SizeEstimator's sampling size;
    // each request reads the table afresh, as a caller's resolver may
    def filled(table: String): ResponseCache = {
      val c = new ResponseCache(1L << 30)
      for (i <- 0 until 150)
        c.getOrCompute("/api/analytics/dashboard/query",
          Map("table" -> table, "limit" -> i.toLong), spark.read.parquet(s"$dir/$table"))(
          Array.fill[Byte](150)(1))
      c
    }
    val (few, many) = (filled("t001"), filled("t300"))
    assert(spark.read.parquet(s"$dir/t300").inputFiles.length == 300)
    assert(many.weight == few.weight)
    assert(retained(many) == retained(few))
    val r = retained(many)
    assert(r <= many.weight && many.weight <= 2 * r, s"retained $r, counted ${many.weight}")
  }

  test("pipeline and staged routes are not cached") {
    withServer(new HttpFacade(sfTables)) { port =>
      val dir = Files.createTempDirectory("rc_pipe")
      val csv = dir.resolve("in.csv")
      Files.write(csv, "k,v\n1,a\n2,b\n".getBytes(UTF_8))
      val unified =
        s"""{"source": {"type": "csv", "path": "$csv"},
           |"destinations": [{"type": "jsonl", "path": "$dir/out"}]}""".stripMargin
      // each call writes its output again, and gets its own id
      val ids = (1 to 2).map { _ =>
        org.apache.commons.io.FileUtils.deleteDirectory(dir.resolve("out").toFile)
        val (c, b, h) = call(port, "POST", "/api/pipeline/unified", unified)
        assert(c == 200 && h == null, b)
        assert(MiniJson.parse(b).asInstanceOf[Map[String, Any]]("rows_loaded") == 2L)
        assert(spark.read.json(s"$dir/out").count() == 2L)
        MiniJson.parse(b).asInstanceOf[Map[String, Any]]("pipeline_id")
      }
      assert(ids.distinct.size == 2)

      val (_, init, _) = call(port, "POST", "/api/pipeline/staged/init",
        s"""{"source": {"type": "csv", "path": "$csv"}}""")
      val id = MiniJson.parse(init).asInstanceOf[Map[String, Any]]("pipeline_id")
      val preview = s"/api/pipeline/$id/data/preview?stage=extracted"
      assert(call(port, "POST", s"/api/pipeline/staged/$id/extract")._1 == 200)
      val (_, p1, ph1) = call(port, "GET", preview)
      assert(p1.contains("\"row_count\":2,") && ph1 == null)
      Files.write(csv, "k,v\n1,a\n2,b\n3,c\n".getBytes(UTF_8))
      assert(call(port, "POST", s"/api/pipeline/staged/$id/extract")._1 == 200)
      val (_, p2, _) = call(port, "GET", preview)
      assert(p2.contains("\"row_count\":3,"), p2)
    }
  }
}
