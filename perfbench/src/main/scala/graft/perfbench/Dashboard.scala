package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct, to_json}
import graft.query.{AggregationSpec, Filter, Metric}
import graft.service.{Facade, HttpFacade, MiniJson}

/** The dashboard workload: a loopback `HttpFacade` over the generated
  * tables, driven by a closed loop of `clients` users. Each client sends its
  * own seeded request list, a fixed number of rounds of 10 requests, and
  * waits for every reply, so every run of a seed sends the same requests.
  *
  * The run opens with a cold round: one request of each route, one after
  * another, on the freshly started server.
  *
  * Traced runs replay each request in-process right after its HTTP call:
  * `Facade.handle` (the plan build, including any eager jobs) and the same
  * `to_json` collect the server's `respond` performs. */
final class Dashboard(p: Main.Params, workDir: String) extends Main.Workload {
  import Dashboard._

  private val dir = p("tables")
  private val clients = p.int("clients")
  private val rounds = p.int("rounds")
  private val maxRows = 100000
  private val requests: Seq[Req] = readRequests(p("requests"))
  private val coldRequests: Seq[Req] = readRequests(p("cold"))
  private var http: HttpFacade = _
  private var port = 0
  private var tables: Facade.Tables = _
  /** first normalized response per distinct request */
  private val firstBody = new ConcurrentHashMap[Int, String]()

  def setup(spark: SparkSession): Unit = {
    tables = Facade.Tables(graft.core.Tables.table(spark, dir, _))
    Seq("lineitem", "orders", "events").foreach(tables.resolve)
    http = new HttpFacade(tables, maxRows)
    port = http.start(0)
  }

  /** None: the cold round is the first thing `run` measures. */
  def warmup(spark: SparkSession): Unit = ()

  /** The cold round: the first request of each route on the fresh server,
    * one after another. Returns each request's (route, status, ms). */
  private def coldRound(tr: Tracer): Seq[(String, Int, Double)] =
    coldRequests.map { r =>
      val t0 = tr.nowMs
      val (code, body) =
        try tr.span(s"cold.${r.route}", r.id)(send(port, r))
        catch { case e: Throwable => (-1, String.valueOf(e)) }
      val ms = tr.nowMs - t0
      if (code == 200) firstBody.put(r.key, QTime.replaceFirstIn(body, "}"))
      (r.route, code, ms)
    }

  def run(spark: SparkSession, tr: Tracer): Map[String, Any] = {
    val c0 = tr.nowMs
    var cold: Seq[(String, Int, Double)] = Nil
    val coldCpu = Main.cpuMs { cold = coldRound(tr) }
    val c1 = tr.nowMs
    val byClient = requests.groupBy(_.client).map { case (c, rs) =>
      c -> rs.groupBy(_.round).toSeq.sortBy(_._1).map(_._2).take(rounds) }
    require(byClient.values.forall(_.size == rounds), "request lists too short")
    val samples = new ConcurrentLinkedQueue[Array[Any]]()
    val clientRounds = new ConcurrentLinkedQueue[Seq[Any]]()
    val errors = new ConcurrentLinkedQueue[String]()
    val t0 = tr.nowMs
    val cpu0 = Main.processCpuNs()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        try byClient(c).zipWithIndex.foreach { case (reqs, r) =>
          val rs = tr.nowMs
          reqs.foreach(req => samples.add(one(req, r, tr)))
          clientRounds.add(Seq(c, r, rs, tr.nowMs))
        } catch { case e: Throwable => errors.add(s"client $c: $e") }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val roundsCpu = (Main.processCpuNs() - cpu0) / 1e6
    Map("cold_start" -> c0, "cold_end" -> c1, "cold_cpu_ms" -> coldCpu,
      "rounds_cpu_ms" -> roundsCpu,
      "cold" -> cold.map { case (r, c, ms) => Seq(r, c, ms) },
      "t0" -> t0, "t1" -> tr.nowMs,
      "rounds_cols" -> Seq("client", "round", "start", "end"),
      "rounds" -> clientRounds.asScala.toSeq,
      "cols" -> Seq("client", "round", "route", "key", "start", "end", "status",
        "bytes", "query_time_ms", "same_as_first", "repeat_sent"),
      "samples" -> samples.asScala.toSeq.sortBy(_(4).asInstanceOf[Double]).map(_.toSeq),
      "errors" -> errors.asScala.toSeq)
  }

  private val sentKeys = ConcurrentHashMap.newKeySet[Int]()

  private def one(req: Req, round: Int, tr: Tracer): Array[Any] = {
    val repeat = !sentKeys.add(req.key)
    val ts = tr.nowMs
    val (code, body) =
      try tr.span(s"http.${req.route}", req.id)(send(port, req))
      catch { case e: Throwable => (-1, String.valueOf(e)) }
    val te = tr.nowMs
    val qtime = QTime.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
    val norm = QTime.replaceFirstIn(body, "}")
    val same = code == 200 && {
      val prev = firstBody.putIfAbsent(req.key, norm)
      prev == null || prev == norm
    }
    if (tr.enabled && code == 200) replay(req, tr)
    Array(req.client, round, req.route, req.key, ts, te, code,
      body.getBytes(UTF_8).length, qtime, same, repeat)
  }

  /** In-process twin of one request: the same Facade call and collect. */
  private def replay(req: Req, tr: Tracer): Unit =
    tr.span(s"inproc.${req.route}", req.id) {
      val df = tr.span(s"query.${req.route}.build", req.id)(
        Facade.handle(toRequest(req))(tables))
      tr.span(s"query.${req.route}.exec", req.id) {
        val rows = df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*),
          Map("ignoreNullFields" -> "false")).as("j"))
          .limit(maxRows + 1).collect()
        rowsReturned.add(Array(req.id, rows.length))
      }
    }

  private val rowsReturned = new ConcurrentLinkedQueue[Array[Any]]()

  def check(spark: SparkSession): Map[String, Any] = {
    val out = Paths.get(s"$workDir/responses")
    Files.createDirectories(out)
    firstBody.asScala.foreach { case (k, body) =>
      Files.write(out.resolve(s"$k.json"), body.getBytes(UTF_8))
    }
    Map("responses_dir" -> out.toString,
      "rows_returned" -> rowsReturned.asScala.toSeq.map(_.toSeq))
  }

  def teardown(): Unit = if (http != null) http.stop()

  // ---- request → Facade ADT, mirroring the server's parsing ---------------

  private def toRequest(r: Req): Facade.Request = {
    def m(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
    def l(v: Any): List[Any] = v match { case x: List[_] => x; case _ => Nil }
    def s(v: Any): String = String.valueOf(v)
    def filters(b: Map[String, Any]): Seq[Filter] =
      l(b.getOrElse("filters", Nil)).map { f0 =>
        val f = m(f0)
        val c = s(f("column"))
        val v = f.getOrElse("value", null)
        s(f("operator")) match {
          case "eq" => Filter.Eq(c, v)
          case "neq" => Filter.Neq(c, v)
          case "in" => Filter.In(c, l(v))
          case "gt" => Filter.Gt(c, v)
          case "gte" => Filter.Gte(c, v)
          case "lt" => Filter.Lt(c, v)
          case "lte" => Filter.Lte(c, v)
          case "between" => Filter.Between(c, l(v).head, l(v)(1))
          case op => sys.error(s"operator $op is not in the workload")
        }
      }
    lazy val body = m(MiniJson.parse(r.body))
    lazy val q = r.query
    r.route match {
      case "query" =>
        val a = m(body.getOrElse("aggregation", Map.empty))
        Facade.Query(s(body("table")), filters(body), AggregationSpec(
          groupBy = l(a.getOrElse("group_by", Nil)).map(s),
          metrics = l(a.getOrElse("metrics", Nil)).map { x =>
            val mm = m(x)
            Metric(s(mm.getOrElse("agg", "sum")), s(mm("column")),
              s(mm.getOrElse("alias", mm("column"))))
          },
          limit = a.get("limit").map { case n: Long => n.toInt; case d: Double => d.toInt }))
      case "drill_down" =>
        Facade.DrillDown(s(body("table")), filters(body),
          l(body.getOrElse("columns", Nil)).map(s), s(body("sort_key")),
          body("limit").asInstanceOf[Long].toInt, body("offset").asInstanceOf[Long].toInt)
      case "filter_values" =>
        Facade.FilterValues(q("table"), q("column"), q.get("search").filter(_.nonEmpty),
          q.get("limit").map(_.toInt).getOrElse(100))
      case "schema" => Facade.Profile(q("table"), q("columns").split(",").toSeq)
      case "dashboard" => Facade.Dashboard(q.getOrElse("kind", "summary"), q("table"))
      case "anomalies" =>
        Facade.Anomalies(s(body("table")), s(body.getOrElse("method", "statistical")),
          l(body.getOrElse("fields", Nil)).map(s),
          body.get("threshold").map { case d: Double => d; case n: Long => n.toDouble }
            .getOrElse(3.0))
    }
  }
}

object Dashboard {
  private val QTime = ",\"query_time_ms\":(\\d+)\\}$".r

  /** One request of a client's list (one line of the requests file). */
  final case class Req(client: Int, round: Int, route: String, key: Int,
      method: String, path: String, body: String) {
    def id: String = s"c$client-r$round-k$key"
    def query: Map[String, String] = path.split("\\?", 2) match {
      case Array(_, qs) => qs.split("&").map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap
      case _ => Map.empty
    }
  }

  /** Tab-separated: client, round, route, key, method, path, body. */
  def readRequests(path: String): Seq[Req] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty)
      .map { line =>
        val f = line.split("\t", -1)
        Req(f(0).toInt, f(1).toInt, f(2), f(3).toInt, f(4), f(5), f(6))
      }

  def send(port: Int, r: Req): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port${r.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    c.setRequestMethod(r.method)
    if (r.method == "POST") {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      try os.write(r.body.getBytes(UTF_8)) finally os.close()
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val bytes = if (in == null) Array.emptyByteArray
                else try in.readAllBytes() finally in.close()
    (code, new String(bytes, UTF_8))
  }
}
