package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import graft.query.{AggregationSpec, BoundLiteral, BoundLiterals, Filter, Metric, QueryService}
import graft.service.{Facade, HttpFacade}

/** The dashboard server binds the numeric comparison operands of its scans
  * (`BoundLiterals`): a new value on a seen request shape compiles no
  * class, returns the rows an unbound session returns, and leaves Parquet
  * pushdown and the plan shape as they were. */
class BoundLiteralsSpec extends SparkSuite {

  private lazy val table: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("bound-literals").toString
    spark.range(0, 2000, 1, 4).select(col("id"),
      ((col("id") % 97) * 0.5).as("q"), (col("id") % 50).cast("int").as("n"),
      concat(lit("k"), (col("id") % 7).cast("string")).as("s"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Runs `body` while a dashboard server is up on `spark`. */
  private def served[A](body: => A): A = {
    val http = new HttpFacade(Facade.Tables(_ => table))
    http.start()
    try {
      assert(spark.experimental.extraStrategies.contains(BoundLiterals))
      body
    } finally http.stop()
  }

  /** (result, classes compiled while computing it) */
  private def compiled[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** No silent interpreted fallback: a class that fails to compile throws,
    * so "0 compiled" can only mean a cache hit. */
  private def forceCodegen[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  private val comparisons: Seq[(String, Double => Filter)] = Seq(
    "gt" -> (v => Filter.Gt("q", v)), "gte" -> (v => Filter.Gte("q", v)),
    "lt" -> (v => Filter.Lt("q", v)), "lte" -> (v => Filter.Lte("q", v)),
    "eq" -> (v => Filter.Eq("q", v)), "neq" -> (v => Filter.Neq("q", v)),
    "between" -> (v => Filter.Between("q", v, v + 10.0)))

  /** The two request shapes a comparison rides: a drill-down page and a
    * grouped, ordered aggregate (exchanges, so adaptive re-planning). */
  private def shapes(f: Filter): Seq[DataFrame] = Seq(
    QueryService.drillDown(table, Seq(f), Seq("id", "q"), "id", limit = 20),
    QueryService.query(table, Seq(f),
      AggregationSpec(Seq("n"), Seq(Metric("count", "id", "c")))))

  private def rows(f: Filter): Seq[Seq[Seq[Any]]] = shapes(f).map(rowsOf)

  test("a new comparison value on a seen shape compiles no class and " +
      "returns the unbound rows") {
    forceCodegen {
      val bound = served {
        comparisons.map { case (op, filter) =>
          val first = rows(filter(10.0))
          val (second, n) = compiled(rows(filter(20.5)))
          assert(n == 0, s"$op: a second value compiled $n classes")
          (op, filter, first, second)
        }
      }
      assert(!spark.experimental.extraStrategies.contains(BoundLiterals))
      bound.foreach { case (op, filter, first, second) =>
        assert(first.forall(_.nonEmpty) && second.forall(_.nonEmpty), op)
        assert(first == rows(filter(10.0)), s"$op: rows differ from unbound")
        assert(second == rows(filter(20.5)), s"$op: rows differ from unbound")
        // the unbound planner inlines the value: a third one compiles
        val (_, n) = compiled(rows(filter(31.0)))
        assert(n >= 1, s"$op: the unbound control compiled nothing")
      }
    }
  }

  test("pushdown, data filters and plan shape are unchanged for all 12 " +
      "filter operators") {
    val filters = Seq(Filter.Eq("q", 10.0), Filter.Neq("n", 3L),
      Filter.In("n", Seq(1L, 2L)), Filter.NotIn("s", Seq("k1")),
      Filter.Between("q", 1.0, 9.5), Filter.Gt("id", 100L),
      Filter.Gte("q", 2.5), Filter.Lt("n", 7L), Filter.Lte("id", 50L),
      Filter.Contains("s", "K3"), Filter.IsNull("q"), Filter.IsNotNull("s"))
    def plan(f: Filter): SparkPlan =
      table.filter(f.toColumn).select("id", "s").queryExecution.executedPlan
    def facts(p: SparkPlan): (Seq[String], String, String) = {
      val scan = p.collectFirst { case s: FileSourceScanExec => s }.get
      (p.collect { case n => n.nodeName }, scan.dataFilters.mkString(", "),
        scan.metadata("PushedFilters"))
    }
    def boundIn(p: SparkPlan): Boolean = p.collect { case f: FilterExec =>
      f.condition.exists(_.isInstanceOf[BoundLiteral]) }.contains(true)
    val unbound = filters.map(f => facts(plan(f)))
    val withBound = served(filters.map { f =>
      val p = plan(f)
      (facts(p), boundIn(p))
    })
    filters.zip(unbound).zip(withBound).foreach { case ((f, u), (b, isBound)) =>
      assert(b == u, s"$f: plan facts differ")
      val comparison = f match {
        case _: Filter.Eq | _: Filter.Neq | _: Filter.Between | _: Filter.Gt |
            _: Filter.Gte | _: Filter.Lt | _: Filter.Lte => true
        case _ => false
      }
      assert(isBound == comparison, s"$f: bound = $isBound")
    }
  }
}
