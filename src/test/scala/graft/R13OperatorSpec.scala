package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.core.Rebalance

/** Round-13 pins: computeDense's hardened scan-side contract (the probe can
  * never run a job, even when handed an exchange-bearing frame under AQE)
  * and the distinctCounts complex-column single-aggregate rewrite. */
class R13OperatorSpec extends SparkSuite {
  import spark.implicits._

  test("computeDense probe never runs a job; exchange-bearing inputs pass through") {
    // fixture write + parquet schema inference run real jobs — do both
    // BEFORE the listener window (only computeDense runs inside it)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r13_scan").toString
    spark.range(1000).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir).filter(col("id") >= 0)
      .select((col("id") * 2).as("v"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // (a) a post-shuffle frame: under AQE, .rdd on this plan would
      // materialize the aggregate's shuffle stages — the hardened contract
      // passes it through untouched instead (same object, no probe)
      val aggd = spark.range(1000).toDF("id")
        .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
      val outAgg = Rebalance.computeDense(aggd)
      // (b) a joined frame — exchange-bearing too
      val l = spark.range(100).toDF("id")
      val r = spark.range(100).toDF("id")
      val joined = l.join(r, "id")
      val outJoin = Rebalance.computeDense(joined)
      // (c) a scan-side frame: probe fires (plan compile only, still no job)
      val outScan = Rebalance.computeDense(scan)
      org.apache.spark.GraftTestListenerBus.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0,
        s"computeDense ran ${jobs.get()} job(s) during its partition probe")
      assert(outAgg eq aggd)
      assert(outJoin eq joined)
      // the scan-side result still rebalances when under-split (tiny
      // fixtures always pass the size guard, so the predicate reduces to
      // parts < target)
      val target = spark.sparkContext.defaultParallelism
      val scanParts = scan.rdd.getNumPartitions
      val expected = if (scanParts < target) target else scanParts
      assert(outScan.rdd.getNumPartitions == expected)
      // listener sanity: a real action IS counted
      outScan.write.format("noop").mode("overwrite").save()
      org.apache.spark.GraftTestListenerBus.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("computeDense still rebalances every scan-side shape the operators feed") {
    val target = spark.sparkContext.defaultParallelism
    assume(target >= 3) // trigger needs 1 * 2 < target
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r13_shapes").toString
    spark.range(500).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    val shapes = Seq[org.apache.spark.sql.DataFrame](
      base,                                             // bare scan
      base.select((col("id") + 1).as("v")),             // projection
      base.filter(col("id") % 2 === 0),                 // filter
      base.unionByName(base.select(col("id") + 1000 as "id")), // union
      base.select(explode(array(col("id"), -col("id"))).as("e")), // generate
      base.coalesce(1))                                 // coalesce
    shapes.foreach { df =>
      // expected from the helper's own predicate (tiny fixtures always
      // pass the size guard: any under-target shape rebalances)
      val parts = df.rdd.getNumPartitions
      val expected = if (parts < target) target else parts
      assert(Rebalance.computeDense(df).rdd.getNumPartitions == expected,
        s"shape mishandled: ${df.queryExecution.optimizedPlan.nodeName}")
    }
    // a persisted (InMemoryRelation) frame is a leaf — still eligible
    val cached = base.persist()
    try {
      cached.count()
      assert(Rebalance.computeDense(cached).rdd.getNumPartitions == target)
    } finally { cached.unpersist(); () }
  }

  test("KeptLines kernel ≡ the interpreted HOF spelling, adversarial corpus") {
    import graft.functions.{FunctionTwins, TextFunctions => TF}
    val lines = Seq(
      "a perfectly ordinary line of text",
      "THIS LINE IS ENTIRELY SHOUTING AT YOU",
      "Mixed CASE With Some UPPER words here",
      "tiny",
      "two words",
      "",
      "   ",
      "\t\t\f\r",
      "Click Here",                       // boilerplate, case-variant
      "  accept cookies  ",               // boilerplate, padded
      "privacy policy",                   // boilerplate, exact
      "privacy policyX",                  // NOT boilerplate
      "ÉÉÉ ÀÀÀ ÇÇÇ unicode uppercase is not ASCII upper",
      "naïve café résumé with accents and enough words",
      "123 456 789 000 111 (no alpha at all, ratio test unreachable)",
      "A B C D E F G H",                  // every word uppercase single char
      "word\tword\tword\ttabs as separators",
      "ends with spaces      ",
      "      starts with spaces",
      "ALLCAPS lower ALLCAPS lower ALLCAPS")
    // every contiguous 3-line window as one document, plus per-line docs
    val texts = lines.map(l => l) ++
      lines.sliding(3).map(_.mkString("\n")).toSeq ++
      Seq(lines.mkString("\n"))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .withColumn("_lines", split(col("text"), "\n"))
    val both = df.select(col("id"),
      TF.filterLinesArr(col("_lines")).as("kernel"),
      FunctionTwins.filterLinesArrTreeForm(col("_lines")).as("spec"))
    val bad = both.filter(!(col("kernel") <=> col("spec"))).collect()
    assert(bad.isEmpty, s"kernel/spec divergence: ${bad.take(3).mkString}")
    // and over the real fixture corpus, multiline-derived like the gate
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("_lines", split(
        regexp_replace(col("text"), "((\\S+\\s+){7}\\S+)\\s", "$1\n"), "\n"))
    val badDocs = docs.select(
      TF.filterLinesArr(col("_lines")).as("kernel"),
      FunctionTwins.filterLinesArrTreeForm(col("_lines")).as("spec"))
      .filter(!(col("kernel") <=> col("spec"))).count()
    assert(badDocs == 0L)
  }

  test("distinctCounts complex-typed columns: one aggregate, maps excluded") {
    val df = Seq(
      (1, Seq("a, b"), Seq(1), "x"),
      (2, Seq("a", "b"), Seq(2), "x"),
      (3, Seq("a", "b"), Seq(2), "y"),
      (4, null.asInstanceOf[Seq[String]], Seq(3), "y"))
      .toDF("id", "arr", "arr2", "s")
      .withColumn("m", map(col("s"), col("id")))
    val got = graft.query.QueryService
      .distinctCounts(df, Seq("id", "arr", "arr2", "s", "m"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // arr: ["a, b"] vs ["a","b"] are distinct (2); arr2: 3 distinct;
    // m: MapType is unorderable — countDistinct would throw, so the
    // profile reports NULL (uncountable ≠ zero distinct values; a 0 would
    // slip past profileTable's "proven ≤ cap" sample guard)
    assert(got == Map("id" -> Some(4L), "arr" -> Some(2L),
      "arr2" -> Some(3L), "s" -> Some(2L), "m" -> None))
  }
}
