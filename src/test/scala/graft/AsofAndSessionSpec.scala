package graft

import org.apache.spark.sql.functions._
import graft.operators.AsofJoin

/** As-of join semantics + streaming/batch parity. */
class AsofAndSessionSpec extends SparkSuite {
  import spark.implicits._

  private def mkLeft = Seq(
    ("a", 10L, "l1"), ("a", 20L, "l2"), ("a", 30L, "l3"),
    ("b", 15L, "l4")).toDF("k", "lts", "lv")
  private def mkRight = Seq(
    ("a", 5L, "r5"), ("a", 20L, "r20"), ("a", 25L, "r25"),
    ("c", 1L, "rc")).toDF("k", "rts", "rv")

  test("asof backward inclusive matches latest right at-or-before left ts") {
    val got = AsofJoin.backward(mkLeft, mkRight, Seq("k"), "lts", "rts")
      .orderBy("k", "lts").select("k", "lts", "lv", "rts", "rv")
      .collect().map(_.toSeq)
    assert(got.toSeq == Seq(
      Seq("a", 10L, "l1", 5L, "r5"),
      Seq("a", 20L, "l2", 20L, "r20"),   // equal ts matches when inclusive
      Seq("a", 30L, "l3", 25L, "r25"),
      Seq("b", 15L, "l4", null, null)))  // no right rows for key b
  }

  test("asof rejects colliding right payload columns in both directions") {
    val clash = mkRight.withColumnRenamed("rv", "lv")
    intercept[IllegalArgumentException] {
      AsofJoin.backward(mkLeft, clash, Seq("k"), "lts", "rts")
    }
    intercept[IllegalArgumentException] {
      AsofJoin.forward(mkLeft, clash, Seq("k"), "lts", "rts")
    }
  }

  test("asof backward strict excludes equal-ts right rows") {
    val got = AsofJoin.backward(mkLeft, mkRight, Seq("k"), "lts", "rts",
      strict = true)
      .filter(col("lts") === 20L).select("rts", "rv").head().toSeq
    assert(got == Seq(5L, "r5"))
  }

  test("asof forward picks earliest right at-or-after left ts") {
    val got = AsofJoin.forward(mkLeft, mkRight, Seq("k"), "lts", "rts")
      .orderBy("k", "lts").select("lts", "rts").collect().map(_.toSeq)
    assert(got.toSeq == Seq(
      Seq(10L, 20L), Seq(20L, 20L), Seq(30L, null), Seq(15L, null)))
    val strictAt20 = AsofJoin.forward(mkLeft, mkRight, Seq("k"), "lts", "rts",
      strict = true).filter(col("lts") === 20L).head().getAs[Any]("rts")
    assert(strictAt20 == 25L)
  }

  test("asof result keeps every left row exactly once (left-outer law)") {
    val orders = graft.core.Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val daily = orders.groupBy(col("o_custkey"), col("o_orderdate").as("pd"))
      .agg(count(lit(1)).as("pn"))
    val joined = AsofJoin.backward(orders, daily, Seq("o_custkey"),
      "o_orderdate", "pd", strict = true)
    assert(joined.count() == orders.count())
    assert(joined.select("o_orderkey").distinct().count() == orders.count())
  }

  test("streaming CDC latest-state converges to the batch applyChanges result") {
    import graft.streaming.Streams._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    def ch(id: Long, tMs: Long, op: String, v: Double) =
      Change(id, new java.sql.Timestamp(tMs), op, v)

    val src = MemoryStream[Change]
    val q = cdcLatestState(src.toDS()).writeStream.outputMode("update")
      .format("memory").queryName("cdc_latest_test").start()
    try {
      src.addData(ch(1, 100, "insert", 1.0), ch(2, 100, "insert", 2.0),
        ch(3, 100, "insert", 3.0))
      q.processAllAvailable()
      // update id 1, delete id 2, stale out-of-order update for id 3
      src.addData(ch(1, 200, "update", 10.0), ch(2, 200, "delete", 0.0),
        ch(3, 50, "update", 99.0))
      q.processAllAvailable()
      val latest = spark.table("cdc_latest_test")
        .groupBy("id").agg(max(struct(col("ts_ms"), col("value"),
          col("alive"))).as("s"))
        .select(col("id"), col("s.value"), col("s.alive"))
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
        .toMap
      assert(latest(1L) == ((10.0, true)), s"$latest")   // updated
      assert(latest(2L)._2 == false, s"$latest")         // deleted
      assert(latest(3L) == ((3.0, true)), s"$latest")    // stale ignored
    } finally q.stop()
  }

  test("binned range join matches nested-loop semantics incl. bin edges") {
    import graft.operators.RangeJoin
    val points = Seq((1L, 0L), (2L, 9L), (3L, 10L), (4L, 15L), (5L, 20L),
      (6L, 100L)).toDF("pid", "p")
    // ranges crossing bin edges, ending exactly on an edge, single-bin
    val ranges = Seq((10L, 0L, 10L), (20L, 5L, 25L), (30L, 20L, 21L))
      .toDF("rid", "s", "e")
    def naive(inc: Boolean) = points.crossJoin(ranges)
      .filter(if (inc) col("p") >= col("s") && col("p") <= col("e")
              else col("p") >= col("s") && col("p") < col("e"))
      .select("pid", "rid").collect().map(_.toSeq).toSet
    for (inc <- Seq(false, true); width <- Seq(3L, 10L, 64L)) {
      val got = RangeJoin.binned(points, ranges, "p", "s", "e",
        binWidth = width, endInclusive = inc)
        .select("pid", "rid").collect().map(_.toSeq).toSet
      assert(got == naive(inc), s"inc=$inc width=$width")
    }
  }

  test("streaming quality monitor aggregates per window x source, matches batch kernels") {
    import graft.streaming.Streams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, String, String)]
    val docs = src.toDS().toDF("ts", "source", "text")
    val mon = Streams.qualityMonitor(docs, "ts", "text", "source",
      window_ = "10 minutes", watermark = "30 minutes")
    val q = mon.writeStream.outputMode("update")
      .format("memory").queryName("qmon_test").start()
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    try {
      src.addData(
        (t(1), "web", "the quick brown fox jumps over the lazy dog"),
        (t(2), "web", "a short doc"),
        (t(3), "books", "another fine document with several reasonable words"))
      q.processAllAvailable()
      val rows = spark.table("qmon_test").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
      // token totals replay the batch kernel: 9 + 3 web tokens, 7 books
      assert(rows.contains(("web", 2L, 12L)))
      assert(rows.contains(("books", 1L, 7L)))
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window, drops outside") {
    import graft.streaming.Streams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val impr = MemoryStream[(java.sql.Timestamp, Long, String)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long, String)]
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val joined = Streams.intervalJoin(
      impr.toDS().toDF("ts", "uid", "ad"),
      clicks.toDS().toDF("ts", "uid", "click_id"),
      keys = Seq("uid"), leftTs = "ts", rightTs = "ts",
      watermark = "1 hour", before = "0 minutes", after = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_test").start()
    try {
      impr.addData((t(10), 1L, "adA"), (t(10), 2L, "adB"))
      clicks.addData(
        (t(15), 1L, "c1"),   // within [10, 20] for uid 1 → match
        (t(25), 1L, "c2"),   // past the +10min window → no match
        (t(9), 2L, "c3"),    // before the impression (before=0) → no match
        (t(12), 3L, "c4"))   // no impression for uid 3 → no match
      q.processAllAvailable()
      val got = spark.table("ij_test")
        .select("ad", "click_id_r").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == Seq(("adA", "c1")))
    } finally q.stop()
  }

  test("one-pass quality signals equal the per-column text functions") {
    import graft.functions.{TextFunctions => TF}
    val real = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val edge = Seq((-1L, ""), (-2L, "   "), (-3L, "x"),
      (-4L, "The quick, brown fox -- jumps; over the lazy dog!!"),
      (-5L, null.asInstanceOf[String]), (-6L, "a\t b\n\nc   d"))
      .toDF("doc_id", "text")
    val docs = real.unionByName(edge)
    val onePass = TF.qualitySignalsTable(docs, "text")
      .select(col("doc_id"), col("punct_ratio"), col("stopword_ratio"),
        col("mean_word_len"), col("quality"))
    val perCol = docs.select(col("doc_id"),
      TF.punctRatio(col("text")).as("punct_ratio"),
      TF.stopwordRatio(col("text")).as("stopword_ratio"),
      TF.meanWordLength(col("text")).as("mean_word_len"),
      TF.qualityScore(col("text")).as("quality"))
    assert(onePass.exceptAll(perCol).isEmpty && perCol.exceptAll(onePass).isEmpty)
  }
}
