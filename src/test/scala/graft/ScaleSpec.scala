package graft

import org.apache.spark.sql.functions._
import graft.core.{Bucketing, Skew}

class ScaleSpec extends SparkSuite {
  import spark.implicits._

  test("Sessions.builder sets the session policy Bench and Verify run under") {
    // the suite session comes from Sessions.builder("local[4]", 4); the
    // context conf holds what was set at creation, which later runtime sets
    // (Tables.table's nanosAsLong, a spec's shuffle override) never touch
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    // AQE is left to Spark's default, which must stay on
    assert(conf.getOption("spark.sql.adaptive.enabled").getOrElse(
      org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED
        .defaultValueString) == "true")
  }

  test("salted aggregation equals plain aggregation on skewed data") {
    // 90% of rows share one hot key
    val rows = (1 to 2000).map(i =>
      (if (i % 10 == 0) s"key_$i" else "HOT", i.toDouble))
    val df = rows.toDF("k", "v")
    val salted = Skew.saltedAggregate(df, col("k"), saltBuckets = 8,
      sums = Seq("total" -> col("v")))
      .select(col("_key").as("k"), col("n"), col("total"))
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
    assert(salted.count() == plain.count())
    val s = salted.filter(col("k") === "HOT").head()
    val p = plain.filter(col("k") === "HOT").head()
    assert(s.getAs[Long]("n") == p.getAs[Long]("n"))
    assert(math.abs(s.getAs[Double]("total") - p.getAs[Double]("total")) < 1e-6)
  }

  test("asof join plans one keyed exchange and never a nested loop") {
    val orders = graft.core.Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val daily = orders.groupBy(col("o_custkey"), col("o_orderdate").as("pd"))
      .agg(count(lit(1)).as("pn"))
    val joined = graft.operators.AsofJoin.backward(orders, daily,
      Seq("o_custkey"), "o_orderdate", "pd", strict = true)
    val plan = joined.queryExecution.executedPlan.toString
    // union + window construction: no join operator at all, so no
    // BroadcastNestedLoopJoin/CartesianProduct row amplification at scale
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"))
    // exchanges: one for the daily pre-aggregate, one keyed shuffle feeding
    // the window — nothing else (rows each cross the wire once)
    assert(plan.split("Exchange hashpartitioning").length - 1 == 2, plan)
  }

  test("Compact rewrites a fragmented directory to the expected file count") {
    val dir = "/tmp/graft_compact_spec"
    val src = (1 to 5000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    src.repartition(40).write.mode("overwrite").parquet(dir)
    // target a quarter of the fragmented total: expect ~4-5 output files
    val fragBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val (bytes, before, after) =
      graft.io.Compact.rewrite(spark, dir, targetBytesPerFile = fragBytes / 4)
    assert(bytes == fragBytes && before == 40, s"(bytes=$bytes before=$before)")
    assert(after >= 4 && after <= 5, s"after=$after")
    // data survives the swap
    val back = spark.read.parquet(dir)
    assert(back.count() == 5000L)
    assert(back.agg(sum(col("id"))).head().getLong(0) ==
      src.agg(sum(col("id"))).head().getLong(0))
  }

  test("SafeJoin.checked passes a sane join and throws on an exploding key") {
    val left = (1 to 100).map(i => (i % 10, i)).toDF("k", "x")
    val dim = (0 to 9).map(i => (i, s"d$i")).toDF("k2", "name")
    // 10 left rows × 1 right row per key = fanout 10: passes at cap 10
    val ok = graft.core.SafeJoin.checked(left, dim, "k", "k2", 10L)
    assert(ok.count() == 100)
    // hot key: one right key duplicated 50× -> fanout 500 trips the guard
    val dupDim = dim.union(Seq.fill(49)((3, "dup")).toDF("k2", "name"))
    val e = intercept[IllegalArgumentException] {
      graft.core.SafeJoin.checked(left, dupDim, "k", "k2", 100L)
    }
    assert(e.getMessage.contains("fanout"), e.getMessage)
  }

  test("kernel signature stages plan without a shuffle") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    // simhashTable is a per-row kernel behind ONE compute-dense
    // round-robin rebalance (r12) — never a hash shuffle
    val simPlan = graft.operators.SimHash
      .simhashTable(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!simPlan.contains("Exchange hashpartitioning"), simPlan)
    assert(simPlan.split("Exchange").length - 1 <= 1, simPlan)
    // minhash clusters: the signature is projection-only, so each
    // propagation round shuffles exactly twice — band window + label
    // aggregation (the old explode+agg signature stage added a corpus-wide
    // third); all shuffles are on small keys, never the exploded corpus
    val cluPlan = graft.operators.MinHashDedup
      .clusters(docs, "doc_id", "text", propagationRounds = 1)
      .queryExecution.executedPlan.toString
    assert(cluPlan.split("Exchange hashpartitioning").length - 1 == 2, cluPlan)
    val clu3Plan = graft.operators.MinHashDedup
      .clusters(docs, "doc_id", "text", propagationRounds = 3)
      .queryExecution.executedPlan.toString
    assert(clu3Plan.split("Exchange hashpartitioning").length - 1 == 6, clu3Plan)
  }

  test("bm25 plan: query-term filter reaches the scan side, top-k is a sort-limit") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val plan = graft.functions.TextFunctions
      .bm25Rank(docs, "doc_id", "text", Seq("spark", "table"))
      .queryExecution.executedPlan.toString
    // the k-cut must be TakeOrdered, not a global sort of all scored docs
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // df/corpus stats join back as broadcasts, never a shuffled join
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("topNgrams plan: one aggregation, TakeOrdered cut, no join") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val plan = graft.functions.TextFunctions.topNgrams(docs, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Join"), plan)
    // partial + final hash aggregate pair → exactly one exchange
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
  }

  test("corpusCard plan: exactly one corpus scan, no join") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val card = graft.operators.CorpusStats
      .corpusCard(docs, "text", Seq("lang", "source"))
    val plan = card.queryExecution.executedPlan.toString
    assert(plan.split("Scan parquet").length - 1 == 1, plan)
    assert(!plan.contains("Join"), plan)
    // the global total window runs over the tiny grouped frame, after the
    // corpus-sized aggregation
    assert(plan.contains("Window"), plan)
  }

  test("binned range join plans as an equi-join even with broadcast disabled") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val points = (1 to 500).map(i => (i.toLong, (i * 7 % 1000).toLong))
        .toDF("pid", "p")
      val ranges = (1 to 50).map(i =>
        (i.toLong, (i * 20).toLong, (i * 20 + 15).toLong)).toDF("rid", "s", "e")
      val joined = graft.operators.RangeJoin.binned(points, ranges,
        "p", "s", "e", binWidth = 16L)
      val plan = joined.queryExecution.executedPlan.toString
      // the bin key makes this a hash/sort-merge equi-join; the naive
      // inequality predicate alone would plan BroadcastNestedLoopJoin
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"))
      // sanity: equals the nested-loop result
      val naive = points.crossJoin(ranges)
        .filter(col("p") >= col("s") && col("p") < col("e")).count()
      assert(joined.count() == naive)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("substring-dedup plans: shared-window join is an equi-join, never a cross product") {
    import graft.operators.SubstrDedup
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    for (q <- Seq(SubstrDedup.flags(docs, "doc_id", "text", 12),
        SubstrDedup.removeSpans(docs, "doc_id", "text", 12))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"), plan.take(500))
    }
  }

  test("passageDedup plan: no unpartitioned window, no nested loop") {
    import graft.functions.{TextFunctions => TF}
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val q = TF.passageDedup(docs, "doc_id", "text", 20)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"))
    // reconstruction groups by doc — never a global Window over the corpus
    assert(!plan.contains("Window ["))
  }

  test("rarity scoring plan: vocab cut is a TakeOrdered, joins stay equi") {
    import graft.functions.{TextFunctions => TF}
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val q = TF.rarityScoreTable(docs, "doc_id", "text", vocabK = 20)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"))
  }

  test("z-order layout bounds BOTH dimensions per partition; plain sort only one") {
    import graft.core.ZOrder
    // uniform 64x64 grid of keys
    val df = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).as("y"))
    def avgYRange(d: org.apache.spark.sql.DataFrame): Double = {
      val r = d.withColumn("p", spark_partition_id())
        .groupBy("p").agg((max("y") - min("y")).as("ry"))
        .agg(avg("ry")).head().getDouble(0)
      r
    }
    val zordered = ZOrder.clusterBy2(df, "x", "y", numPartitions = 16, bits = 6)
    val xsorted = df.repartitionByRange(16, col("x"))
    val zr = avgYRange(zordered)
    val xr = avgYRange(xsorted)
    // x-sorted partitions span essentially the whole y range; z-order
    // partitions cover a tight rectangle in both dims
    assert(zr < xr / 2, s"z-order avg y-range $zr not < half of x-sort $xr")
    // and the layout is only a re-ordering: same rows survive
    assert(zordered.count() == 4096)
  }

  test("iterative ops produce identical results under Local and Reliable checkpointing") {
    // the Reliable path is what a 100 TB cluster run needs (localCheckpoint
    // state dies with an executor); both modes must be pure policy — same
    // fixpoint labels, same trained merges
    import graft.core.Checkpoints
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    try {
      val verts = (1L to 12L).toDF("id")
      // two chains (1-2-3-4, 5-6) + isolated vertices
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
        .toDF("src", "dst")
      val local = graft.operators.Components
        .labels(verts, "id", edges, "src", "dst", ckpt = Checkpoints.Local)
        .orderBy("id").collect().map(_.toSeq).toSeq
      val reliable = graft.operators.Components
        .labels(verts, "id", edges, "src", "dst", ckpt = Checkpoints.Reliable)
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(local == reliable)

      val docs = Seq("the cat sat", "the cat ran", "a cat sat on the mat")
        .toDF("text")
      val mLocal = graft.functions.Bpe
        .trainDistributed(docs, "text", numMerges = 3,
          ckpt = Checkpoints.Local)
      val mReliable = graft.functions.Bpe
        .trainDistributed(docs, "text", numMerges = 3,
          ckpt = Checkpoints.Reliable)
      assert(mLocal == mReliable)
      // reliable rounds really wrote filesystem checkpoints
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "Reliable mode must write checkpoint files")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(ckptDir))
    }
  }

  test("bucketed join plans without a shuffle exchange on the bucketed side") {
    // default warehouse (./spark-warehouse, gitignored) — the conf is static;
    // clear leftovers from prior JVMs (in-memory catalog forgets, disk doesn't)
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(d)
      }
    }
    val orders = graft.core.Tables.table(spark, sfDir, "orders")
    val lineitem = graft.core.Tables.table(spark, sfDir, "lineitem")
    Bucketing.writeBucketed(
      orders.withColumnRenamed("o_orderkey", "key"), "orders_b",
      Seq("key"), 4)
    Bucketing.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "key"), "lineitem_b",
      Seq("key"), 4)
    // force the shuffle-join path (tiny test tables would broadcast and the
    // planner would skip bucketing entirely)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      // co-located bucketed join: SortMergeJoin with NO ShuffleExchange
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"))
      assert(joined.count() == lineitem.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
