package graft

import org.apache.spark.sql.functions._

/** Round-6 operators: Hilbert layout, count-sketch join sizing, Bloom
  * join reduction. */
class R6OperatorSpec extends SparkSuite {
  import spark.implicits._

  test("Hilbert: bijection and adjacency on the full 8x8 grid " +
      "(the property Morton lacks)") {
    val cells = for (x <- 0 until 8; y <- 0 until 8) yield (x.toLong, y.toLong)
    val df = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.core.Hilbert.hValue2(col("x"), col("y"), bits = 3).as("d"))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    // bijection: exactly 0..63, each once
    assert(df.map(_._1).toSeq == (0L until 64L))
    // continuity: every consecutive pair of curve positions is
    // grid-adjacent — Manhattan distance exactly 1
    val jumps = df.sliding(2).collect {
      case Array((_, (x1, y1)), (_, (x2, y2)))
          if math.abs(x1 - x2) + math.abs(y1 - y2) != 1 => ((x1, y1), (x2, y2))
    }.toSeq
    assert(jumps.isEmpty, s"non-adjacent curve steps: $jumps")
    // the same walk, interpreted: codegen and eval paths agree
    cells.foreach { case (x, y) =>
      val viaDf = df.find(_._2 == (x, y)).get._1
      assert(graft.core.Hilbert.xy2d(3, x, y) == viaDf)
    }
  }

  test("Morton takes non-adjacent jumps where Hilbert does not") {
    // sanity that the Hilbert claim is a real differentiator: sort the
    // 8x8 grid by each curve and count non-adjacent consecutive steps
    def jumps(dOf: (Long, Long) => Long): Int = {
      val order = (for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y))
        .sortBy { case (x, y) => dOf(x, y) }
      order.sliding(2).count {
        case Seq((x1, y1), (x2, y2)) =>
          math.abs(x1 - x2) + math.abs(y1 - y2) != 1
        case _ => false
      }
    }
    assert(jumps(graft.core.Hilbert.xy2d(3, _, _)) == 0)
    val morton = (x: Long, y: Long) => (0 until 3).map { b =>
      (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
    }.reduce(_ | _)
    assert(jumps(morton) > 0)
  }

  test("joinSizeEstimate: never underestimates, close at fixture scale, " +
      "and exact under a collision-free width") {
    val a = ((1 to 50).flatMap(k => Seq.fill(k % 5 + 1)(k.toLong))).toDF("k")
    val b = ((1 to 60).flatMap(k => Seq.fill(k % 3 + 1)(k.toLong))).toDF("k")
    val exact = a.groupBy("k").count().withColumnRenamed("count", "ca")
      .join(b.groupBy("k").count().withColumnRenamed("count", "cb"), "k")
      .agg(sum(col("ca") * col("cb"))).head().getLong(0)
    val est = graft.functions.Sketches.joinSizeEstimate(
      graft.functions.Sketches.keyFreqSketch(a, "k"),
      graft.functions.Sketches.keyFreqSketch(b, "k"))
      .head().getLong(0)
    assert(est >= exact, s"underestimate: $est < $exact")
    assert(est <= exact * 12 / 10, s"too loose: $est vs $exact")
  }

  test("bloomFilteredJoin: exact equality with the plain join, probe " +
      "actually reduces, outer joins rejected") {
    val big = graft.core.Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val small = graft.core.Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("okey"))
    val bloomed = graft.core.SafeJoin.bloomFilteredJoin(big, small, "okey",
      expectedKeys = 10000L, fpp = 0.01)
    val plain = big.join(small, Seq("okey"))
    assert(bloomed.count() == plain.count())
    assert(bloomed.agg(sum("l_quantity")).head().getDouble(0) ==
      plain.agg(sum("l_quantity")).head().getDouble(0))
    // the probe is in the plan, before the join
    val planStr = bloomed.queryExecution.executedPlan.toString
    assert(planStr.contains("bloom_might_contain"), planStr)
    // reduction is real for a selective dim (~1/5 of orders are urgent;
    // allow slack for false positives)
    val bf = small.stat.bloomFilter("okey", 10000L, 0.01)
    val kept = big.filter(
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.core.BloomProbeExpr(
          org.apache.spark.sql.GraftColumnBridge.expression(col("okey")),
          bf))).count()
    assert(kept < big.count() / 2, s"no reduction: $kept of ${big.count()}")
    intercept[IllegalArgumentException] {
      graft.core.SafeJoin.bloomFilteredJoin(big, small, "okey",
        joinType = "left_outer")
    }
  }

  test("ImageIO codecs: PNG lossless, JPEG near, GIF decodes, resize " +
      "preserves the container") {
    import graft.multimodal.Codecs
    val w = 24; val h = 18
    val rgb = Array.tabulate(w * h * 3) { j =>
      val p = j / 3; val x = p % w; val y = p / w
      (j % 3 match {
        case 0 => x * 255 / (w - 1)
        case 1 => y * 255 / (h - 1)
        case _ => 128
      }).toByte
    }
    val img = Codecs.ImagePixels(w, h, rgb)
    // PNG: bit-exact roundtrip
    val png = Codecs.decodeImage(Codecs.encodePng(img)).get
    assert(png.width == w && png.height == h)
    assert(java.util.Arrays.equals(png.rgb, rgb))
    // JPEG: dims exact, pixels near
    val jpg = Codecs.decodeImage(Codecs.encodeJpeg(img)).get
    assert(jpg.width == w && jpg.height == h)
    val meanErr = rgb.indices.map(i =>
      math.abs((rgb(i) & 0xff) - (jpg.rgb(i) & 0xff))).sum.toDouble / rgb.length
    assert(meanErr < 6.0, s"jpeg mean err $meanErr")
    // GIF: the JDK writer quantizes, but dims + sniff + decode are real
    val gifBytes = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Codecs.encodePng(img))), "gif", out)
      out.toByteArray
    }
    assert(Codecs.sniff(gifBytes).contains("image/gif"))
    val gif = Codecs.decodeImage(gifBytes).get
    assert(gif.width == w && gif.height == h)
    // resizeImages keeps the container: png in, png out
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        1L, "image", Codecs.encodePng(img), "image/png", w, h, null)), 1),
      graft.multimodal.Multimodal.mediaSchema)
    val out = graft.multimodal.Multimodal.resizeImages(media, 8, 8)
      .select("content", "width", "height").collect().head
    assert(Codecs.sniff(out.getAs[Array[Byte]](0)).contains("image/png"))
    assert(out.getInt(1) <= 8 && out.getInt(2) <= 8)
  }

  test("layout compare: curves bound zone-map depth on BOTH axes; " +
      "single-axis sort is pruning-dead off-axis") {
    // The gate (trimmed to its namesake 2-layout compare in r8) proves
    // both space-filling curves bound depth on BOTH axes at once.
    val rows = SparkEntry.queries("q_layout_compare")(
      spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet ==
      (for (c <- Set("hilbert", "zorder"); a <- Set("x", "y")) yield (c, a)))
    for (curve <- Seq("hilbert", "zorder"); a <- Seq("x", "y")) {
      val (nFiles, depth) = rows((curve, a))
      assert(depth < nFiles,
        s"$curve $a-depth should beat a pruning-dead layout")
    }
    // The single-axis-sort contrast, on a spec-local staged fixture: an
    // x-range-partitioned, x-sorted table prunes its own axis (depth ≤ 2,
    // boundary-tie overlap only) but is pruning-dead on y (depth =
    // n_files — every file's y-interval spans the grid).
    val pts = spark.range(4096).select(
      (col("id") * 2654435761L % 1024).as("x"),
      (col("id") * 40503L % 1024).as("y"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_xsort_fixture").toString
    pts.repartitionByRange(8, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(dir)
    val xs = graft.io.LayoutStats.zoneMapReportMulti(spark,
        Seq("xsort" -> dir), Seq("x", "y")).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    val (nf, yDepth) = xs("y")
    assert(nf > 1L, "fixture must stage multiple files")
    assert(yDepth == nf, "xsort should be pruning-dead on y")
    assert(xs("x")._2 <= 2L, "xsort own-axis depth ~1")
  }

  test("ADVICE r5 regressions: truth-less qid, null mid-window event " +
      "type, empty KMV comparison — all defined, none raise") {
    // rankingMetrics: a qid present only in approx must emit 0 metrics
    // instead of raising DIVIDE_BY_ZERO under ANSI mode
    val approx = Seq(("q1", "d1", 1), ("q1", "d2", 2), ("qX", "d9", 1))
      .toDF("qid", "doc", "rank")
    val truth = Seq(("q1", "d1", 1), ("q1", "d3", 2))
      .toDF("qid", "doc", "rank")
    val m = graft.functions.Ranking
      .rankingMetrics(approx, truth, "qid", "doc", "rank")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("recall_e4"), r.getAs[Long]("ndcg_e4"))).toMap
    assert(m("qX") == (0L, 0L))
    assert(m("q1")._1 == 5000L) // 1 of 2 truth docs found
    // eventPaths: a null event type mid-window must emit NO shortened
    // path (concat_ws would silently skip it)
    val ev = Seq((1L, 1L, "a"), (1L, 2L, null), (1L, 3L, "c"),
      (1L, 4L, "d"), (1L, 5L, "e")).toDF("user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("event_id", col("user_id"))
    val paths = graft.operators.TrainingExamples
      .eventPaths(ev, "user_id", "ts", "event_id", "event_type", depth = 3)
      .collect().map(_.getString(0)).toSet
    assert(paths == Set("c>d>e"), s"got $paths")
    // kmvCompare on two empty sketches: defined all-zero row, no raise
    val empty = Seq.empty[(String, Long)].toDF("seg", "member")
    val sk = graft.functions.Sketches.kmvBottomK(
      empty.withColumn("member", col("member")), "seg", "member", k = 16)
    val cmp = graft.functions.Sketches.kmvCompare(sk, sk, k = 16).head()
    assert(cmp.getAs[Long]("pool_size") == 0L &&
      cmp.getAs[Long]("jaccard_e4") == 0L)
    // tClosenessRisk builds lazily — construction runs no job (the table
    // is loaded BEFORE the listener window so parquet footer reads don't
    // count against the operator)
    val customer = graft.core.Tables.table(spark, sfDir, "customer")
    customer.schema // force relation resolution outside the window
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = graft.operators.Audit.tClosenessRisk(
        customer, Seq("c_mktsegment"), "c_nationkey")
      Thread.sleep(500)
      assert(jobs.get() == 0, "tClosenessRisk construction ran a job")
      assert(df.count() > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("new ops on empty inputs: joinSizeEstimate, bloom join, Hilbert") {
    val emptyL = Seq.empty[Long].toDF("k")
    val est = graft.functions.Sketches.joinSizeEstimate(
      graft.functions.Sketches.keyFreqSketch(emptyL, "k"),
      graft.functions.Sketches.keyFreqSketch(emptyL, "k")).collect()
    // no buckets at all → empty estimate frame or null min; both fine,
    // but it must not raise
    assert(est.length <= 1)
    val small = Seq.empty[Long].toDF("okey")
    val big = Seq(1L, 2L).toDF("okey")
    val joined = graft.core.SafeJoin.bloomFilteredJoin(big, small, "okey",
      expectedKeys = 10L)
    assert(joined.count() == 0L)
    val hv = emptyL.select(graft.core.Hilbert.hValue2(col("k"), col("k"),
      bits = 4)).count()
    assert(hv == 0L)
  }

  test("Dag.topoLevels: Kahn waves, cycle + its wake flagged, diamond " +
      "takes the longest path") {
    // diamond 1→{2,3}→4, chain 4→5; cycle 10↔11 with wake 11→12
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 10L), (11L, 12L)).toDF("src", "dst")
    val verts = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L)).toDF("id")
    val got = graft.operators.Dag
      .topoLevels(verts, "id", edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got(1L) == (0L, false) && got(2L) == (1L, false) &&
      got(3L) == (1L, false))
    assert(got(4L) == (2L, false) && got(5L) == (3L, false))
    // the cycle AND everything downstream of it is unschedulable
    assert(got(10L) == (-1L, true) && got(11L) == (-1L, true) &&
      got(12L) == (-1L, true))
  }

  test("SetSimJoin: exactly the brute-force pair set at every " +
      "threshold, prefix never misses") {
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d", "e")),
      (2L, Seq("a", "b", "c", "d", "f")),  // J(1,2)=4/6≈0.667
      (3L, Seq("a", "b", "c", "d", "e")),  // J(1,3)=1
      (4L, Seq("x", "y", "z")),
      (5L, Seq.empty[String]),
      (6L, Seq("x", "y", "z", "w"))) // J(4,6)=3/4=0.75
      .toDF("id", "sh")
    def brute(t: Double): Set[(Long, Long)] = {
      val m = rows.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      (for {
        a <- m.keys; b <- m.keys if a < b
        ia = m(a).toSet.intersect(m(b).toSet).size
        un = m(a).toSet.union(m(b).toSet).size
        if un > 0 && math.floor(ia * 10000.0 / un) >= math.floor(t * 10000)
      } yield (a, b)).toSet
    }
    Seq(0.5, 0.6667, 0.75, 0.8, 1.0).foreach { t =>
      val got = graft.operators.SetSimJoin
        .jaccardSelfJoin(rows, "id", "sh", t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute(t), s"threshold $t: $got vs ${brute(t)}")
    }
  }

  test("keyFreqSketch ignores null keys and is deterministic") {
    val df = Seq(Some(1L), Some(1L), Some(2L), None).toDF("k")
    val s1 = graft.functions.Sketches.keyFreqSketch(df, "k", depth = 3,
      width = 64).orderBy("_j", "_b").collect().toSeq
    val s2 = graft.functions.Sketches.keyFreqSketch(df, "k", depth = 3,
      width = 64).orderBy("_j", "_b").collect().toSeq
    assert(s1 == s2)
    assert(s1.map(_.getLong(2)).sum == 3 * 3) // 3 non-null rows x 3 hash rows
  }
}
