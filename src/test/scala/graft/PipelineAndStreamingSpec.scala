package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.pipeline.Pipeline

class PipelineAndStreamingSpec extends SparkSuite {
  test("pipeline chains stages lazily and loads to parquet sink") {
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val result = Pipeline.extract(_.read.parquet(s"$sfDir/customer.parquet"))
      .transform(QualityScorer(fields = Seq("c_custkey", "c_name", "c_acctbal")))
      .transform(ColumnRemover(prefix = Some("_meta_"),
        keep = Set("_meta_quality_score")))
      .load(df => graft.io.Sinks.parquet(df, s"$out/gold"))
      .run(spark)
    assert(result.rowsLoaded == 150L)
    // observe() metrics: per-stage processed counts without extra actions
    assert(result.stageRowCounts.values.forall(_ == 150L))
    val readBack = spark.read.parquet(s"$out/gold")
    assert(readBack.columns.contains("_meta_quality_score"))
    // the reference's stats view: success, row counts, phase durations
    val stats = result.stats
    assert(stats("success") == true && stats("records_loaded") == 150L)
    assert(stats.contains("transformer_quality_scorer") ||
      result.stageNames.forall(n => stats.contains(s"transformer_$n")))
    assert(stats("duration_ms").asInstanceOf[Long] >= 0L)
  }

  test("checkpointed pipeline resumes from stage boundary") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val p = Pipeline.extract(_.read.parquet(s"$sfDir/nation.parquet"))
      .transform(NullRemover("drop"))
      .checkpointed(dir)
    val r1 = p.run(spark)
    val r2 = p.resumeFrom(spark, dir, fromStage = 0)
    assert(r1.rowsLoaded == r2.rowsLoaded)
  }

  test("resumeFrom evaluates the resumed plan once for all sinks and the count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val evals = spark.sparkContext.longAccumulator("resume_evals")
    val bump = udf { (k: Long) => evals.add(1); k }
    val counted = new TransformStage {
      val name = "counted"
      def apply(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("_k", bump(col("n_nationkey")))
    }
    val p = Pipeline.extract(_.read.parquet(s"$sfDir/nation.parquet"))
      .transform(counted)
      .load(_.write.mode("overwrite").parquet(s"$dir/out_a"))
      .load(_.write.mode("overwrite").parquet(s"$dir/out_b"))
      .checkpointed(dir)
    p.run(spark)
    evals.reset()
    val r = p.resumeFrom(spark, dir, fromStage = 0)
    assert(r.rowsLoaded == 25L)
    assert(evals.value == 25L) // each row once, not once per sink + count
  }

  test("streaming windowed counts over events match batch aggregation") {
    // file stream source wants a directory — stage the single parquet file
    val stageDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stageDir.resolve("events.parquet"))
    val eventsPath = stageDir.toString
    // stream path (ts shape varies by dataset generation — shared normalizer)
    val got = graft.streaming.Streams.runToMemory(spark, eventsPath, "win_test",
      df => graft.streaming.Streams.windowedCounts(
        graft.core.Tables.withEventTime(df), "1 hour"))
    val batch = graft.core.Tables.table(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.agg(sum("n")).head().getLong(0) == 1000L)
    assert(got.count() == batch.count())
  }

  test("profileTable suggests roles and lists small categorical values") {
    val prof = graft.query.QueryService.profileTable(
      graft.core.Tables.table(spark, sfDir, "events"),
      Seq("event_id", "event_type", "value", "ts"))
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(prof("event_id").getAs[String]("suggested_role") == "id")
    assert(prof("value").getAs[String]("suggested_role") == "metric")
    assert(prof("ts").getAs[String]("suggested_role") == "datetime")
    assert(prof("event_type").getAs[String]("suggested_role") == "dimension")
    val vals = prof("event_type").getAs[String]("sample_values")
    assert(vals.split('|').sorted.toSeq == vals.split('|').toSeq)
    assert(prof("event_type").getAs[Boolean]("high_cardinality") == false)
  }

  test("profileTable is single-pass: stats jobs independent of column width") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val events = graft.core.Tables.table(spark, sfDir, "events")
    def jobsFor(cols: Seq[String]): (Int, String) = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        val out = graft.query.QueryService.profileTable(events, cols)
        Thread.sleep(800) // listener bus is async; let job-start events drain
        (jobs.get(), out.queryExecution.executedPlan.toString)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // the stats pass is ONE wide aggregate and ALL bounded categorical
    // value lists fold into ONE second aggregate: widening the column
    // list must not add jobs (the old shape ran ~2 jobs per column)
    val (jNarrow, _) = jobsFor(Seq("event_id", "event_type"))
    val (jWide, planWide) = jobsFor(
      Seq("event_id", "event_type", "value", "ts", "props"))
    assert(jWide == jNarrow,
      s"stats jobs grew with column count: $jNarrow -> $jWide")
    // a profile with no small-categorical column skips the sample job
    val (jNum, _) = jobsFor(Seq("event_id", "value"))
    assert(jNum <= jNarrow,
      s"numeric-only profile ran MORE jobs: $jNum > $jNarrow")
    // the returned report is pure literals — no deferred per-column
    // rescans hide in the result plan
    val scans = "Scan parquet|FileScan".r.findAllIn(planWide).length
    assert(scans == 0, s"expected a scan-free report plan, got $scans\n$planWide")
  }

  test("profileTable persists nothing and renders without a job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val rddBlocks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit =
        if (b.blockUpdatedInfo.blockId.isRDD) { rddBlocks.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val cacheWasEmpty = cache.isEmpty
    org.apache.spark.GraftTestListenerBus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val prof = graft.query.QueryService.profileTable(
        graft.core.Tables.table(spark, sfDir, "events"),
        Seq("event_id", "event_type", "value", "ts"))
      org.apache.spark.GraftTestListenerBus.waitUntilEmpty(sc)
      assert(rddBlocks.get == 0, "the profile cached a block")
      assert(!cacheWasEmpty || cache.isEmpty, "the profile left a cache entry")
      jobs.set(0)
      // the dashboard envelope's rendering of the report
      val rendered = prof.select(to_json(struct(prof.columns.map(col): _*)))
        .limit(100001).collect()
      org.apache.spark.GraftTestListenerBus.waitUntilEmpty(sc)
      assert(rendered.length == 4)
      assert(jobs.get == 0, s"rendering the profile ran ${jobs.get} jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("intermediate store: keyed save/load with meta sidecar, list, cleanup") {
    import graft.io.IntermediateStore
    val base = java.nio.file.Files.createTempDirectory("graft_store").toString
    val store = new IntermediateStore(spark, base)
    val region = graft.core.Tables.table(spark, sfDir, "region")
    val n = store.save("p1_stage0", region, stage = "extract",
      transformers = Seq("null_remover", "quality_scorer"))
    assert(n == 5 && store.exists("p1_stage0"))
    val (back, meta) = store.load("p1_stage0")
    assert(back.count() == 5)
    assert(meta.get.rows == 5 && meta.get.stage == "extract")
    assert(meta.get.transformers == Seq("null_remover", "quality_scorer"))
    assert(meta.get.columns == region.columns.toSeq)
    store.save("p1_stage1", region.limit(2))
    store.save("p2_stage0", region.limit(1))
    assert(store.listKeys() == Seq("p1_stage0", "p1_stage1", "p2_stage0"))
    assert(store.listKeys(Some("p1")) == Seq("p1_stage0", "p1_stage1"))
    store.cleanup("p1")
    assert(store.listKeys() == Seq("p2_stage0"))
    assert(!store.exists("p1_stage0"))
    store.delete("p2_stage0")
    assert(store.listKeys().isEmpty)
  }

  test("intermediate store: a save counts its rows inside the write job") {
    import graft.io.IntermediateStore
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = java.nio.file.Files.createTempDirectory("graft_store_jobs").toString
    val store = new IntermediateStore(spark, base)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    def shuffled = graft.core.Tables.table(spark, sfDir, "lineitem")
      .dropDuplicates("l_orderkey")
    val want = shuffled.count()
    def jobsOf[T](f: => T): (Int, T) = {
      org.apache.spark.GraftTestListenerBus.waitUntilEmpty(sc)
      jobs.set(0)
      val out = f
      org.apache.spark.GraftTestListenerBus.waitUntilEmpty(sc)
      (jobs.get, out)
    }
    sc.addSparkListener(listener)
    try {
      val (plain, _) = jobsOf(shuffled.write.mode("overwrite").parquet(s"$base/plain"))
      val (saved, rows) = jobsOf(store.save("deduped", shuffled))
      assert(saved == plain, s"save ran $saved jobs, a plain write $plain")
      assert(rows == want && store.load("deduped")._2.get.rows == want)
    } finally sc.removeSparkListener(listener)
    for ((key, empty) <- Seq("filtered" -> shuffled.filter(lit(false)),
        "limited" -> shuffled.limit(0))) {
      assert(store.save(key, empty) == 0L)
      assert(store.load(key)._2.get.rows == 0L)
    }
  }

  test("incremental state: second scan with same files yields no new rows") {
    import graft.io.IncrementalState
    val (df1, st1) = IncrementalState.scanNew(spark, s"$sfDir/region.parquet",
      "parquet", IncrementalState.empty)
    assert(df1.count() == 5)
    val (df2, _) = IncrementalState.scanNew(spark, s"$sfDir/region.parquet",
      "parquet", st1)
    assert(df2.count() == 0)
  }

  test("incremental state catches a rewrite within the same mtime tick") {
    import graft.io.IncrementalState
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val f = java.nio.file.Paths.get(s"$dir/data.csv")
    java.nio.file.Files.writeString(f, "1\n")
    val (d1, st1) = IncrementalState.scanNew(spark, dir, "csv",
      IncrementalState.empty)
    assert(d1.count() == 1)
    // rewrite with MORE rows, then force the mtime back to the watermark —
    // the old strict-> comparison would have missed this
    java.nio.file.Files.writeString(f, "1\n2\n")
    f.toFile.setLastModified(st1.lastModified)
    val (d2, _) = IncrementalState.scanNew(spark, dir, "csv", st1)
    assert(d2.count() == 2)
  }

  test("json array source roundtrip with nested path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    val path = s"$dir/data.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"data": {"records": [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]}}""")
    val df = graft.io.Sources.jsonArray(spark, path, Some("data.records"))
    assert(df.count() == 2 && df.columns.sorted.toSeq == Seq("a", "b"))
    // sink sidecar: named off the stem like the reference
    // (out.json -> out.schema.json), round-trips through DataType.fromJson
    val out = s"$dir/out.json"
    graft.io.Sinks.jsonArray(df, out, schemaSidecar = true)
    val sidecar = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out.schema.json"))
    assert(org.apache.spark.sql.types.DataType.fromJson(sidecar) == df.schema)
  }

  test("json array sink: executor-streamed file matches driver-built bytes") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsink").toString
    val df = spark.range(5).select(col("id"),
      when(col("id") % 2 === 0, concat(lit("v"), col("id"))).as("s"))
    for (pretty <- Seq(false, true)) {
      val out = s"$dir/arr_$pretty.json"
      graft.io.Sinks.jsonArray(df, out, pretty = pretty)
      val got = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
      // the old driver-collect construction, explicit nulls
      val rows = df.select(to_json(struct(col("id"), col("s")),
        Map("ignoreNullFields" -> "false"))).collect().map(_.getString(0))
      val want = if (pretty) rows.mkString("[\n  ", ",\n  ", "\n]")
                 else rows.mkString("[", ",", "]")
      assert(got == want)
      assert(got.contains("null")) // explicit null fields like json.dump
    }
    // empty input still produces a valid array file
    val empty = s"$dir/empty.json"
    graft.io.Sinks.jsonArray(df.filter(col("id") < 0), empty)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(empty)) == "[]")
    // a stale .inprogress from a failed run is never adopted by a later
    // empty-input write
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$empty.inprogress"), "[STALE GARBAGE")
    graft.io.Sinks.jsonArray(df.filter(col("id") < 0), empty)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(empty)) == "[]")
  }

  test("mini json: parse/render round-trips nested values and escapes") {
    import graft.service.MiniJson
    val src = """{"a": [1, -2.5, true, null, "x\ny A\""],
                 "b": {"nested": {"k": 10000000000}}, "empty": [], "eo": {}}"""
    val v = MiniJson.parse(src).asInstanceOf[Map[String, Any]]
    val a = v("a").asInstanceOf[List[Any]]
    assert(a == List(1L, -2.5, true, null, "x\ny A\""))
    assert(v("b").asInstanceOf[Map[String, Any]]("nested")
      .asInstanceOf[Map[String, Any]]("k") == 10000000000L)
    assert(v("empty") == Nil && v("eo") == Map.empty)
    // render → parse is identity on the parsed model
    assert(MiniJson.parse(MiniJson.render(v)) == v)
    // malformed inputs throw, never hang or mis-parse
    intercept[Exception](MiniJson.parse("""{"a": }"""))
    intercept[Exception](MiniJson.parse("""[1,2"""))
    intercept[Exception](MiniJson.parse("""{"a":1} trailing"""))
  }

  test("query service profile + filter-values on real table") {
    val li = graft.core.Tables.table(spark, sfDir, "lineitem")
    val prof = graft.query.QueryService.profileNumeric(li, Seq("l_quantity"))
    val row = prof.head()
    assert(row.getAs[Double]("min_value") >= 0.0)
    val fv = graft.query.QueryService.filterValues(li, "l_returnflag")
    assert(fv.count() <= 3)
  }
}
