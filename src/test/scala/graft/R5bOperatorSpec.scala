package graft

import org.apache.spark.sql.functions._

/** Round-5 second wave: the CDC-retraction path of the incremental
  * aggregate state, and next-event training-pair generation.
  */
class R5bOperatorSpec extends SparkSuite {
  import graft.operators.{IncrementalAgg, TrainingExamples}

  test("IncrementalAgg.updateCdc: insert-then-retract restores the prior " +
      "state bit-identically (exact decimal group inverse)") {
    val e = graft.core.Tables.table(spark, sfDir, "events")
    val keys = Seq("event_type")
    val st0 = IncrementalAgg.update(None, e, keys, "value")
    val batch = e.filter(col("event_id") % 7 === 0)
    val st1 = IncrementalAgg.updateCdc(st0, batch, e.limit(0), keys, "value")
    val st2 = IncrementalAgg.updateCdc(st1, e.limit(0), batch, keys, "value")
    assert(rowsOf(st2.orderBy("event_type")) ==
      rowsOf(st0.orderBy("event_type")))
  }

  test("IncrementalAgg.updateCdc: state ⊕ inserts ⊖ deletes ≡ direct " +
      "recompute over the post-CDC multiset") {
    val e = graft.core.Tables.table(spark, sfDir, "events")
    val keys = Seq("event_type")
    val st0 = IncrementalAgg.update(None, e, keys, "value")
    val ins = e.filter(col("event_id") % 7 === 0)
    val del = e.filter(col("event_id") % 5 === 0)
    val upd = IncrementalAgg.updateCdc(st0, ins, del, keys, "value")
    val direct = IncrementalAgg.update(None,
      e.union(ins).exceptAll(del), keys, "value")
    assert(rowsOf(upd.orderBy("event_type")) ==
      rowsOf(direct.orderBy("event_type")))
  }

  test("IncrementalAgg.updateCdc: a fully-retracted group disappears " +
      "rather than lingering at n=0") {
    import spark.implicits._
    val tiny = Seq(("g", 1.0), ("h", 2.0)).toDF("k", "v")
    val st = IncrementalAgg.update(None, tiny, Seq("k"), "v")
    val after = IncrementalAgg.updateCdc(st, tiny.limit(0),
      tiny.filter(col("k") === "g"), Seq("k"), "v")
    assert(rowsOf(after.select("k")) == Seq(Seq("h")))
  }

  test("Audit.ksStatistic: hand-computed statistic, zero on identical " +
      "samples, and shard-count invariance (two-phase cumsum is exact)") {
    import spark.implicits._
    import graft.operators.Audit
    // A = {1,2,3,4}, B = {3,4,5,6}: sup gap at v∈[2,3) → |2·4 − 0·4| = 8,
    // ks = 8/16 = .5
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val b = Seq(3.0, 4.0, 5.0, 6.0).toDF("v")
    val r = Audit.ksStatistic(a, b, "v").collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getLong(2) == 8L && r.getLong(3) == 500000L)
    // identical samples → zero
    val z = Audit.ksStatistic(a, a, "v").collect().head
    assert(z.getLong(2) == 0L && z.getLong(3) == 0L)
    // exactness cannot depend on where the shard bounds land
    val e = graft.core.Tables.table(spark, sfDir, "events")
    val x = e.filter(col("event_type") === "click")
    val y = e.filter(col("event_type") === "view")
    val r1 = Audit.ksStatistic(x, y, "value", shards = 1).collect().head
    val r32 = Audit.ksStatistic(x, y, "value", shards = 32).collect().head
    assert(r1.toSeq == r32.toSeq)
  }

  test("Audit.rankSumU: AUC hits 0/1 on fully-separated samples, 0.5 on " +
      "a pure tie, and stays shard-invariant") {
    import spark.implicits._
    import graft.operators.Audit
    val lo = Seq(1.0, 2.0).toDF("v"); val hi = Seq(3.0, 4.0).toDF("v")
    val below = Audit.rankSumU(lo, hi, "v").collect().head
    assert(below.getLong(2) == 0L && below.getLong(3) == 0L)
    val above = Audit.rankSumU(hi, lo, "v").collect().head
    assert(above.getLong(2) == 8L && above.getLong(3) == 1000000L)
    // single shared value: midrank tie → U1 = ½, AUC = .5
    val one = Seq(1.0).toDF("v")
    val tie = Audit.rankSumU(one, one, "v").collect().head
    assert(tie.getLong(2) == 1L && tie.getLong(3) == 500000L)
    val e = graft.core.Tables.table(spark, sfDir, "events")
    val x = e.filter(col("event_type") === "click")
    val y = e.filter(col("event_type") === "view")
    assert(Audit.rankSumU(x, y, "value", shards = 1).collect().head.toSeq ==
      Audit.rankSumU(x, y, "value", shards = 32).collect().head.toSeq)
  }

  test("Audit.wasserstein1: hand-computed mass transport, zero on " +
      "identical samples, shard-invariant") {
    import spark.implicits._
    import graft.operators.Audit
    // W1({0,1}, {1,2}) = 1.0 (every point moves distance 1)
    val a = Seq(0.0, 1.0).toDF("v"); val b = Seq(1.0, 2.0).toDF("v")
    val r = Audit.wasserstein1(a, b, "v").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 1000000L)
    assert(Audit.wasserstein1(a, a, "v").collect().head.getLong(2) == 0L)
    val e = graft.core.Tables.table(spark, sfDir, "events")
    val x = e.filter(col("event_type") === "click")
    val y = e.filter(col("event_type") === "view")
    assert(
      Audit.wasserstein1(x, y, "value", shards = 1).collect().head.toSeq ==
      Audit.wasserstein1(x, y, "value", shards = 32).collect().head.toSeq)
  }

  test("TableManifest: re-derived manifest matches the written one; a " +
      "truncated file and a lost file both surface in the diff") {
    import graft.io.TableManifest
    val base = "/tmp/graft_manifest_spec/docs"
    graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id")).repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(base)
    val m1 = TableManifest.parquetManifest(spark, base, "doc_id")
    val m2 = TableManifest.parquetManifest(spark, base, "doc_id")
    assert(m1.exceptAll(m2).isEmpty && m2.exceptAll(m1).isEmpty)
    assert(m1.count() == 3L)
    // simulate one lost part file and one truncated one
    val broken = m2.filter(col("file_part") =!= "00002")
      .withColumn("n_rows", when(col("file_part") === "00001",
        col("n_rows") - 1).otherwise(col("n_rows")))
    val diff = m1.exceptAll(broken).select("file_part")
      .collect().map(_.getString(0)).sorted
    assert(diff.toSeq == Seq("00001", "00002"))
  }

  test("Streams.cdcAggregateStream: a multi-batch file CDC feed folds to " +
      "the batch twin's state; ping-pong versions survive the commits") {
    import graft.streaming.Streams
    val root = new java.io.File("/tmp/graft_cdc_stream")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    val src = s"${root.getPath}/src"; val st = s"${root.getPath}/state"
    val e = graft.core.Tables.table(spark, sfDir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
    // three SELF-CONTAINED files: each carries one slice's inserts plus
    // deletes of rows within that same slice, so any batch split is valid
    (0 until 3).foreach { i =>
      val slice = e.filter(col("event_id") % 3 === i)
      slice.withColumn("op", lit("insert"))
        .unionByName(slice.filter(col("event_id") % 5 === 0)
          .withColumn("op", lit("delete")))
        .coalesce(1).write.mode("append").parquet(src)
    }
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = Streams.cdcAggregateStream(stream, "op",
      Seq("event_type"), "value", st)
    try q.processAllAvailable() finally q.stop()
    val got = Streams.readAggState(spark, st)
      .select(col("event_type"), col("n"),
        round(col("total").cast("double"), 4).as("t"))
    val expected = graft.operators.IncrementalAgg.update(None,
        e.exceptAll(e.filter(col("event_id") % 5 === 0)),
        Seq("event_type"), "value")
      .select(col("event_type"), col("n"),
        round(col("total").cast("double"), 4).as("t"))
    assert(rowsOf(got.orderBy("event_type")) ==
      rowsOf(expected.orderBy("event_type")))
    // three commits flipped the pointer three times: v0 after 1st and 3rd
    assert(new java.io.File(s"$st/v0").exists() &&
      new java.io.File(s"$st/v1").exists())
    // replay guard: a fresh-checkpoint restart re-delivers batch ids 0..2,
    // all ≤ the pointer's last-applied id — every batch must be SKIPPED,
    // leaving the state bit-identical instead of double-applied
    val q2 = Streams.cdcAggregateStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
      "op", Seq("event_type"), "value", st)
    try q2.processAllAvailable() finally q2.stop()
    val again = Streams.readAggState(spark, st)
      .select(col("event_type"), col("n"),
        round(col("total").cast("double"), 4).as("t"))
    assert(rowsOf(again.orderBy("event_type")) ==
      rowsOf(expected.orderBy("event_type")))
  }

  test("Sketches.rollingDistinctEstimate: 7-day rolling distinct from " +
      "daily HLL sketches tracks the exact window counts within 5%") {
    import graft.functions.Sketches
    val e = graft.core.Tables.table(spark, sfDir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = Sketches.distinctSketches(e, Seq("day"), "user_id")
    val est = Sketches.rollingDistinctEstimate(daily, "day", n = 7)
    // exact twin: explode each (day,user) to the windows it feeds
    val exact = e.distinct()
      .select(explode(sequence(col("day"), date_add(col("day"), 6)))
        .as("day"), col("user_id"))
      .join(e.select("day").distinct(), Seq("day"), "left_semi")
      .groupBy("day").agg(countDistinct(col("user_id")).as("exact"))
    val rows = est.join(exact, Seq("day")).collect()
    assert(rows.nonEmpty)
    assert(est.count() == exact.count()) // same window days, none phantom
    rows.foreach { r =>
      val (e1, e2) = (r.getAs[Long]("distinct_est"), r.getAs[Long]("exact"))
      assert(math.abs(e1 - e2).toDouble / math.max(e2, 1L) < 0.05,
        s"day ${r.get(0)}: est $e1 vs exact $e2")
    }
  }

  test("Similarity PQ: deterministic codebooks, codes in range, and the " +
      "query's own vector survives ADC search into the top-15") {
    import graft.functions.Similarity
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val m1 = Similarity.pqTrain(emb, "embedding", m = 8, codewords = 64)
    val m2 = Similarity.pqTrain(emb, "embedding", m = 8, codewords = 64)
    assert(m1.codebooks.flatten.flatten.toSeq ==
      m2.codebooks.flatten.flatten.toSeq) // seeded fit is repeatable
    assert(m1.dsub == 8)
    val enc = Similarity.pqEncode(emb, "embedding", m1)
    val codes = enc.select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 64)))
    val qvec = emb.filter(col("vec_id") === 2)
      .select(col("embedding")).head().getSeq[Float](0)
    val top = Similarity.pqSearch(enc, "vec_id", m1, qvec, k = 15)
      .select("vec_id").collect().map(_.getLong(0))
    assert(top.length == 15)
    assert(top.contains(2L), s"self-query lost its own vector: ${top.toSeq}")
  }

  test("Similarity IVF+PQ: search stays inside probed lists, self-vector " +
      "survives, and full-probe IVF+PQ equals plain PQ search") {
    import graft.functions.Similarity
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val idx = Similarity.ivfPqIndex(emb, "embedding", "vec_id",
      nLists = 8, m = 8, codewords = 64)
    // the encoded index carries no raw vectors — that IS the memory win
    assert(idx.encoded.columns.toSeq == Seq("vec_id", "_list", "codes"))
    val qvec = emb.filter(col("vec_id") === 2)
      .select(col("embedding")).head().getSeq[Float](0)
    val top = Similarity.ivfPqSearch(idx, "vec_id", qvec, k = 10, nProbe = 4)
      .select("vec_id").collect().map(_.getLong(0))
    assert(top.length == 10 && top.contains(2L))
    // probing EVERY list must reduce to plain PQ search over the corpus
    val all = Similarity.ivfPqSearch(idx, "vec_id", qvec, k = 10, nProbe = 8)
      .select("vec_id").collect().map(_.getLong(0))
    val plain = Similarity.pqSearch(
      Similarity.pqEncode(emb, "embedding", idx.model),
      "vec_id", idx.model, qvec, k = 10)
      .select("vec_id").collect().map(_.getLong(0))
    assert(all.toSeq == plain.toSeq)
  }

  test("Similarity residual IVFADC: self-recall, and recall vs exact L2 " +
      "at least matches the non-residual IVF+PQ path on the fixture") {
    import graft.functions.Similarity
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val qvec = emb.filter(col("vec_id") === 2)
      .select(col("embedding")).head().getSeq[Float](0)
    // exact L2 top-15 ground truth
    val qd = array(qvec.map(v => lit(v.toDouble)): _*)
    val dist = aggregate(
      zip_with(col("embedding").cast("array<double>"), qd,
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val exact = emb.select(col("vec_id"), dist.as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(15)
      .collect().map(_.getLong(0)).toSet
    val adcIdx = Similarity.ivfAdcIndex(emb, "embedding", "vec_id",
      nLists = 8, m = 8, codewords = 64)
    val adcTop = Similarity.ivfAdcSearch(adcIdx, "vec_id", qvec,
      k = 15, nProbe = 4).select("vec_id").collect().map(_.getLong(0))
    assert(adcTop.length == 15 && adcTop.contains(2L))
    val pqIdx = Similarity.ivfPqIndex(emb, "embedding", "vec_id",
      nLists = 8, m = 8, codewords = 64)
    val pqTop = Similarity.ivfPqSearch(pqIdx, "vec_id", qvec,
      k = 15, nProbe = 4).select("vec_id").collect().map(_.getLong(0))
    val (ra, rp) = (adcTop.count(exact), pqTop.count(exact))
    info(s"recall@15: residual-ADC $ra/15 vs IVF+PQ $rp/15")
    assert(ra >= rp, s"residual coding lost recall: $ra < $rp")
    // exact re-rank of the ADC shortlist: recall must not drop, and the
    // returned order must BE exact-distance order on its members
    val refined = Similarity.ivfAdcSearchRefined(adcIdx, emb, "embedding",
      "vec_id", qvec, k = 15, nProbe = 4).select("vec_id")
      .collect().map(_.getLong(0))
    val rr = refined.count(exact)
    info(s"recall@15 refined: $rr/15")
    assert(rr >= ra, s"re-ranking lost recall: $rr < $ra")
    assert(refined.head == 2L) // the query's own vector is exact-nearest
  }

  test("TrainingExamples.nextEventPairs: hand-built stream — ordered " +
      "context, bounded length, first event dropped, tie-broken by id") {
    import spark.implicits._
    // user 1: four events, one ts tie (ids 2,3) — context order must
    // follow (ts, id); user 2: a single event yields no pair
    val ev = Seq(
      (1L, 10L, 7L, "a"), (2L, 20L, 7L, "b"), (3L, 20L, 7L, "c"),
      (4L, 30L, 7L, "d"), (5L, 10L, 8L, "z")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = rowsOf(TrainingExamples.nextEventPairs(
      ev, "user_id", "ts", "event_id", "event_type", contextLen = 2)
      .orderBy("event_id"))
    assert(out == Seq(
      Seq(2L, 7L, "a", 1L, "b"),
      Seq(3L, 7L, "a|b", 2L, "c"),
      Seq(4L, 7L, "b|c", 2L, "d")))
  }
}
