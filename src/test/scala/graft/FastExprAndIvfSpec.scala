package graft

import org.apache.spark.sql.functions._
import graft.functions.{FunctionTwins, Similarity, TokenCount, TextFunctions => TF}
import graft.operators.OperatorTwins

class FastExprAndIvfSpec extends SparkSuite {
  import spark.implicits._

  test("fast_token_count matches the regex-based tokenCount on documents") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val mismatches = docs.select(
      FunctionTwins.tokenCountRegex(col("text")).as("slow"),
      TF.tokenCount(col("text")).as("fast"))
      .filter(!(col("slow") <=> col("fast"))).count()
    assert(mismatches == 0)
    // edge cases: every ASCII \s class, leading/trailing runs, non-ASCII
    // (U+00A0 is not \s), null in → null out
    val edge = Seq("", "  ", "one", " a  b\tc\nd ", "x\u000By\fz\r",
      "a\u00a0b 中文", null).toDF("t")
      .select(FunctionTwins.tokenCountRegex(col("t")).as("slow"),
        TF.tokenCount(col("t")).as("fast")).collect()
    edge.foreach(r => assert(r.get(0) == r.get(1), s"edge: $r"))
    assert(edge.map(_.get(1)).toSeq ==
      Seq(0, 0, 1, 4, 3, 2, null))
  }

  test("char_class_runs matches size(regexp_extract_all) on documents") {
    import graft.functions.CharClassRuns.char_class_runs
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    // both readability patterns, corpus-wide parity
    val mismatches = docs.select(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).as("rs"),
      char_class_runs(col("text"), ".!?").as("fs"),
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .as("rv"),
      char_class_runs(lower(col("text")), "aeiouy").as("fv"))
      .filter(col("rs") =!= col("fs") || col("rv") =!= col("fv")).count()
    assert(mismatches == 0)
    // edge cases incl. multi-byte codepoints breaking runs, leading/trailing
    // runs, adjacent runs, and null text (null in, null out — like the regex)
    val edge = Seq[(Integer, String)]((1, ""), (2, "!!!"), (3, "a!b?c."),
      (4, "!.a?!"), (5, "aeiouéaeiou"), (6, "x中y!中!"),
      (7, null)).toDF("id", "t")
    val got = edge.select(col("id"),
      char_class_runs(col("t"), ".!?").as("f"),
      size(regexp_extract_all(col("t"), lit("[.!?]+"), lit(0))).as("r"))
      .orderBy("id").collect()
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch: $r")
      if (!r.isNullAt(1)) assert(r.getInt(1) == r.getInt(2), s"value: $r")
    }
    // vowel parity on the é case: 'é' is not an ASCII member, so it must
    // SPLIT the aeiou runs exactly like the regex does (2 runs, not 1)
    val eAcute = Seq("aeiouéaeiou").toDF("t")
      .select(char_class_runs(col("t"), "aeiouy")).head().getInt(0)
    assert(eAcute == 2)
    intercept[IllegalArgumentException] {
      graft.functions.CharClassRuns(
        org.apache.spark.sql.GraftColumnBridge.expression(col("t")), "é")
    }
  }

  test("char_class_runs and library token_count are codegen'd in readabilityTable") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val plan = TF.readabilityTable(docs, "doc_id", "text")
      .queryExecution.executedPlan
    assert(plan.toString.contains("char_class_runs"))
    assert(plan.toString.contains("fast_token_count"))
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
    // the kernel agrees with the regex spelling it replaced
    val tokMismatch = docs.select(
      FunctionTwins.tokenCountRegex(col("text")).as("slow"),
      TokenCount.token_count(col("text")).as("fast"))
      .filter(col("slow") =!= col("fast")).count()
    assert(tokMismatch == 0)
  }

  test("fast_token_count participates in whole-stage codegen") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val plan = docs.select(TF.tokenCount(col("text")))
      .queryExecution.executedPlan
    // the '*(n)' prefix in toString marks WholeStageCodegen spans
    assert(plan.toString.contains("*(1) Project [fast_token_count"))
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
  }

  test("fast_cosine is bit-identical to the HOF cosine and codegen'd") {
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0)
    val qArr = array(q.map(v => lit(v)): _*)
      .cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
    val mismatches = emb.select(
      FunctionTwins.cosine(col("embedding"), qArr).as("hof"),
      graft.functions.CosineSim.fast_cosine(col("embedding"), qArr).as("fast"))
      .filter(col("hof") =!= col("fast")).count()
    assert(mismatches == 0)
    val plan = emb.select(graft.functions.CosineSim
      .fast_cosine(col("embedding"), qArr))
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
    assert(plan.toString.contains("fast_cosine"))
  }

  test("decimal_dot is bit-identical to the explode + decimal-SUM plan") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 50)
    // relational spelling of the same contract: quantize each product to
    // DECIMAL(38,18), exact SUM, cast back to double
    val pairs = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")))
      .filter(col("id_a") < col("id_b"))
    val viaAgg = pairs.select(col("id_a"), col("id_b"),
      explode(zip_with(col("ea"), col("eb"), (x, y) =>
        (x.cast(DoubleType) * y.cast(DoubleType)).cast(DecimalType(38, 18))))
        .as("p"))
      .groupBy("id_a", "id_b").agg(sum("p").cast(DoubleType).as("dot"))
    val viaKernel = pairs.select(col("id_a"), col("id_b"),
      graft.functions.DecimalDot.decimal_dot(col("ea"), col("eb")).as("dot"))
    assert(viaKernel.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaKernel).isEmpty)
    // codegen participation — over a plain scan projection (the nested-loop
    // pair join itself is not a codegen operator, so assert on the kernel's
    // own stage shape)
    val plan = emb.select(graft.functions.DecimalDot
      .decimal_dot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
    assert(plan.toString.contains("decimal_dot"))
  }

  test("lsh_bucket kernel is bit-identical to the expression-tree form") {
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val mismatches = emb.select(
      Similarity.lshBucket(col("embedding"), dim = 64, nPlanes = 8).as("fast"),
      FunctionTwins.lshBucketTreeForm(col("embedding"), dim = 64, nPlanes = 8)
        .as("tree"))
      .filter(col("fast") =!= col("tree")).count()
    assert(mismatches == 0)
    // buckets actually split the corpus (not all zero / all one bucket)
    val nBuckets = emb.select(
      Similarity.lshBucket(col("embedding"), 64, 8).as("b"))
      .distinct().count()
    assert(nBuckets > 1)
  }

  test("word_shingles kernel equals the HOF form: same set, same order") {
    import graft.operators.MinHashDedup
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    for (k <- Seq(2, 3)) {
      val mismatches = docs.select(
        MinHashDedup.shingles(col("text"), k).as("fast"),
        OperatorTwins.shinglesTreeForm(col("text"), k).as("tree"))
        .filter(col("fast") =!= col("tree")).count()
      assert(mismatches == 0, s"k=$k")
    }
    // edge cases: short docs, repeats, collapsed whitespace
    val edge = Seq("", "one", "a b", "a b c", "x  y\tz", "p q p q p q")
      .toDF("text")
    val pairs = edge.select(
      MinHashDedup.shingles(col("text"), 3).as("fast"),
      OperatorTwins.shinglesTreeForm(col("text"), 3).as("tree"))
      .collect()
    pairs.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
      s"edge: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
  }

  test("rolling_fingerprint kernel is bit-identical to the xxhash64 fold") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val mismatches = docs.select(
      TF.fingerprint(col("text")).as("fast"),
      FunctionTwins.fingerprintTreeForm(col("text")).as("tree"))
      .filter(col("fast") =!= col("tree")).count()
    assert(mismatches == 0)
    // edge cases incl. the empty-token artifact of split("") and case folding
    val edge = Seq("", "   ", "one", "Two Words", "a  b\tc", "MiXeD CaSe")
      .toDF("text")
    val pairs = edge.select(
      TF.fingerprint(col("text")).as("fast"),
      FunctionTwins.fingerprintTreeForm(col("text")).as("tree")).collect()
    pairs.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // order sensitivity survives the kernel swap
    val ab = edge.sparkSession.range(1).select(
      TF.fingerprint(lit("alpha beta")).as("x"),
      TF.fingerprint(lit("beta alpha")).as("y")).head()
    assert(ab.getLong(0) != ab.getLong(1))
  }

  test("minhash_sig kernel equals the explode + 64-min aggregate") {
    import graft.operators.MinHashDedup
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((100000L, "two words"), (100001L, ""))
        .toDF("doc_id", "text")) // < k words → empty signature
    val numHashes = 64
    val ex = docs.select(col("doc_id"),
      explode_outer(MinHashDedup.shingles(col("text"), 3)).as("_sh"))
    val minCols = (0 until numHashes).map(seed =>
      min(xxhash64(col("_sh"), lit(seed))).as(s"_h$seed"))
    val viaAgg = ex.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (0 until numHashes).map(i =>
          if (r.isNullAt(i + 1)) null else r.getLong(i + 1))).toMap
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.MinHashSig.minhash_sig(col("text"), 3, numHashes)
        .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    viaAgg.foreach { case (id, aggSig) =>
      assert(viaKernel(id) == aggSig, s"doc $id")
    }
  }

  test("simhash_sig kernel equals the explode + vote aggregate") {
    import graft.operators.SimHash
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((100000L, "two words"), (100001L, ""),
        (100002L, "p q p q p q")) // duplicate shingles must not double-vote
        .toDF("doc_id", "text"))
    val viaAgg = OperatorTwins.simhashTableAggForm(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaKernel = SimHash.simhashTable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaKernel == viaAgg)
    assert(viaKernel(100001L) == 42L) // shingle-less doc = seed's own bits
  }

  test("GraftExtensions installs the kernels for plain SQL on a fresh session") {
    import org.apache.spark.sql.SparkSession
    // getOrCreate reuses any active session and skips extension wiring, so
    // park the suite session and build one with the extensions applied.
    // (`spark.sql.extensions` is a STATIC conf — it only takes effect when
    // the SparkContext is created, and the suite's context already exists —
    // so wire programmatically via withExtensions, the library-API route.)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val fresh = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions()(_))
      .getOrCreate()
    try {
      import fresh.implicits._
      val got = fresh.sql(
        """SELECT fast_token_count(' a b  c ') AS n,
          |  fast_cosine(array(cast(1.0 as float), cast(0.0 as float)),
          |              array(cast(1.0 as float), cast(0.0 as float))) AS cos,
          |  decimal_dot(array(cast(2.0 as float)), array(cast(3.0 as float))) AS d,
          |  cosine_q8(named_struct('q8', array(cast(3 as tinyint)),
          |      'scale', cast(1.0 as float), 'norm', cast(3.0 as float)),
          |    named_struct('q8', array(cast(3 as tinyint)),
          |      'scale', cast(1.0 as float), 'norm', cast(3.0 as float))) AS q8,
          |  accent_fold('café') AS folded
          |""".stripMargin).head()
      assert(got.getInt(0) == 3)
      assert(math.abs(got.getDouble(1) - 1.0) < 1e-12)
      assert(math.abs(got.getDouble(2) - 6.0) < 1e-12)
      assert(math.abs(got.getDouble(3) - 1.0) < 1e-12)
      assert(got.getString(4) == "cafe")
      // SQL edge cases of fast_token_count
      Seq("", "  ", "one", " a  b\tc\nd ").toDF("t")
        .createOrReplaceTempView("ftc")
      assert(fresh.sql("SELECT fast_token_count(t) FROM ftc")
        .as[Int].collect().toSeq == Seq(0, 0, 1, 4))
      // window_hashes: k must be a literal in [2, 512]; a valid k equals
      // the Column form
      Seq(Seq("a", "b", "c", "d", "e")).toDF("w")
        .createOrReplaceTempView("wh")
      Seq("size(w)", "1", "513").foreach { k =>
        intercept[IllegalArgumentException] {
          fresh.sql(s"SELECT window_hashes(w, $k) FROM wh").collect()
        }
      }
      val viaSql = fresh.sql("SELECT window_hashes(w, 3) FROM wh")
        .head().getSeq[Long](0)
      val viaColumn = fresh.table("wh")
        .select(graft.functions.WindowHashes.window_hashes(col("w"), 3))
        .head().getSeq[Long](0)
      assert(viaSql.size == 3 && viaSql == viaColumn)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("window_hashes kernel is bit-identical to the slice+aggregate form") {
    import graft.functions.{TextFunctions => TF}
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
      .select(split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")
        .as("w"))
    for (k <- Seq(2, 12, 64, 65)) { // incl. rotation-count wraparound at 64
      val mismatches = docs.select(
          TF.windowHashes(col("w"), k).as("fast"),
          FunctionTwins.windowHashesTreeForm(col("w"), k).as("tree"))
        .filter(col("fast") =!= col("tree")).count()
      assert(mismatches == 0, s"k=$k")
    }
    // participates in whole-stage codegen
    val plan = docs.select(TF.windowHashes(col("w"), 12))
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty)
  }

  test("bpe_apply kernel is bit-identical to the chained-aggregate fold") {
    import graft.functions.Bpe
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val merges = Bpe.train(docs, "text", numMerges = 6)
    val mismatches = docs.select(
        Bpe.encode(col("text"), merges).as("fast"),
        FunctionTwins.encodeTreeForm(col("text"), merges).as("tree"))
      .filter(col("fast") =!= col("tree")).count()
    assert(mismatches == 0)
    // in-pass re-merge edge: "aaa" under (a,a) gives [aa, a], never [aa, aa]
    val tricky = Seq("aaa aaaa").toDF("t")
    val m = Seq(Bpe.Merge(0, "a", "a", 0L))
    val got = tricky.select(Bpe.encode(col("t"), m)).head().getSeq[String](0)
    assert(got == Seq("aa", "a", " ", "aa", "aa"))
  }

  test("nearest_centroid kernel is bit-identical to the struct-argmin tree form") {
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val index = Similarity.ivfIndex(emb, "embedding", "vec_id", nLists = 8)
    // same centroid table through both spellings — assignment must agree
    // everywhere (incl. the lowest-index distance-tie rule)
    val mismatches = emb.select(col("vec_id"),
        FunctionTwins.nearestCentroidTreeForm(col("embedding"), index.centroids)
          .as("tree"))
      .join(index.assigned.select(col("vec_id"), col("_list")), "vec_id")
      .filter(col("tree") =!= col("_list")).count()
    assert(mismatches == 0)
  }

  test("IVF index: self-query returns itself; probes bound the scan") {
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val index = Similarity.ivfIndex(emb, "embedding", "vec_id", nLists = 8)
    assert(index.centroids.length == 8)
    // every vector got a list
    assert(index.assigned.filter(col("_list").isNull).count() == 0)
    val qvec = emb.filter(col("vec_id") === 11).select("embedding")
      .head().getSeq[Float](0)
    val hits = Similarity.ivfSearch(index, "embedding", "vec_id", qvec,
      k = 5, nProbe = 3).collect()
    assert(hits.head.getLong(0) == 11L) // own list is always probed
    assert(math.abs(hits.head.getDouble(1) - 1.0) < 1e-9)
    // determinism: same seed → same assignment
    val again = Similarity.ivfIndex(emb, "embedding", "vec_id", nLists = 8)
    val a1 = index.assigned.select("vec_id", "_list").as[(Long, Int)].collect().toMap
    val a2 = again.assigned.select("vec_id", "_list").as[(Long, Int)].collect().toMap
    assert(a1 == a2)
  }

  test("IVF recall against brute force is reasonable on clustered data") {
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val qvec = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0)
    val exact = Similarity.topK(emb, "embedding", "vec_id", qvec, 10)
      .select("vec_id").as[Long].collect().toSet
    val index = Similarity.ivfIndex(emb, "embedding", "vec_id", nLists = 8)
    val approx = Similarity.ivfSearch(index, "embedding", "vec_id", qvec,
      k = 10, nProbe = 4).select("vec_id").as[Long].collect().toSet
    // embeddings are label-clustered; probing half the lists should recover
    // most of the true top-10
    assert((exact intersect approx).size >= 5)
  }

  test("int8 quantization: bounded cosine error, high top-k recall, codegen") {
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val qvec = emb.filter(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0)
    val (q8, s, n) = Similarity.quantizeLocal(qvec)
    assert(q8.length == qvec.length && s > 0 && n > 0)
    // frame-side and driver-side quantization agree on the same vector
    val frameQ = Similarity.quantizeFrame(
      emb.filter(col("vec_id") === 1), "embedding")
      .select("qvec.q8", "qvec.scale", "qvec.norm").head()
    assert(frameQ.getSeq[Byte](0).toArray.toSeq == q8.toSeq)
    assert(frameQ.getFloat(1) == s && frameQ.getFloat(2) == n)
    // per-vector cosine error vs float32 is small (int8 on 64 dims)
    val qStruct = struct(
      array(q8.map(b => lit(b)): _*)
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ByteType)).as("q8"),
      lit(s).as("scale"), lit(n).as("norm"))
    val errs = Similarity.quantizeFrame(emb, "embedding", "_qv")
      .select(abs(graft.functions.CosineQ8.cosine_q8(col("_qv"), qStruct) -
        graft.functions.CosineSim.fast_cosine(col("embedding"),
          array(qvec.map(v => lit(v)): _*)
            .cast(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))).as("err"))
    assert(errs.agg(max(col("err"))).head().getDouble(0) < 0.02)
    // top-20 recall vs exact float32 search
    val exact20 = Similarity.topK(emb, "embedding", "vec_id", qvec, 20)
      .select("vec_id").as[Long].collect().toSet
    val q20 = Similarity.topKQuantized(emb, "embedding", "vec_id", qvec, 20)
      .select("vec_id").as[Long].collect().toSet
    assert((exact20 intersect q20).size >= 16)
    // the scoring projection stays inside whole-stage codegen
    val plan = Similarity.topKQuantized(emb, "embedding", "vec_id", qvec, 20)
      .queryExecution.executedPlan
    val spans = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty)
  }
}
