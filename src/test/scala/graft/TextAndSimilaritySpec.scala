package graft

import org.apache.spark.sql.functions._
import graft.functions.{CosineSim, Similarity, TextFunctions => TF}
import graft.operators.{MinHashDedup, NgramJaccard, SimHash}

class TextAndSimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("tokenCount handles empty, single, multi-space") {
    val df = Seq("", "one", "two  words", "  padded three words  ").toDF("text")
    val got = df.select(TF.tokenCount(col("text"))).as[Int].collect().toSeq
    assert(got == Seq(0, 1, 2, 3))
  }

  test("langId picks dominant marker language") {
    val df = Seq(
      "the cat and the dog is here",
      "der hund und die katze ist da",
      "el perro es con la casa para",
      "xyzzy qwerty").toDF("text")
    val got = df.select(TF.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "unknown"))
  }

  test("shingles produce k-grams; identical docs have jaccard 1") {
    val df = Seq("a b c d e").toDF("text")
    val sh = df.select(MinHashDedup.shingles(col("text"), 3)).as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d", "c d e"))
    val two = Seq((1L, "a b c d e", "k"), (2L, "a b c d e", "k")).toDF("id", "text", "blk")
    val pairs = NgramJaccard.pairsWithinBlocks(two, "id", "text", col("blk"), 3, 0.5)
    assert(pairs.select("jaccard").as[Double].head() == 1.0)
  }

  test("minhash clusters exact duplicates together") {
    val docs = Seq(
      (1L, "spark makes big data simple and fast for everyone today"),
      (2L, "spark makes big data simple and fast for everyone today"),
      (3L, "an entirely different document about cats and dogs playing")
    ).toDF("doc_id", "text")
    val clusters = MinHashDedup.clusters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == clusters(2L))
    assert(clusters(3L) != clusters(1L))
  }

  test("minhash cluster propagation reaches connected components on chains") {
    import graft.operators.MinHashDedup
    // chain-shaped duplicates: doc i shares half its words with doc i+1 but
    // none with doc i+2 — connected only transitively through the middle
    def words(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")
    val docs = (0 until 6).map(i => (i.toLong, words(i * 10, i * 10 + 20))).toDF("id", "text")
    val (k, nh, bands) = (3, 64, 32) // aggressive banding: chains bucket-join
    // ground truth: union-find over the actual candidate pairs
    val bb = MinHashDedup.bucketTable(docs, "id", "text", k, nh, bands)
    val edges = bb.as("a").join(bb.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("u"), col("b.id").as("v"))
      .where(col("u") < col("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map((0L until 6L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (u, v) => parent(find(u)) = find(v) }
    val ccMin = (0L until 6L).groupBy(find).flatMap { case (_, ids) =>
      ids.map(_ -> ids.min) }.toMap
    // the chain must actually require propagation to be a fair test
    assert(edges.nonEmpty)
    val got = MinHashDedup.clusters(docs, "id", "text", k, nh, bands,
        propagationRounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ccMin, s"edges=${edges.toSeq}")
    // one more round is a no-op: 4 rounds already reached the fixpoint
    val again = MinHashDedup.clusters(docs, "id", "text", k, nh, bands,
        propagationRounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
    // the eager single-scan form is label-for-label identical to the lazy one
    val mat = MinHashDedup.clustersMaterialized(docs, "id", "text", k, nh,
      bands, propagationRounds = 4)
    val matMap = mat.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    mat.unpersist()
    assert(matMap == got)
  }

  test("components: chain + triangle + isolated vertex match union-find") {
    import graft.operators.Components
    // 0-1-2-3 path (diameter 3 forces multiple propagation rounds),
    // 10-11-12 triangle, 20 isolated; edge direction deliberately mixed
    val edges = Seq((1L, 0L), (1L, 2L), (3L, 2L), (10L, 11L), (12L, 11L),
      (10L, 12L)).toDF("a", "b")
    val verts = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("id")
    val got = Components.labels(verts, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    assert(got == want)
    val keep = Components.keepCanonical(verts, "id", edges, "a", "b")
      .where(col("keep")).select(col("id")).as[Long].collect().toSet
    assert(keep == Set(0L, 10L, 20L))
  }

  test("components: maxIters too small for a long chain fails loudly") {
    import graft.operators.Components
    // driverCutoff = 0 forces the ITERATIVE path — this spec tests the
    // star-contraction round guard, which the small-graph union-find
    // fast path (r9) never reaches
    val edges = (0L until 6L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a", "b")
    val verts = (0L until 6L).toDF("id")
    intercept[IllegalArgumentException] {
      Components.labels(verts, "id", edges, "a", "b", maxIters = 2,
        driverCutoff = 0L)
    }
    // and enough rounds converges to the single component
    val ok = Components.labels(verts, "id", edges, "a", "b", maxIters = 10,
        driverCutoff = 0L)
      .select(col("cluster")).distinct().as[Long].collect().toSeq
    assert(ok == Seq(0L))
  }

  test("topNgrams counts document frequency, not term frequency") {
    // "x y z" repeats inside doc 1 but must count once for it; total order
    // on (doc_freq DESC, shingle) breaks the tie deterministically
    val docs = Seq(
      (1L, "x y z a x y z"),
      (2L, "x y z b"),
      (3L, "q r s t")).toDF("doc_id", "text")
    val got = TF.topNgrams(docs, "text", k = 3, topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("x y z", 2L), ("a x y", 1L), ("q r s", 1L)))
  }

  test("fuzzyDedup keeps one survivor per verified near-dup group") {
    import graft.operators.MinHashDedup
    val docs = Seq(
      (1L, "spark makes big data simple and fast for everyone working today"),
      (2L, "spark makes big data simple and fast for everyone working today"),
      (3L, "makes big data simple and fast for everyone working today"),
      (4L, "a completely unrelated note about gardens birds and quiet rain"),
      (5L, "short")).toDF("doc_id", "text")
    val got = MinHashDedup.fuzzyDedup(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq.sortBy(_._1)
    // 1≡2 exactly; 3 is 1 minus its first word (high jaccard) → one group;
    // 4 and 5 stand alone; survivors are the min ids
    assert(got == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true)))
  }

  test("bm25Rank: term-dense docs first, term-free docs absent") {
    val docs = Seq(
      (1L, "spark spark spark fast engine"),
      (2L, "spark is one word among many other words here today friends"),
      (3L, "no relevant terms at all in this document"),
      (4L, "spark spark fast")).toDF("doc_id", "text")
    val got = TF.bm25Rank(docs, "doc_id", "text", Seq("spark"), topN = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1).toSet == Set(1L, 2L, 4L)) // doc 3 never scores
    assert(got == got.sortBy(r => (-r._2, r._1)))  // ranked, total order
    // 3×tf in a 5-word doc beats 1×tf in an 11-word doc
    val byId = got.toMap
    assert(byId(1L) > byId(2L))
  }

  test("simhash: identical texts hash equal, hamming 0") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again")
    ).toDF("id", "text")
    val hs = SimHash.simhashTable(df, "id", "text").orderBy("id")
      .select("simhash").as[Long].collect()
    assert(hs(0) == hs(1))
    val d = Seq((hs(0), hs(1))).toDF("a", "b")
      .select(SimHash.hamming(col("a"), col("b"))).as[Int].head()
    assert(d == 0)
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    ).toDF("a", "b")
    val got = df.select(round(CosineSim.fast_cosine(col("a"), col("b")), 6))
      .as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0))
  }

  test("topK returns the query vector itself first") {
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0)
    val top = Similarity.topK(emb, "embedding", "vec_id", q, 5).collect()
    assert(top.head.getLong(0) == 3L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    // descending similarity
    val sims = top.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("annJoin finds self-match in its bucket") {
    val emb = graft.core.Tables.table(spark, sfDir, "embeddings")
    val out = Similarity.annJoin(emb, emb.filter(col("vec_id") === 7),
      "embedding", "vec_id", dim = 64, nPlanes = 4, k = 5).collect()
    assert(out.exists(r => r.getLong(0) == 7L && r.getLong(1) == 7L))
  }

  test("pii redaction masks all classes and leaves clean text alone") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "mail me at jane.doe+x@corp.example.com thanks"),
      (2L, "ssn 987-65-4321 card 4111-1111-1111-1111 tel 555.123.4567"),
      (3L, "no pii here, just 12345 and v1.2.3")).toDF("id", "t")
    val got = df.select(col("id"), TF.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail me at [EMAIL] thanks")
    assert(got(2L) == "ssn [SSN] card [CREDIT_CARD] tel [PHONE_US]")
    assert(got(3L) == "no pii here, just 12345 and v1.2.3")
  }

  test("packing: window totals bounded by budget+maxdoc, ids contiguous") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val budget = 500L
    val packed = TF.packDocuments(docs, "doc_id", "text", budget)
    val perWindow = packed.groupBy("window_id")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("n"))
    val maxDoc = packed.agg(max("n_tokens")).head().getLong(0)
    // cumsum-block bound: a window's first doc may straddle the boundary
    assert(perWindow.filter(col("tok") > budget + maxDoc).isEmpty)
    // window ids are the contiguous block sequence 0..W-1
    val ids = perWindow.select("window_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until ids.length).toSeq)
    // deterministic across repartition
    val p2 = TF.packDocuments(docs.repartition(7), "doc_id", "text", budget)
    assert(packed.select("doc_id", "window_id").exceptAll(
      p2.select("doc_id", "window_id")).isEmpty)
  }

  test("packing auto-shard: unique strided ids, per-window bound, no global window") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val budget = 500L
    val packed = TF.packDocuments(docs, "doc_id", "text", budget,
      autoShardWidth = 50L)
    // plan must not contain an unpartitioned window
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("Window [") ||
      plan.linesIterator.filter(_.contains("windowspecdefinition"))
        .forall(_.contains("_pack_shard")))
    // window ids unique per (shard, local) and bound still holds per window
    val perWindow = packed.groupBy("window_id")
      .agg(sum("n_tokens").as("tok"))
    val maxDoc = packed.agg(max("n_tokens")).head().getLong(0)
    assert(perWindow.filter(col("tok") > budget + maxDoc).isEmpty)
    // shard of every window's docs is consistent with the strided id
    assert(packed.filter(
      floor(col("doc_id").cast("double") / 50.0).cast("long")
        =!= (col("window_id") / lit(1L << 32)).cast("long")).isEmpty)
    // deterministic across repartition
    val p2 = TF.packDocuments(docs.repartition(7), "doc_id", "text", budget,
      autoShardWidth = 50L)
    assert(packed.select("doc_id", "window_id").exceptAll(
      p2.select("doc_id", "window_id")).isEmpty)
  }

  test("cleanText strips tags, unescapes entities once, drops control chars") {
    import org.apache.spark.sql.functions._
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "<p>Hello <b>world</b></p>"),
      (2L, "a &amp;lt; b &amp; c &lt;d&gt; &quot;e&quot; &#39;f&#39;"),
      (3L, "tab\there\u0000null \u0007bell"),
      (4L, "already clean")).toDF("id", "t")
    val got = df.select(col("id"), TF.cleanText(col("t")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "Hello world")
    // &amp;lt; is an ESCAPED "&lt;" — must surface as literal "&lt;", not "<"
    assert(got(2L) == "a &lt; b & c <d> \"e\" 'f'")
    assert(got(3L) == "tab here null bell")
    assert(got(4L) == "already clean")
  }

  test("repetition signals: hand-computed fractions on a tiny corpus") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "a a a b"),          // dup_word 2/4; bigrams [a a, a a, a b] dup 1/3; top 3/4
      (2L, "x y z"),            // no repetition; top 1/3
      (3L, "w")                 // single word: bigram frac 0, top 1
    ).toDF("doc_id", "text")
    val got = TF.repetitionSignalsTable(df, "doc_id", "text")
      .select("doc_id", "dup_word_frac", "dup_bigram_frac", "top_word_frac")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) == ((0.5, 1.0 / 3, 0.75)))
    assert(got(2L) == ((0.0, 0.0, 1.0 / 3)))
    assert(got(3L) == ((0.0, 0.0, 1.0)))
  }

  test("chunking: windows cover every word, overlap stitches, short docs = 1 chunk") {
    import graft.functions.{TextFunctions => TF}
    val words = (1 to 25).map(i => s"w$i")
    val df = Seq((1L, words.mkString(" ")), (2L, "tiny doc")).toDF("doc_id", "text")
    val got = TF.chunkDocuments(df, "text", chunkWords = 10, overlap = 3)
      .select("doc_id", "chunk_id", "chunk_text").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    // doc 1: 25 words, step 7 → chunks at 0,7,14,21 → nc = 1+ceil(15/7)=4
    assert(got.keys.count(_._1 == 1L) == 4)
    assert(got((1L, 0)) == (1 to 10).map("w" + _).mkString(" "))
    assert(got((1L, 1)) == (8 to 17).map("w" + _).mkString(" "))  // 3-word overlap
    assert(got((1L, 3)) == (22 to 25).map("w" + _).mkString(" ")) // tail, short
    // every word appears in some chunk
    val covered = got.filter(_._1._1 == 1L).values
      .flatMap(_.split(" ")).toSet
    assert(covered == words.toSet)
    // short doc: exactly one chunk, whole text
    assert(got.keys.count(_._1 == 2L) == 1)
    assert(got((2L, 0)) == "tiny doc")
  }

  test("decontamination flags shingle overlap with the eval set only") {
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different words about spark catalyst planning"),
      (3L, "partial overlap here the quick brown fox appears")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val got = graft.operators.Decontaminate
      .flagContaminated(corpus, eval_, "doc_id", "text", k = 3)
      .select("doc_id", "n_overlap", "contaminated")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(1L)._2 && got(1L)._1 >= 2)  // shares "the quick brown", "quick brown fox"
    assert(got(2L) == ((0L, false)))
    assert(got(3L)._2)                      // overlap not at doc start still caught
    // raising the threshold declassifies the partial overlap
    val strict = graft.operators.Decontaminate
      .flagContaminated(corpus, eval_, "doc_id", "text", k = 3, minOverlap = 3L)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!strict.contains(2L))
  }

  test("simhashPairs finds exactly the brute-force hamming neighbors") {
    import org.apache.spark.sql.functions._
    import graft.operators.SimHash
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 120)
    val got = SimHash.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs
    val sigs = SimHash.simhashTable(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    // pigeonhole banding has NO false negatives; the exact filter removes
    // all false positives — the sets must match exactly
    assert(got == want)
    // exact duplicates (same text) are hamming-0 pairs
    val dup = docs.groupBy("text").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1).select(explode(col("ids"))).limit(2)
      .collect().map(_.getLong(0)).sorted
    if (dup.length == 2) assert(got.contains((dup(0), dup(1))))
  }

  test("multimodal: feature extraction is deterministic and metadata ops never decode") {
    val corpus = graft.multimodal.Multimodal.syntheticCorpus(spark, 30)
    val f1 = graft.multimodal.Multimodal.extractFeatures(corpus).collect()
      .map(f => f.media_id -> f.feature.toSeq).toMap
    val f2 = graft.multimodal.Multimodal.extractFeatures(corpus).collect()
      .map(f => f.media_id -> f.feature.toSeq).toMap
    assert(f1 == f2 && f1.size == 30)
    val frames = graft.multimodal.Multimodal.frameSamplePlan(corpus, 500L)
    assert(frames.count() > 0)
  }

  test("multimodal codecs: real PPM/BMP/WAV decode, resize, content sniffing") {
    import graft.multimodal.{Codecs, Multimodal}
    import org.apache.spark.sql.functions._
    // PPM + BMP pixel round-trips
    val rgb = Array.tabulate(8 * 6 * 3)(i => (i % 251).toByte)
    val img = Codecs.ImagePixels(8, 6, rgb)
    val ppmBack = Codecs.decodeImage(Codecs.encodePpm(img)).get
    assert(ppmBack.width == 8 && ppmBack.height == 6 &&
      ppmBack.rgb.toSeq == rgb.toSeq)
    val bmpBack = Codecs.decodeImage(Codecs.encodeBmp(img)).get
    assert(bmpBack.width == 8 && bmpBack.height == 6 &&
      bmpBack.rgb.toSeq == rgb.toSeq)
    // nearest-neighbor resize: exact dims, pixels drawn from the source
    val half = Codecs.resizeNearest(img, 4, 3)
    assert(half.width == 4 && half.height == 3 && half.rgb.length == 36)
    assert(half.rgb(0) == rgb(0)) // top-left pixel maps to top-left
    // WAV: 0.5 s of a 440 Hz sine at amplitude a → rms ≈ a/√2, real duration
    val rate = 8000
    val amp = 16000
    val tone = Array.tabulate(4000)(t =>
      (math.sin(2 * math.Pi * 440 * t / rate) * amp).toShort)
    val wav = Codecs.decodeWav(Codecs.encodeWavPcm16(tone, rate)).get
    assert(wav.durationMs == 500 && wav.sampleRate == 8000 && wav.channels == 1)
    assert(math.abs(wav.rms - amp / 32768.0 / math.sqrt(2)) < 0.01)
    assert(wav.peak <= amp / 32768.0 + 1e-3 && wav.zeroCrossRate > 0)
    // magic-byte sniffing, including recognized-but-undecodable formats
    assert(Codecs.sniff(Codecs.encodePpm(img)).contains("image/x-portable-pixmap"))
    assert(Codecs.sniff(Codecs.encodeBmp(img)).contains("image/bmp"))
    assert(Codecs.sniff(Array[Byte](0xff.toByte, 0xd8.toByte) ++
      new Array[Byte](10)).contains("image/jpeg"))
    assert(Codecs.decodeImage("garbage not an image at all".getBytes).isEmpty)
    // malformed WAV with a negative chunk size must return None, not hang
    val evil = Codecs.encodeWavPcm16(Array.fill[Short](100)(5), 8000)
    evil(16) = -1; evil(17) = -1; evil(18) = -1; evil(19) = -1 // fmt size -1
    assert(Codecs.decodeWav(evil).isEmpty)
    val corpus = Multimodal.syntheticCorpus(spark, 16)
    val original = corpus.collect().map(r => r.getLong(0) -> r).toMap
    // real features: image rows lead with [width, height, ...]
    val feats = Multimodal.extractFeatures(corpus).collect()
      .map(f => f.media_id -> f.feature).toMap
    assert(feats(0L)(0) == original(0L).getAs[Int]("width").toFloat)
    assert(feats(0L)(1) == original(0L).getAs[Int]("height").toFloat)
    // audio rows lead with [durationSec, kHz, channels, rms, ...]
    assert(math.abs(feats(2L)(0) -
      original(2L).getAs[Long]("duration_ms") / 1000.0f) < 1e-6)
    assert(feats(2L)(2) == 1.0f)
    // real resize path: re-encoded payload decodes to the fitted dims
    val shrunk = Multimodal.resizeImages(corpus, 10, 10)
      .filter(col("media_id") === 0).select("content", "width", "height").head()
    val dec = Codecs.decodeImage(shrunk.getAs[Array[Byte]](0)).get
    assert(dec.width == shrunk.getAs[Int](1) && dec.height == shrunk.getAs[Int](2))
    assert(dec.width <= 10 && dec.height <= 10)
  }

  test("multimodal: resize fits images into bounds, passes others through") {
    import org.apache.spark.sql.functions._
    val corpus = graft.multimodal.Multimodal.syntheticCorpus(spark, 30)
    val resized = graft.multimodal.Multimodal.resizeImages(corpus, 128, 128)
    assert(resized.schema == corpus.schema)
    val img = resized.filter(col("kind") === "image")
    assert(img.filter(col("width") > 128 || col("height") > 128).isEmpty)
    // aspect ratio preserved within integer-floor tolerance
    val pair = corpus.filter(col("kind") === "image")
      .select(col("media_id"), col("width").as("w0"), col("height").as("h0"))
      .join(img.select(col("media_id"), col("width"), col("height")), "media_id")
      .collect()
    pair.foreach { r =>
      val (w0, h0, w, h) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      if (w0 <= 128 && h0 <= 128) assert(w == w0 && h == h0) // never upscale
      else assert(math.abs(w.toDouble / h - w0.toDouble / h0) < 0.1)
    }
    // non-image rows byte-identical
    val a = corpus.filter(col("kind") =!= "image").orderBy("media_id")
      .select("content").collect().map(_.getAs[Array[Byte]](0).toSeq)
    val b = resized.filter(col("kind") =!= "image").orderBy("media_id")
      .select("content").collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("passageDedup removes cross-doc repeated passages, keeps unique text") {
    val boiler = (1 to 20).map(i => s"license$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler ${(1 to 20).map(i => s"alpha$i").mkString(" ")}"),
      (2L, s"$boiler ${(1 to 20).map(i => s"beta$i").mkString(" ")}"),
      (3L, (1 to 40).map(i => s"gamma$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TF.passageDedup(docs, "doc_id", "text", passageWords = 20)
      .orderBy("doc_id").collect()
    // docs 1/2 lose the shared license block, keep their unique passage
    assert(out(0).getAs[String]("clean_text").startsWith("alpha1 "))
    assert(out(0).getAs[Long]("n_removed") == 1L)
    assert(out(0).getAs[Long]("n_kept") == 1L)
    assert(out(1).getAs[String]("clean_text").startsWith("beta1 "))
    // doc 3 untouched, both passages kept in original order
    assert(out(2).getAs[String]("clean_text") ==
      (1 to 40).map(i => s"gamma$i").mkString(" "))
    assert(out(2).getAs[Long]("n_removed") == 0L)
  }

  test("passageDedup maxDocFreq tolerates passages up to the threshold") {
    val common = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, common), (2L, common), (3L, common))
      .toDF("doc_id", "text")
    // df=3 passage survives a maxDocFreq=3 run, dies at the default 1
    val tolerant = TF.passageDedup(docs, "doc_id", "text", 20, maxDocFreq = 3)
    assert(tolerant.filter(col("n_removed") > 0).count() == 0)
    val strict = TF.passageDedup(docs, "doc_id", "text", 20)
    assert(strict.filter(col("n_kept") > 0).count() == 0)
  }

  test("windowHashes: count, shared-span equality, short-doc empty") {
    val df = Seq(
      (1L, "a b c d e f"), // 6 words, k=4 -> 3 windows
      (2L, "x y a b c d e z"), // contains doc 1's "a b c d" span
      (3L, "a b c") // shorter than k -> no windows
    ).toDF("doc_id", "text")
    val wins = df.select(col("doc_id"),
      TF.windowHashes(split(col("text"), " "), 4).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(wins(1L).size == 3 && wins(2L).size == 5 && wins(3L).isEmpty)
    // the shared 4-word span hashes identically despite different offsets
    assert(wins(2L).contains(wins(1L).head))
    // distinct windows hash differently (Buzhash is order-sensitive)
    assert(wins(1L).distinct.size == 3)
  }

  test("BPE training picks hand-computable merges; encode round-trips") {
    import graft.functions.Bpe
    // types: abab(freq 2: two (a,b) pairs each), abc(freq 2), xy(freq 1)
    // → weighted (a,b) count = 2·2 + 1·2 = 6, the clear argmax
    val docs = Seq((1L, "abab abc abab"), (2L, "abc xy")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", numMerges = 3)
    assert(merges.head.left == "a" && merges.head.right == "b")
    assert(merges.head.freq == 6L)
    // greedy left-to-right: "abab" with merge (a,b) -> [ab, ab]
    val enc = docs.select(Bpe.encode(col("text"), merges).as("e"))
      .collect().map(_.getSeq[String](0))
    // concatenating encoded symbols reproduces the normalized text exactly
    val roundTrip = enc.map(_.mkString(""))
    assert(roundTrip.toSeq == Seq("abab abc abab", "abc xy"))
    // merges compound: (a,b) → (ab,ab) → (ab,c), so whole words collapse
    assert(enc.head == Seq("abab", " ", "abc", " ", "abab"))
    // with only the first merge applied, the "ab" subword is visible
    val enc1 = docs.select(Bpe.encode(col("text"), merges.take(1)).as("e"))
      .collect().map(_.getSeq[String](0))
    assert(enc1.head.contains("ab") && !enc1.head.contains("abab"))
    // determinism across partitionings
    val again = Bpe.train(docs.repartition(5), "text", numMerges = 3)
    assert(again == merges)
    // artifact roundtrip: saved merges reload identically and encode the same
    val path = java.nio.file.Files.createTempDirectory("bpe").toString + "/m.json"
    Bpe.save(merges, spark, path)
    assert(Bpe.load(spark, path) == merges)
  }

  test("rarityScoreTable: common words score high, OOV toggles with vocabK") {
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common rare1"),
      (3L, "rare2 rare3")
    ).toDF("doc_id", "text")
    // counts: common=5, rare1/2/3=1 each
    val out = TF.rarityScoreTable(docs, "doc_id", "text", vocabK = 1)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("mean_word_count") == 5.0)
    assert(out(0).getAs[Double]("oov_rate") == 0.0) // all in top-1 vocab
    assert(out(1).getAs[Double]("mean_word_count") == 3.0) // (5+1)/2
    assert(out(1).getAs[Double]("oov_rate") == 0.5)
    assert(out(2).getAs[Double]("oov_rate") == 1.0)
    // vocabK covering everything → no OOV anywhere
    val all = TF.rarityScoreTable(docs, "doc_id", "text", vocabK = 10)
    assert(all.filter(col("oov_rate") > 0).count() == 0)
  }

  test("longestSharedSpan merges consecutive windows into the true span length") {
    import graft.operators.SubstrDedup
    // docs 1/2 share a verbatim 20-word run; doc 3 shares nothing
    val span = (1 to 20).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"pre1 pre2 $span post1"),
      (2L, s"$span completely different tail here"),
      (3L, "nothing shared with anyone in this one at all today")
    ).toDF("doc_id", "text")
    val spans = SubstrDedup.longestSharedSpan(docs, "doc_id", "text", k = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 9 consecutive shared 12-windows -> 9 + 11 = the full 20-word span
    assert(spans == Map(1L -> 20L, 2L -> 20L))
  }

  test("removeSpans keeps the canonical copy, cuts every other occurrence") {
    import graft.operators.SubstrDedup
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"keep1 keep2 $span keep3"),
      (2L, s"$span tail1 tail2 tail3"),
      (3L, "untouched words only in this document right here now ok fine")
    ).toDF("doc_id", "text")
    val out = SubstrDedup.removeSpans(docs, "doc_id", "text", k = 12)
      .orderBy("doc_id").collect()
    // doc 1 is the lowest id holding the span → its copy survives
    assert(out(0).getAs[String]("clean_text") == s"keep1 keep2 $span keep3")
    assert(out(0).getAs[Long]("n_tokens_removed") == 0L)
    assert(out(1).getAs[String]("clean_text") == "tail1 tail2 tail3")
    assert(out(1).getAs[Long]("n_tokens_removed") == 12L)
    assert(out(2).getAs[Long]("n_tokens_removed") == 0L)
    assert(out(2).getAs[String]("clean_text").startsWith("untouched"))
    // aggressive policy: every copy goes, incl. the canonical one
    val all = SubstrDedup.removeSpans(
      Seq((1L, span), (2L, span)).toDF("doc_id", "text"), "doc_id", "text",
      12, keepFirstCopy = false)
      .orderBy("doc_id").collect()
    assert(all(0).getAs[String]("clean_text") == "")
    assert(all(0).getAs[Long]("n_tokens_kept") == 0L)
    // default policy on the same input: doc 1 intact, doc 2 emptied
    val one = SubstrDedup.removeSpans(
      Seq((1L, span), (2L, span)).toDF("doc_id", "text"), "doc_id", "text", 12)
      .orderBy("doc_id").collect()
    assert(one(0).getAs[String]("clean_text") == span)
    assert(one(1).getAs[String]("clean_text") == "")
  }

  test("sourceOverlap counts shared shingles and Jaccard per group pair") {
    import graft.operators.CorpusStats
    val docs = Seq(
      ("train", "alpha beta gamma delta"), // shingles: {abg, bgd}
      ("test", "alpha beta gamma zeta"),   // shingles: {abg, bgz}
      ("clean", "one two three four")      // disjoint
    ).toDF("split", "text")
    val m = CorpusStats.sourceOverlap(docs, "text", "split", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // only the leaking pair appears; jaccard = 1 shared / 3 union
    assert(m.keySet == Set(("test", "train")))
    assert(m(("test", "train"))._1 == 1L)
    assert(math.abs(m(("test", "train"))._2 - 0.3333) < 1e-9)
  }

  test("SubstrDedup flags exactly the docs sharing a verbatim k-span") {
    import graft.operators.SubstrDedup
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"one unique prefix here $span"),
      (2L, s"$span totally different tail words follow now"),
      (3L, "no shared content in this document at all whatsoever truly"),
      // same multiset of words as the span but reordered — must NOT flag
      (4L, (12 to 1 by -1).map(i => s"s$i").mkString(" "))
    ).toDF("doc_id", "text")
    val flagged = SubstrDedup.flags(docs, "doc_id", "text", k = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(1L, 2L))
    assert(flagged(1L) == 1L && flagged(2L) == 1L)
  }
}
