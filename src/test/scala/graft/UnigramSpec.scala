package graft

import org.apache.spark.sql.functions._
import graft.functions.{Unigram, UnigramApply}

/** Unigram-LM tokenizer: known-answer EM/Viterbi behavior, losslessness,
  * and determinism. */
class UnigramSpec extends SparkSuite {
  test("Viterbi picks the higher-probability segmentation and prefers " +
      "longer pieces on ties") {
    val vocab = UnigramApply.buildVocab(
      Array("a", "ab", "b", "c"),
      Array(math.log(0.2), math.log(0.5), math.log(0.2), math.log(0.1)))
    def seg(w: String): Seq[String] =
      UnigramApply.segment(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), vocab)
        .array.toSeq.map(_.toString)
    // p(ab) = .5 > p(a)p(b) = .04 → one piece
    assert(seg("ab") == Seq("ab"))
    assert(seg("abc") == Seq("ab", "c"))
    assert(seg("ba") == Seq("b", "a"))
    // unknown char falls back to a single-char token, never fails
    assert(seg("axb") == Seq("a", "x", "b"))
    assert(seg("") == Seq())
  }

  test("trainLocal: EM concentrates mass on the repeated bigram and the " +
      "model stays deterministic across runs") {
    val words = Array(("abab", 50L), ("ab", 30L), ("cd", 5L))
    val m1 = Unigram.trainLocal(words, vocabSize = 8, maxPieceLen = 3,
      emIters = 3, seedFactor = 4)
    val m2 = Unigram.trainLocal(words, vocabSize = 8, maxPieceLen = 3,
      emIters = 3, seedFactor = 4)
    assert(m1.pieces.toSeq == m2.pieces.toSeq)
    assert(m1.logProbs.toSeq == m2.logProbs.toSeq)
    val p = m1.toMap
    assert(p.contains("ab"))
    // 'ab' must beat the per-char route: p(ab) > p(a)·p(b)
    assert(p("ab") > p("a") + p("b"))
    // all single chars survive pruning (lossless fallback)
    Seq("a", "b", "c", "d").foreach(c => assert(p.contains(c)))
  }

  test("encodeTokens over the documents fixture is lossless: tokens " +
      "rebuild the normalized text with no out-of-vocab emissions") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val model = Unigram.train(docs, "text", vocabSize = 300,
      maxPieceLen = 6, emIters = 2)
    assert(model.size >= 1)
    val toks = docs.withColumn("toks",
      Unigram.encodeTokens(col("text"), model))
    val collapsed = replace(
      trim(regexp_replace(lower(col("text")), "\\s+", " ")),
      lit(" "), lit(""))
    val bad = toks.filter(
      concat_ws("", col("toks")) =!= collapsed).count()
    assert(bad == 0L, s"$bad docs failed to rebuild")
    // every emitted token is in the vocabulary (singles always kept)
    val vocab = model.pieces.toSet
    val oov = toks.select(explode(col("toks")).as("t"))
      .filter(!col("t").isin(vocab.toSeq: _*)).count()
    assert(oov == 0L)
  }

  test("save/load round-trips the model bit-identically") {
    val words = Array(("abab", 50L), ("ab", 30L), ("cd", 5L))
    val m = Unigram.trainLocal(words, vocabSize = 8, maxPieceLen = 3,
      emIters = 2, seedFactor = 4)
    val path = "/tmp/graft_unigram_spec/model.json"
    Unigram.save(m, spark, path)
    val back = Unigram.load(spark, path)
    assert(back.pieces.toSeq == m.pieces.toSeq)
    assert(back.logProbs.toSeq == m.logProbs.toSeq)
  }

  test("Unigram encode agrees between codegen and interpreted paths " +
      "(reference-object plumbing survives both)") {
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(50)
    val model = Unigram.train(docs, "text", vocabSize = 120,
      maxPieceLen = 4, emIters = 1)
    val enc = docs.select(col("doc_id"),
      Unigram.encodeTokens(col("text"), model).as("toks"))
    val a = enc.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val b = enc.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(a == b)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
