package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting. All pure
  * Column expressions — whole-stage-codegen'd, partition-local (zero
  * shuffle), so they stream over 100 TB of documents at scan speed.
  */
object TextFunctions {

  /** Whitespace token count: the number of maximal runs of non-`\s`
    * characters, as one codegen'd byte scan ([[TokenCount]]). */
  def tokenCount(text: Column): Column = TokenCount.token_count(text)

  /** Quality-scoring signals (length / punctuation / stopword ratios) and a
    * composite score ∈ [0,1]. Thresholds follow common public pipeline
    * heuristics (Gopher-style rules): docs too short/long, too much
    * punctuation, or too few stopwords score low. */
  def punctRatio(text: Column): Column = {
    val t = trim(text)
    when(length(t) === 0, 0.0).otherwise(
      length(regexp_replace(t, "[^\\p{Punct}]", "")).cast(DoubleType) /
        length(t).cast(DoubleType))
  }

  /** RAKE-style keyword extraction, ratio-of-sums variant: candidate
    * phrases are maximal stopword-free word runs; each word carries
    * corpus-global degree (Σ lengths of phrases containing it) and
    * frequency (occurrence count); a phrase scores
    * `(Σ member degree) · 1e6 div (Σ member frequency)` — pure BIGINT, so
    * the ranking is engine- and partitioning-exact (classic RAKE sums
    * per-word deg/freq ratios, which would put a float sum in the
    * ranking). Plan: one posexplode, one running stop-count window per
    * doc, two hash aggregates and a broadcast word-stats join — no
    * corpus-wide window, no cross product.
    * Output: phrase, n_words, n_occurrences, score_e6 (top `topK` by
    * (score, phrase)). */
  def rakeKeywords(df: DataFrame, docCol: String, textCol: String,
      topK: Int = 20,
      stopwords: Seq[String] = englishStopwords): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(docCol)).orderBy(col("_pos").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val toks = df.select(col(docCol),
        posexplode(split(trim(lower(col(textCol))), "\\s+"))
          .as(Seq("_pos", "_w")))
      .filter(length(col("_w")) > 0)
      .withColumn("_grp",
        sum(when(col("_w").isin(stopwords: _*), 1L).otherwise(0L)).over(w))
      .filter(!col("_w").isin(stopwords: _*))
    val members = toks.groupBy(col(docCol), col("_grp"))
      .agg(sort_array(collect_list(struct(col("_pos"), col("_w"))))
        .as("_ws"))
      .select(col(docCol), col("_grp"),
        expr("transform(_ws, x -> x._w)").as("_words"),
        size(col("_ws")).as("_len"))
    val occ = members.select(col(docCol), col("_grp"), col("_len"),
      explode(col("_words")).as("_w"))
    val wstats = occ.groupBy(col("_w"))
      .agg(count(lit(1)).as("_freq"), sum(col("_len")).as("_deg"))
    val phraseScore = occ.join(broadcast(wstats), Seq("_w"))
      .groupBy(col(docCol), col("_grp"))
      .agg(sum(col("_deg")).as("_sd"), sum(col("_freq")).as("_sf"))
    members.join(phraseScore, Seq(docCol, "_grp"))
      .select(concat_ws(" ", col("_words")).as("phrase"),
        col("_len").as("n_words"), col("_sd"), col("_sf"))
      .groupBy(col("phrase"))
      .agg(first(col("n_words")).as("n_words"),
        count(lit(1)).as("n_occurrences"),
        expr("CAST((FIRST(_sd) * 1000000) DIV FIRST(_sf) AS BIGINT)")
          .as("score_e6"))
      .orderBy(col("score_e6").desc, col("phrase").asc)
      .limit(topK)
  }

  val englishStopwords = Seq("the", "and", "of", "to", "a", "in", "is", "it",
    "that", "for", "on", "with", "as", "or", "at", "by")

  def stopwordRatio(text: Column, stopwords: Seq[String] = englishStopwords): Column = {
    val words = split(trim(lower(text)), "\\s+")
    val n = size(words)
    val stops = size(filter(words, w => w.isin(stopwords: _*)))
    when(n === 0, 0.0).otherwise(stops.cast(DoubleType) / n.cast(DoubleType))
  }

  def meanWordLength(text: Column): Column = {
    // arithmetic form — total word chars = chars minus separators; avoids a
    // split-array materialization entirely
    val norm = trim(regexp_replace(lower(text), "\\s+", " "))
    val n = tokenCount(text)
    when(n === 0, 0.0).otherwise(
      length(replace(norm, lit(" "), lit(""))).cast(DoubleType) /
        n.cast(DoubleType))
  }

  /** Composite text quality score: each rule contributes equally. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val rules = Seq(
      when(nTok.between(10, 100000), 1.0).otherwise(0.0),       // length band
      when(punctRatio(text) <= 0.2, 1.0).otherwise(0.0),        // punct sanity
      when(meanWordLength(text).between(2.0, 12.0), 1.0).otherwise(0.0),
      when(stopwordRatio(text) >= 0.05, 1.0).otherwise(0.5))    // NL-ness
    round(rules.reduce(_ + _) / lit(rules.size.toDouble), 4)
  }

  /** Table-scale quality signals: every normalization (trim, lowercase,
    * whitespace collapse, punct strip) is computed ONCE in a staged
    * projection and shared by all four signals. The per-column functions
    * above re-derive their own normalizations, so composing them in one
    * select re-runs each regex pass 3-4× per row — Catalyst keeps the staged
    * aliases here because they are non-cheap and multiply-referenced
    * (CollapseProject won't re-inline them). Values are bit-identical to the
    * per-column forms (asserted in OperatorSpec).
    *
    * Adds: punct_ratio, stopword_ratio, mean_word_len, quality (all as
    * [[punctRatio]]/[[stopwordRatio]]/[[meanWordLength]]/[[qualityScore]]).
    */
  def qualitySignalsTable(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val text = col(textCol)
    // two regex normalizations + a stopword filter per document --
    // compute-dense scan (Rebalance doc); streaming inputs pass through
    val staged = graft.core.Rebalance.computeDense(df)
      .withColumn("_qs_t", trim(text))
      .withColumn("_qs_norml", trim(regexp_replace(lower(text), "\\s+", " ")))
    val derived = staged
      .withColumn("_qs_ntok", tokenCount(text))
      .withColumn("_qs_words", split(col("_qs_norml"), " "))
      .withColumn("_qs_chars_ns",
        length(replace(col("_qs_norml"), lit(" "), lit(""))))
    val punct = when(length(col("_qs_t")) === 0, 0.0).otherwise(
      length(regexp_replace(col("_qs_t"), "[^\\p{Punct}]", "")).cast(DoubleType) /
        length(col("_qs_t")).cast(DoubleType))
    val nWords = size(col("_qs_words"))
    val stopR = when(nWords === 0, 0.0).otherwise(
      size(filter(col("_qs_words"), w => w.isin(englishStopwords: _*)))
        .cast(DoubleType) / nWords.cast(DoubleType))
    val meanWl = when(col("_qs_ntok") === 0, 0.0).otherwise(
      col("_qs_chars_ns").cast(DoubleType) / col("_qs_ntok").cast(DoubleType))
    val signals = derived
      .withColumn("punct_ratio", punct)
      .withColumn("stopword_ratio", stopR)
      .withColumn("mean_word_len", meanWl)
    val rules = Seq(
      when(col("_qs_ntok").between(10, 100000), 1.0).otherwise(0.0),
      when(col("punct_ratio") <= 0.2, 1.0).otherwise(0.0),
      when(col("mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.0),
      when(col("stopword_ratio") >= 0.05, 1.0).otherwise(0.5))
    signals
      .withColumn("quality", round(rules.reduce(_ + _) / lit(4.0), 4))
      .drop("_qs_t", "_qs_norml", "_qs_ntok", "_qs_words",
        "_qs_chars_ns")
  }

  /** Language ID via stopword-hit scoring: tiny per-language marker lists,
    * language = argmax hit count (ties break by fixed language order).
    * An n-gram-free heuristic that stays pure-expression; a real model would
    * slot in as a broadcast n-gram table with the same argmax shape. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit"),
    "es" -> Seq("el", "la", "los", "es", "con", "para"),
    "fr" -> Seq("le", "la", "les", "est", "avec", "pour"),
    "zh" -> Seq("的", "是", "和", "了", "在", "我"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val words = split(trim(lower(text)), "\\s+")
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(words, w => w.isin(markers: _*)))
    }
  }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    argmaxLang(scores)
  }

  /** argmax with first-wins tiebreak: fold keeps current best strictly. */
  private[graft] def argmaxLang(scores: Seq[(String, Column)]): Column = {
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("s"), lit(scores.head._1).as("l"))) {
      case (acc, (lang, sc)) =>
        when(sc > acc.getField("s"), struct(sc.as("s"), lit(lang).as("l")))
          .otherwise(acc)
    }
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("unknown"))
  }

  /** Table-scale language ID: explode words once, one aggregate computes
    * every language's marker hits (the per-row expression form re-splits the
    * text per language — fine for a handful of rows, quadratic waste on a
    * corpus). Returns df with all original columns + `lang_guess`. */
  def langIdTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val ex = df.select(col(idCol),
      explode_outer(split(trim(lower(col(textCol))), "\\s+")).as("_w"))
    val hitCols = langMarkers.map { case (lang, markers) =>
      sum(when(col("_w").isin(markers: _*), 1L).otherwise(0L)).as(s"_hits_$lang")
    }
    val agged = ex.groupBy(col(idCol)).agg(hitCols.head, hitCols.tail: _*)
    val guess = argmaxLang(langMarkers.map { case (l, _) => l -> col(s"_hits_$l") })
    val labelled = agged.select(col(idCol), guess.as("lang_guess"))
    df.join(labelled, Seq(idCol), "left")
  }

  /** Per-document encoding-anomaly census — the screen that catches
    * mojibake (UTF-8 bytes decoded as Latin-1), double-encoded text, and
    * lossy transcodes before they poison a training corpus:
    *  - `n_replacement`: U+FFFD replacement characters (a decoder already
    *    gave up);
    *  - `n_c1`: C1 control codepoints U+0080–U+009F (legal Unicode, but
    *    never legitimate in text — the classic windows-1252-as-Latin-1
    *    tell);
    *  - `n_suspect`: Ã/Â/â codepoints, the leading bytes every UTF-8
    *    multi-byte sequence turns into when mis-decoded as Latin-1 (rare
    *    in clean text, dense in mojibake).
    * Pure codegen'd per-row expressions (single-char-class regex counts)
    * — zero shuffle, scan-speed at any corpus size. Flag = any hit. */
  def encodingAnomalies(text: Column): Column = {
    val nRepl = regexp_count(text, lit("\\x{FFFD}"))
    val nC1 = regexp_count(text, lit("[\\x{80}-\\x{9F}]"))
    val nSus = regexp_count(text, lit("[\\x{C2}\\x{C3}\\x{E2}]"))
    struct(nRepl.cast(LongType).as("n_replacement"),
      nC1.cast(LongType).as("n_c1"),
      nSus.cast(LongType).as("n_suspect"),
      (nRepl + nC1 + nSus > 0).as("suspect_encoding"))
  }

  /** Rolling hash fingerprint of the whole document: xxhash64 chained over
    * the normalized word stream (order-sensitive, unlike a bag-of-words
    * hash). Chaining through the hash avoids ANSI-mode overflow that a raw
    * polynomial accumulator would hit. Computed by the codegen'd
    * [[RollingFingerprint]] kernel — bit-identical to the HOF fold
    * (`FunctionTwins.fingerprintTreeForm`, asserted in FastExprAndIvfSpec). */
  def fingerprint(text: Column): Column =
    RollingFingerprint.rolling_fingerprint(text)

  /** PII redaction: mask email / SSN / credit-card / US-phone occurrences
    * inside free text (the in-text variants of SchemaInferrer's whole-field
    * patterns). Plain regexp_replace chain — codegen'd, scan-speed, and the
    * patterns avoid lookarounds so any RE2/Java engine agrees. Order
    * matters: SSN before phone (a bare 3-2-4 digit group matches both). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "ssn" -> "\\d{3}-\\d{2}-\\d{4}",
    "credit_card" -> "\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}",
    "phone_us" -> "\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}")

  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (name, re)) =>
      regexp_replace(acc, re, s"[${name.toUpperCase}]")
    }

  /** Corpus normalization: strip HTML tags, unescape the common entities,
    * drop control characters, collapse whitespace. The boilerplate-removal
    * pass that precedes quality scoring in public pretraining pipelines.
    * Pure regexp/replace chain — codegen'd, zero shuffle; character classes
    * are explicit hex ranges (no \p{...}) so Java regex and RE2 agree. */
  def cleanText(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    // &amp; last: "&amp;lt;" must yield "&lt;", not "<"
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (from, to)) =>
        replace(acc, lit(from), lit(to))
      }
    val noCtrl = regexp_replace(unescaped, "[\\x00-\\x1F\\x7F]", " ")
    trim(regexp_replace(noCtrl, " {2,}", " "))
  }

  /** Lines a line-wise filter drops on exact (lowercased, trimmed) match —
    * the nav/footer strings that survive HTML stripping. Deliberately
    * small and embedded, like the stopword list. */
  val boilerplateLines: Seq[String] = Seq(
    "click here", "read more", "accept cookies", "accept all cookies",
    "subscribe to our newsletter", "share this article", "advertisement",
    "all rights reserved", "terms of service", "privacy policy")

  /** Within-document line dedup: first occurrence of each line survives,
    * in original order (`array_distinct` keeps first occurrences) — the
    * intra-doc face of [[passageDedup]], for nav menus / repeated headers
    * that recur inside ONE page. Pure per-row expression, zero shuffle. */
  def dedupLines(text: Column): Column =
    array_join(array_distinct(split(text, "\n")), "\n")

  /** RefinedWeb-style line-wise filtering: drop lines that are too short
    * (< `minWords` whitespace words), mostly uppercase (> `maxUpperRatio`
    * of alphabetic chars — integer-scaled compare, no float drift), or an
    * exact boilerplate match ([[boilerplateLines]]). Returns the kept
    * lines ARRAY in order ([[lineFilterTable]] rejoins and counts).
    * Per-row expression chain — codegen'd, zero shuffle; every
    * predicate is spelled in regex/arithmetic both Java regex and RE2
    * agree on, so the kept set is oracle-checkable. */
  def filterLines(text: Column, minWords: Int = 3,
      maxUpperRatio: Double = 0.6,
      boilerplate: Seq[String] = boilerplateLines): Column =
    filterLinesArr(split(text, "\n"), minWords, maxUpperRatio, boilerplate)

  /** [[filterLines]] over an already-split lines array (lets callers stage
    * the split once and derive kept + total counts from the same column). */
  def filterLinesArr(lines: Column, minWords: Int = 3,
      maxUpperRatio: Double = 0.6,
      boilerplate: Seq[String] = boilerplateLines): Column =
    // codegen kernel: one byte scan per line instead of the interpreted
    // HOF lambda's four regex passes (values identical — see [[KeptLines]]
    // equivalence notes; parity vs the HOF spelling spec-pinned
    // corpus-wide in R13OperatorSpec)
    KeptLines.kept_lines(lines, minWords,
      math.round(maxUpperRatio * 10000).toInt, boilerplate)

  /** Table form of the line-wise pass: `clean_text` (kept lines rejoined)
    * plus kept/removed counts per document. The lines array and its kept
    * filtrate are staged as real columns so each is computed once. */
  def lineFilterTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 3, maxUpperRatio: Double = 0.6,
      boilerplate: Seq[String] = boilerplateLines): org.apache.spark.sql.DataFrame =
    graft.core.Rebalance.computeDense(df)
      .withColumn("_lines", split(col(textCol), "\n"))
      .withColumn("_kept",
        filterLinesArr(col("_lines"), minWords, maxUpperRatio, boilerplate))
      .select(col(idCol),
        array_join(col("_kept"), "\n").as("clean_text"),
        size(col("_kept")).cast(LongType).as("n_lines_kept"),
        (size(col("_lines")) - size(col("_kept"))).cast(LongType)
          .as("n_lines_removed"))

  /** Gopher-style repetition signals — the standard corpus filters for
    * boilerplate/spam detection in pretraining pipelines:
    *
    *  - `dup_word_frac`   fraction of word occurrences beyond each word's
    *                      first (1 − distinct/total),
    *  - `dup_bigram_frac` same over adjacent word bigrams,
    *  - `top_word_frac`   occurrences of the most frequent word / total.
    *
    * The distinct fractions are per-row array expressions (codegen'd, zero
    * shuffle); bigrams use zip_with against a shifted slice so the split
    * array binds once (a transform lambda indexing the outer array would
    * re-split per element). The mode needs cross-row state per doc, so
    * top_word_frac is the explode → (id, word) count → per-id max/sum
    * aggregate — partial aggregation map-side, then joined back. */
  def repetitionSignalsTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val staged = graft.core.Rebalance.computeDense(df)
      .withColumn("_r_words", split(trim(lower(col(textCol))), "\\s+"))
    val words = col("_r_words")
    val n = size(words)
    val bigrams = filter(
      zip_with(words, slice(words, lit(2), greatest(n - 1, lit(0))),
        (a, b) => when(a.isNotNull && b.isNotNull, concat(a, lit(" "), b))),
      _.isNotNull)
    val n2 = size(col("_r_big"))
    val perRow = staged
      .withColumn("_r_big", bigrams)
      .withColumn("dup_word_frac", when(n > 0,
        (n - size(array_distinct(words))).cast(DoubleType) / n.cast(DoubleType))
        .otherwise(0.0))
      .withColumn("dup_bigram_frac", when(n2 > 0,
        (n2 - size(array_distinct(col("_r_big")))).cast(DoubleType) /
          n2.cast(DoubleType))
        .otherwise(0.0))
    val top = staged
      .select(col(idCol), explode_outer(words).as("_w"))
      .groupBy(col(idCol), col("_w")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol)).agg(max("_c").as("_maxc"), sum("_c").as("_n"))
      .select(col(idCol), when(col("_n") > 0,
        col("_maxc").cast(DoubleType) / col("_n").cast(DoubleType))
        .otherwise(0.0).as("top_word_frac"))
    perRow.join(top, Seq(idCol), "left").drop("_r_words", "_r_big")
  }

  /** Corpus-level boilerplate detection: the word k-grams that appear in the
    * MOST DOCUMENTS (document frequency, not raw term frequency — the
    * [[shingles]] kernel already emits each doc's DISTINCT k-grams, so a
    * k-gram repeated inside one doc counts once). The usual consumers are
    * boilerplate strip lists (headers/footers/nav text recur across a crawl)
    * and contamination triage.
    *
    * Physical shape: one projection (codegen'd shingle kernel) → explode →
    * hash aggregate with map-side partial counts → TakeOrderedAndProject
    * for the top-N cut. One shuffle of (shingle, partial-count) pairs, no
    * join, no window — linear at any corpus size. The (doc_freq DESC,
    * shingle) order is TOTAL, so the top-N cut is deterministic. */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int = 3, topN: Int = 20): org.apache.spark.sql.DataFrame = {
    require(topN > 0, s"topN must be positive: $topN")
    df.select(explode(graft.operators.MinHashDedup.shingles(col(textCol), k))
        .as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle"))
      .limit(topN)
  }

  /** BM25 keyword relevance over the corpus (Robertson/Sparck-Jones idf with
    * +1 smoothing — the Lucene form): score(d) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·|d|/avgdl)). The curation use is keyword-probe
    * ranking ("which docs dominate this query term set?") without an index.
    *
    * Physical shape: the explode is filtered to the QUERY terms before any
    * shuffle (tf keys = docs actually containing a query term, not the
    * corpus); document frequency and the corpus stats are one tiny
    * aggregate each, broadcast back; the final cut is TakeOrdered on a
    * total (score DESC, id) order. No corpus-sized shuffle anywhere.
    * Per-term scores sum through DECIMAL(38,18) so partial-agg order can't
    * wiggle the rounded output. */
  def bm25Rank(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, query: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, topN: Int = 20): org.apache.spark.sql.DataFrame = {
    require(query.nonEmpty, "query terms must be non-empty")
    val terms = query.map(_.toLowerCase)
    val words = df.select(col(idCol),
      split(trim(lower(col(textCol))), "\\s+").as("_w"))
    val toks = words
      .select(col(idCol), size(col("_w")).cast(DoubleType).as("_dl"),
        explode(col("_w")).as("_t"))
      .where(col("_t").isin(terms: _*))
    val tf = toks.groupBy(col(idCol), col("_dl"), col("_t"))
      .agg(count(lit(1)).cast(DoubleType).as("_tf"))
    val dfreq = tf.groupBy(col("_t"))
      .agg(countDistinct(col(idCol)).cast(DoubleType).as("_df"))
    val stats = words.agg(
      count(lit(1)).cast(DoubleType).as("_n"),
      (sum(size(col("_w"))).cast(DoubleType) / count(lit(1))).as("_avgdl"))
    val scored = tf.join(broadcast(dfreq), "_t")
      .crossJoin(broadcast(stats))
      .withColumn("_s",
        log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0) *
          (col("_tf") * (k1 + 1.0)) /
          (col("_tf") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
    scored.groupBy(col(idCol))
      .agg(round(Dec128.sumExact(col("_s"), 18).cast(DoubleType), 4)
        .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(topN)
  }

  /** Passage chunking with overlap: split each document into fixed-size
    * word windows stepping by `chunkWords - overlap` — the RAG/pretraining
    * chunker. One row per chunk with `chunk_id` and `chunk_text`; documents
    * shorter than one chunk yield exactly one chunk. The words array is
    * STAGED as a column first so the per-chunk lambda slices an attribute,
    * not a re-evaluated split (the HOF outer-reference trap). */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, textCol: String,
      chunkWords: Int, overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkWords,
      s"overlap must be in [0, chunkWords): $overlap / $chunkWords")
    val step = chunkWords - overlap
    val staged = df.withColumn("_ck_words",
      split(trim(regexp_replace(col(textCol), "\\s+", " ")), " "))
    val n = size(col("_ck_words"))
    // number of windows covering n words: 1 + ceil(max(n - chunk, 0) / step)
    val nChunks = lit(1) + ceil(
      greatest(n - chunkWords, lit(0)).cast(DoubleType) / step).cast(IntegerType)
    val chunks = transform(sequence(lit(0), nChunks - 1), i =>
      concat_ws(" ", slice(col("_ck_words"), i * step + 1, lit(chunkWords))))
    staged
      .select(df.columns.map(col) :+
        posexplode(chunks).as(Seq("chunk_id", "chunk_text")): _*)
      .drop("_ck_words")
  }

  /** Sequence packing: assign documents to fixed-token-budget context
    * windows by running token count in a deterministic order — the
    * pretraining packing pass. Windows are cumsum blocks of width `budget`:
    * a window's first document may straddle its block boundary, so window
    * totals are bounded by `budget + max_doc_tokens` (exact greedy first-fit
    * needs sequential state and is not expressible as a relational window —
    * the cumsum-block form is the scalable standard, and the overshoot
    * vanishes when budget >> document size, the pretraining regime).
    *
    * The cumsum window is ALWAYS partitioned — an unpartitioned global
    * window would sort the whole corpus in one task, the classic scale
    * killer. With `shardCol` the caller owns shard identity and `window_id`
    * is local to the shard. Without it, a shard is derived as
    * `floor(orderCol / autoShardWidth)` (numeric order key required) and
    * `window_id = shard · 2³² + local window` — globally unique, windows
    * never straddle a shard boundary, and every shard is an independent
    * bounded task (embarrassingly parallel at any corpus size). */
  def packDocuments(df: org.apache.spark.sql.DataFrame, orderCol: String,
      textCol: String, budget: Long,
      shardCol: Option[String] = None,
      autoShardWidth: Long = 100000L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val auto = shardCol.isEmpty
    val staged =
      if (auto) df.withColumn("_pack_shard",
        floor(col(orderCol).cast(DoubleType) / lit(autoShardWidth.toDouble))
          .cast(LongType))
      else df
    val shardKey = shardCol.getOrElse("_pack_shard")
    val w = Window.partitionBy(col(shardKey)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ceil(cum/budget)-1: a doc that FILLS the budget stays in its window
    val local = greatest(
      ceil(sum(col("n_tokens")).over(w).cast(DoubleType) / budget)
        .cast(LongType) - 1, lit(0L))
    val out = staged
      .withColumn("n_tokens", tokenCount(col(textCol)).cast(LongType))
      .withColumn("window_id",
        if (auto) col("_pack_shard") * lit(1L << 32) + local else local)
    if (auto) out.drop("_pack_shard") else out
  }

  /** Passage-level exact dedup (boilerplate removal): split each document
    * into fixed `passageWords`-word passages, drop every passage whose md5
    * appears in more than `maxDocFreq` DISTINCT documents (headers, footers,
    * license blocks — the cross-document repeated text that survives
    * document-level dedup), and stitch the survivors back in order.
    *
    * Scale shape: one chunk explode, one aggregate on the md5 key (uniform
    * hash — no skew), one key-join back, one per-document regroup. Two
    * shuffles total, both on bounded-width rows; text arrays never cross a
    * shuffle (passages travel as strings). md5 keys make every step
    * oracle-replayable cross-engine.
    *
    * Output: one row per document — `clean_text` (kept passages joined by
    * single spaces), `n_kept`, `n_removed`. */
  def passageDedup(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, passageWords: Int = 50,
      maxDocFreq: Int = 1): org.apache.spark.sql.DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1: $maxDocFreq")
    val chunks = chunkDocuments(
      df.select(col(idCol), col(textCol)), textCol, passageWords)
      .select(col(idCol), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("_pkey"))
    // min/max doc per key decides "appears in >1 doc" in ONE pass when
    // maxDocFreq == 1 (no countDistinct state); general case counts docs
    val freq =
      if (maxDocFreq == 1)
        chunks.groupBy(col("_pkey"))
          .agg((min(col(idCol)) =!= max(col(idCol))).as("_boiler"))
      else
        chunks.groupBy(col("_pkey"))
          .agg((countDistinct(col(idCol)) > maxDocFreq).as("_boiler"))
    chunks.join(freq, Seq("_pkey"))
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("_boiler"),
            struct(col("chunk_id"), col("chunk_text"))))),
          s => s.getField("chunk_text"))).as("clean_text"),
        sum(when(col("_boiler"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("_boiler"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** Unigram rarity + out-of-vocabulary signals — the portable face of the
    * CCNet-style "LM surprise" curation score. Per document:
    * `mean_word_count` (exact decimal average of each word's CORPUS
    * occurrence count — low means rare/unusual phrasing) and `oov_rate`
    * (fraction of tokens outside the top-`vocabK` corpus vocabulary,
    * tie-broken deterministically by (count desc, word asc) so the vocab
    * cut is engine-stable). Integer corpus counts + decimal-exact averaging
    * keep every value bit-portable — no float log arithmetic, unlike a
    * literal perplexity.
    *
    * Physical shape: one explode to (doc, word), one count aggregate on the
    * word key (uniform, vocabulary-sized result), top-`vocabK` via
    * TakeOrdered on the tiny frequency frame, one join back on the word
    * key, one per-doc aggregate. All shuffles key-uniform; the raw text
    * never crosses one. */
  def rarityScoreTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabK: Int = 1000): org.apache.spark.sql.DataFrame = {
    val words = df.select(col(idCol),
      explode(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " "))
        .as("_w"))
    val freq = words.groupBy(col("_w")).agg(count(lit(1)).as("_cnt"))
    val vocab = freq
      .orderBy(col("_cnt").desc, col("_w").asc).limit(vocabK)
      .select(col("_w"), lit(1).as("_in_vocab"))
    words
      .join(freq, Seq("_w"))
      .join(broadcast(vocab), Seq("_w"), "left")
      .groupBy(col(idCol))
      .agg(
        graft.core.Semantics.exactAvg(col("_cnt")).as("mean_word_count"),
        graft.core.Semantics.safeRound(
          sum(when(col("_in_vocab").isNull, 1).otherwise(0)).cast(DoubleType)
            / count(lit(1)).cast(DoubleType), 4).as("oov_rate"))
  }

  /** Character-distribution entropy in bits/char — the gibberish detector:
    * natural text sits ~4-4.5 bits, keyboard mash / base64 blobs / repeated
    * filler land far outside, so the score feeds the same cutoff machinery
    * as [[qualityScore]]. Docs with empty text are kept with NULL entropy.
    *
    * Physical shape: one char explode → count aggregate on (id, char) —
    * key cardinality ≤ |doc| · |alphabet|, uniform — then a per-doc
    * aggregate over the alphabet-sized count frame; the raw text never
    * crosses a shuffle. Entropy terms sum through DECIMAL(38,18) (the BM25
    * pattern) so the rounded score is partial-agg-order-proof. Char = UTF-16
    * code unit; identical to codepoints for BMP text (all fixtures). */
  def charEntropyTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val cnt = graft.core.Rebalance.computeDense(df)
      .select(col(idCol), length(col(textCol)).cast(DoubleType).as("_len"),
        explode(split(col(textCol), "")).as("_c"))
      .filter(col("_len") > 0)
      .groupBy(col(idCol), col("_len"), col("_c"))
      .agg(count(lit(1)).cast(DoubleType).as("_n"))
    val scored = cnt.groupBy(col(idCol))
      .agg(round(
        (-Dec128.sumExact(
          col("_n") / col("_len") * log2(col("_n") / col("_len")), 18))
          .cast(DoubleType), 4)
        .as("char_entropy"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
  }

  /** Token-blocklist screening — the badwords/URL-blocklist filter every
    * crawl pipeline runs before anything model-based: exact token match
    * against a small broadcast-literal blocklist (word-boundary semantics —
    * "class" never matches a blocked "ass"). Returns per-doc blocked-token
    * count and the flag; integer outputs, exactly oracle-replayable. */
  def blocklistTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, blocklist: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    val blocked = array(blocklist.map(w => lit(w.toLowerCase)): _*)
    val ws = split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " ")
    df.select(col(idCol),
      size(filter(ws, w => array_contains(blocked, w))).cast(LongType)
        .as("n_blocked"))
      .withColumn("blocked", col("n_blocked") > 0)
  }

  /** TF-IDF weights against the deterministic top-`vocabK` corpus
    * vocabulary — the classical sparse featurizer (and the exact-arithmetic
    * sibling of [[bm25Rank]]: same explode → count shapes, per-cell weight
    * instead of per-query score). Smoothed idf = ln((N+1)/(df+1)) + 1, so
    * a term in every document still carries signal. One corpus explode,
    * one (doc, term) count, one vocab-sized doc-frequency aggregate
    * broadcast back — the raw text never crosses a shuffle. */
  def tfidfTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabK: Int = 1000): org.apache.spark.sql.DataFrame = {
    val words = df.select(col(idCol),
      explode(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), " "))
        .as("_w"))
    val tf = words.groupBy(col(idCol), col("_w"))
      .agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("_w"))
      .agg(count(lit(1)).as("_df"))
    val vocab = dfreq.orderBy(col("_df").desc, col("_w").asc).limit(vocabK)
    val nDocs = df.select(col(idCol)).agg(count(lit(1)).as("_n"))
    tf.join(broadcast(vocab), Seq("_w"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("_w").as("term"),
        graft.core.Semantics.safeRound(col("_tf") *
          (log((col("_n").cast(DoubleType) + 1.0) /
            (col("_df").cast(DoubleType) + 1.0)) + 1.0), 4).as("tfidf"))
  }

  /** Word co-occurrence with PMI over ±`window` positions — the classical
    * collocation/phrase-mining signal (and the count table word-vector
    * methods factorize). Ordered pairs (wa at pos, wb at pos+k, k ≤ window)
    * come from zipping each document's word array against its k-shifted
    * slice — each operand binds ONCE (the shingles trick), so pairs are a
    * map-side explode and the former positional self-join (which shuffled
    * the exploded corpus twice, once per join side) is gone. The tokenize
    * runs once on a rebalanced scan and is persisted: unigram counts, pair
    * counts, and the totals are aggregates over the cached arrays, and the
    * totals are derived from the count tables (`nw = Σ cw`, `np = Σ cab` —
    * identical integers to counting the exploded rows) instead of
    * re-scanning. Counts are exact integers, PMI's log ratio is a product
    * of longs on each side of one double division. Top `topK` pairs by
    * (count desc, wa, wb) — a total order, so the cut is deterministic.
    * Eager: the call runs the Spark jobs itself, collects the at most
    * `topK` result rows to the driver and unpersists its three internal
    * persists before it returns. The result is a local frame over those
    * rows, in (count desc, wa, wb) order; it holds no cache, so the
    * caller has nothing to release. */
  def cooccurrencePmi(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int = 2,
      topK: Int = 100): org.apache.spark.sql.DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val arrs = graft.core.Rebalance.computeDense(df)
      .select(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")),
        " ").as("_ws"))
      .persist(lvl)
    val uni = arrs.select(explode(col("_ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .persist(lvl) // serves nw and both broadcast join sides
    val nw = uni.agg(coalesce(sum(col("cw")), lit(0L)).as("nw"))
    val pairCols = (1 to window).map { k =>
      zip_with(col("_ws"),
        slice(col("_ws"), lit(k + 1), greatest(size(col("_ws")) - k, lit(0))),
        (a, b) => when(b.isNotNull, struct(a.as("wa"), b.as("wb"))))
    }
    val byPair = arrs
      .select(explode(filter(flatten(array(pairCols: _*)), _.isNotNull))
        .as("_p"))
      .select(col("_p.wa").as("wa"), col("_p.wb").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("cab"))
      .persist(lvl) // serves np and the top-k cut
    val np = byPair.agg(coalesce(sum(col("cab")), lit(0L)).as("np"))
    val top = byPair
      .orderBy(col("cab").desc, col("wa").asc, col("wb").asc)
      .limit(topK)
    val scored = top
      .join(broadcast(uni.select(col("w").as("wa"), col("cw").as("ca"))),
        Seq("wa"))
      .join(broadcast(uni.select(col("w").as("wb"), col("cw").as("cb"))),
        Seq("wb"))
      .crossJoin(broadcast(nw)).crossJoin(broadcast(np))
      .select(col("wa"), col("wb"), col("cab"),
        graft.core.Semantics.safeRound(
          log((col("cab") * col("nw") * col("nw")).cast(DoubleType) /
            (col("np") * col("ca") * col("cb")).cast(DoubleType)), 4)
          .as("pmi"))
      .orderBy(col("cab").desc, col("wa").asc, col("wb").asc)
    // ≤ topK rows: materialize eagerly and release the three internal
    // persists HERE, so no caller-side clearCache contract is needed (a
    // long-lived service caller would otherwise leak three cached frames
    // per invocation). Row order survives the local relation, and every
    // value is already exact/rounded upstream.
    val localRows = scored.collect()
    val schema = scored.schema
    arrs.unpersist()
    uni.unpersist()
    byPair.unpersist()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(localRows: _*), schema)
  }

  /** Structured entity extraction: every match of every named pattern as
    * one output row (id, kind, n, entity), n = 1-based occurrence index
    * within (doc, kind). ONE text scan builds an array of per-kind match
    * lists, then two explodes unfold it — the scan cost does not grow with
    * the number of patterns, and nothing shuffles. The relational face of
    * [[redactPii]]: redact masks in place, extract pulls the structured
    * values out (link graphs, contact mining, PII inventories). */
  def extractEntities(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      patterns: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val perKind = array(patterns.map { case (kind, re) =>
      struct(lit(kind).as("kind"),
        regexp_extract_all(col(textCol), lit(re), lit(0)).as("ms"))
    }: _*)
    df.select(col(idCol), explode(perKind).as("_e"))
      .select(col(idCol), col("_e.kind").as("kind"),
        posexplode(col("_e.ms")).as(Seq("_p", "entity")))
      .select(col(idCol), col("kind"), (col("_p") + 1).as("n"), col("entity"))
  }

  /** Buzhash (cyclic-polynomial) hashes of EVERY `k`-word window of the
    * document — the relational face of exact-substring dedup (two documents
    * share a verbatim span of ≥ k tokens iff they share a window hash,
    * modulo hash collisions). Per-word xxhash64 is computed once and the
    * window combine is rotate-XOR — ANSI-safe (no overflowing arithmetic)
    * and O(1)-rollable: the codegen'd [[WindowHashes]] kernel rolls the
    * whole array in one O(n) pass. Documents shorter than `k` words yield
    * an empty array (no k-token claim possible). */
  def windowHashes(words: Column, k: Int): Column = {
    require(k >= 2 && k <= 512, s"k must be in [2, 512]: $k")
    WindowHashes.window_hashes(words, k)
  }

  /** Flesch-style readability signals: words, sentence runs ([.!?]+,
    * floored at 1 — streaming text often drops terminal punctuation),
    * vowel-group syllable proxy, and the classic
    * `206.835 − 1.015·(w/s) − 84.6·(syl/w)` score. Pure per-row counts
    * (integers) plus one double formula — zero shuffle, engine-replayable.
    * Empty documents yield null.
    *
    * This is a corpus-wide per-document hot kernel, so all three counts
    * run as codegen'd byte scans ([[graft.functions.TokenCount]],
    * [[graft.functions.CharClassRuns]]) rather than regex spellings that
    * materialize a match array per row just to take its length — identical
    * values (run-count semantics are the same; parity spec-pinned and
    * validated corpus-wide against `size(regexp_extract_all(...))`), at
    * scan speed. The syllable scan stays over `lower(text)` — lowercasing
    * in the KERNEL's table instead would diverge from the regex twin on
    * exotic uppercase codepoints whose Unicode lowercase introduces an
    * ASCII vowel (e.g. U+0130 → "i" + combining dot). */
  def readabilityTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.{CharClassRuns, TokenCount}
    val words = TokenCount.token_count(col(textCol))
    val sents = greatest(
      CharClassRuns.char_class_runs(col(textCol), ".!?"), lit(1))
    val syl = CharClassRuns.char_class_runs(lower(col(textCol)), "aeiouy")
    val score = lit(206.835) -
      lit(1.015) * (words.cast(DoubleType) / sents.cast(DoubleType)) -
      lit(84.6) * (syl.cast(DoubleType) / words.cast(DoubleType))
    df.select(col(idCol), words.as("n_words"), sents.as("n_sents"),
      syl.as("n_syllables"),
      when(words === 0, lit(null).cast(DoubleType))
        .otherwise(graft.core.Semantics.safeRound(score, 4))
        .as("flesch"))
  }

  /** Multi-phrase exact search: which documents contain which phrases,
    * token-aligned, for an ARBITRARILY LARGE phrase set in one pass per
    * distinct phrase length — the scalable alternative to per-row
    * `contains` loops (which cost |docs|·|phrases| string scans). Each
    * doc's k-word [[windowHashes]] equi-join the phrase's own window hash
    * (so only hash-colliding (doc, phrase) candidates ever pair up), then
    * an exact space-padded containment check on the candidate discards
    * collisions. Single-word phrases join the exploded word stream
    * directly. The distinct-length driver collect is bounded by the
    * longest phrase, not the data. */
  def multiPhraseSearch(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, phrases: org.apache.spark.sql.DataFrame,
      phraseIdCol: String,
      phraseCol: String): org.apache.spark.sql.DataFrame = {
    def norm(c: Column) = trim(regexp_replace(lower(c), "\\s+", " "))
    val p = phrases.select(col(phraseIdCol).as("_pid"),
      norm(col(phraseCol)).as("_p"))
      .withColumn("_k", size(split(col("_p"), " ")))
    // the docs side rolls window hashes per document at the scan —
    // compute-dense (Rebalance doc)
    val d = graft.core.Rebalance.computeDense(docs)
      .select(col(idCol), norm(col(textCol)).as("_t"))
    val lengths = p.select(col("_k")).distinct().collect()
      .map(_.getInt(0)).filter(_ >= 1).sorted
    val verified = (k: org.apache.spark.sql.DataFrame) => k
      .filter(instr(concat(lit(" "), col("_t"), lit(" ")),
        concat(lit(" "), col("_p"), lit(" "))) > 0)
      .select(col(idCol), col("_pid").as(phraseIdCol))
    lengths.map { k =>
      val pk = p.filter(col("_k") === k)
      if (k == 1)
        verified(d
          .withColumn("_w", explode(split(col("_t"), " ")))
          .join(pk, col("_w") === col("_p")))
      else
        verified(d
          .withColumn("_h",
            explode(windowHashes(split(col("_t"), " "), k)))
          .join(pk.withColumn("_h",
            element_at(windowHashes(split(col("_p"), " "), k), 1)),
            Seq("_h")))
    }.reduceOption(_ union _)
      .map(_.distinct())
      .getOrElse(docs.sparkSession.emptyDataFrame)
  }
}
