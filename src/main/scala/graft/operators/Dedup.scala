package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact deduplication (`/root/reference/src/transformers/enrichers/
  * deduplicator.py:137-170,212-233,314-346`).
  *
  * Group key = MD5 of the sorted (field,value) pairs over `matchFields`
  * (default all columns) — reproduced as md5(to_json(struct(sorted fields)))
  * so the key is deterministic and oracle-checkable. Survivor per group by
  * `merge_strategy`:
  *   keep_first        — lowest rowId (input order)
  *   keep_last         — highest rowId
  *   keep_best_quality — max _meta_quality_score (rowId tiebreak)
  *
  * Physical shape: ONE shuffle (hash partition on the md5 key) + in-partition
  * window; no global sort. At 100 TB the key hash distributes uniformly, so
  * no skew handling is needed unless match_fields are themselves skewed —
  * in that case pre-aggregation via dropDuplicates on (key, rowId-min) would
  * apply; documented, not needed for parity.
  */
object ExactDedup {
  /** Deterministic row-content hash over the match fields (sorted by name,
    * values stringified) — deduplicator.py:212-233. The all-columns default
    * keys on RECORD fields only: internal row ids and `_meta_`/`_dd_`
    * bookkeeping columns are excluded (a row id in the key would make
    * every row unique and silently disable dedup — the reference keys on
    * record.data, never metadata). */
  def matchKey(df: DataFrame, matchFields: Seq[String]): Column = {
    val fields = (if (matchFields.nonEmpty) matchFields
                  else df.columns.toSeq.filterNot(c =>
                    c == "_row_id" || c.startsWith("_meta_") ||
                      c.startsWith("_dd_"))).sorted
    md5(to_json(struct(fields.map(f => col(f).cast(StringType).as(f)): _*)))
  }

  def apply(df: DataFrame, matchFields: Seq[String] = Nil,
      strategy: String = "keep_first", rowId: String = "_row_id",
      qualityCol: String = "_meta_quality_score"): DataFrame = {
    val withId = if (df.columns.contains(rowId)) df
                 else Aggregator.withRowId(df, rowId)
    // matchKey's default excludes "_row_id"; a caller-custom rowId name
    // must be excluded here too
    val fields =
      if (matchFields.nonEmpty) matchFields
      else df.columns.toSeq.filterNot(c =>
        c == rowId || c.startsWith("_meta_") || c.startsWith("_dd_"))
    val key = matchKey(withId, fields)
    val w = strategy match {
      case "keep_first" => Window.partitionBy(key).orderBy(col(rowId).asc)
      case "keep_last"  => Window.partitionBy(key).orderBy(col(rowId).desc)
      case "keep_best_quality" =>
        Window.partitionBy(key).orderBy(col(qualityCol).desc_nulls_last, col(rowId).asc)
      case other => throw new IllegalArgumentException(s"unknown strategy $other")
    }
    withId.withColumn("_dd_rn", row_number().over(w))
      .filter(col("_dd_rn") === 1)
      .drop("_dd_rn")
  }

  /** Incremental-ingest dedup: from a new batch, keep rows that are first
    * within the batch (per [[apply]]'s strategy) AND whose content key is
    * unseen in the historical corpus — the CDC face of exact dedup, pairing
    * with `io/IncrementalState` (which dedups at file level).
    *
    * Shape: within-batch dedup is the usual windowed pass over the (small)
    * batch; the history check is a left-anti join on the content key. At
    * corpus scale keep the history as a content-key table bucketed on the
    * key so the anti-join co-locates instead of shuffling 100 TB per
    * increment. Pass `matchFields` explicitly — batch and history schemas
    * need not match beyond them. */
  def incremental(batch: DataFrame, history: DataFrame,
      matchFields: Seq[String], strategy: String = "keep_first",
      rowId: String = "_row_id"): DataFrame = {
    val withinBatch = apply(batch, matchFields, strategy, rowId)
    val histKeys = history
      .select(matchKey(history, matchFields).as("_dd_key")).distinct()
    withinBatch.withColumn("_dd_key", matchKey(withinBatch, matchFields))
      .join(histKeys, Seq("_dd_key"), "left_anti")
      .drop("_dd_key")
  }
}

/** Scale-path near-duplicate detection for text — the Spark-native rebuild of
  * the reference's fuzzy dedup (`deduplicator.py:172-312`), which embeds rows
  * with a sentence-transformer and does a full O(N²) cosine matrix with
  * greedy first-seen clustering. Neither survives 100 TB, and the pretrained
  * model isn't on the JVM, so the engine provides the standard large-scale
  * constructions instead (SURVEY §7.3):
  *
  *  - MinHash signatures over word shingles + LSH banding: candidate pairs
  *    come from an equi-join on (band, bucket) — near-linear, shuffle on
  *    bucket keys only, never N².
  *  - Cluster id = connected components approximated by min-doc-id label
  *    propagation over candidate pairs (deterministic, order-independent —
  *    replaces the reference's input-order-dependent greedy scan; SURVEY
  *    §7.3 documents the deviation).
  *
  * All column expressions — hashing via xxhash64, no UDFs.
  */
object MinHashDedup {
  /** Word k-shingles of the lowercased text.
    *
    * Construction note: any per-element lambda that references the outer
    * array (`slice(words, i, k)` or `element_at(words, i+j)`) re-evaluates
    * the `split` expression on EVERY element — O(n²·len) per row, measured
    * at ~20µs/shingle. `zip_with` against shifted slices binds each array
    * operand once, so the whole shingle set is O(k·len) per row. */
  def shingles(text: Column, k: Int = 3): Column =
    // codegen'd kernel: one byte scan, same distinct set and order as the
    // HOF spelling (asserted in FastExprAndIvfSpec). Sole divergence:
    // text whose first token boundary is non-space whitespace — the regex
    // form then emits an "" token artifact (trim strips spaces only); the
    // kernel never produces empty tokens.
    graft.functions.WordShingles.word_shingles(text, k)

  /** (id, band, bucket) rows from the codegen'd signature kernel — shared by
    * [[clusters]] and the connected-components property tests. */
  private[graft] def bucketTable(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    // whole signature from the codegen'd kernel: a pure projection — the
    // former explode-shingles → 64-min hash-aggregate shuffled the entire
    // exploded corpus; now nothing shuffles until the band window. The
    // kernel's values are identical (min over windows = min over distinct
    // shingles; per-seed hash folds replayed exactly — FastExprAndIvfSpec).
    // numHashes seed-folds per document — compute-dense, so the kernel
    // must not inherit an under-split scan's task count (Rebalance doc)
    val sig = graft.core.Rebalance.computeDense(df).select(col(idCol),
      graft.functions.MinHashSig.minhash_sig(col(textCol), k, numHashes)
        .as("_sig"))
    val bandCols = (0 until bands).map { b =>
      val parts = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => element_at(col("_sig"), i + 1).cast(StringType))
      // shingle-less docs (< k words) share one kernel-defined signature
      // and thus one bucket — identical to the aggregate form, where the
      // explode_outer NULL row hashes to hashInt(seed, 42) per seed (the
      // old isNull singleton branch was dead code: xxhash64 skips nulls)
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", parts: _*)).as("bucket"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("_bb"))
      .select(col(idCol), col("_bb.band").as("band"), col("_bb.bucket").as("bucket"))
  }

  /** End-to-end: text table → (id, cluster) where cluster = min id among
    * connected candidates. One label-propagation round (bucket-min then
    * id-min) is exact for the clique-ish groups LSH usually produces;
    * duplicate CHAINS that connect only through different buckets need more
    * rounds, so propagation iterates `propagationRounds` times. Labels are
    * monotone non-increasing and each round extends the min label's reach
    * by ONE doc-graph hop, so a component converges once rounds ≥ the
    * min-id doc's eccentricity (≤ component diameter). The loop is FIXED
    * length — no convergence action — so pick rounds for the deepest chain
    * you care about; LSH near-dup components are clique-ish and shallow, so
    * the default 3 covers real corpora (the connected-components property
    * test covers a 6-doc chain with 4).
    *
    * Physical shape per round: shuffle on (band,bucket) + shuffle on id —
    * small keys, linear at any scale.
    *
    * This form is fully LAZY: each extra round's plan re-references the
    * bucket table, and exchange reuse only dedupes some of those scans —
    * fine up to mid-size corpora. When the corpus is large enough that
    * re-scanning text dominates, use [[clustersMaterialized]], which
    * persists the (id, band, bucket) rows so the text is scanned once
    * regardless of rounds. */
  def clusters(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      propagationRounds: Int = 3): DataFrame = {
    require(propagationRounds >= 1, "propagationRounds must be >= 1")
    propagate(bucketTable(df, idCol, textCol, k, numHashes, bands),
      idCol, propagationRounds)
  }

  /** Eager scale form of [[clusters]]: persists the bucket table (tiny next
    * to the text — ~3 small columns × bands rows per doc), materializes the
    * labels, then releases the bucket cache. The corpus text is scanned
    * exactly ONCE no matter how many propagation rounds run. Returns a
    * persisted label table — caller unpersists when done. */
  def clustersMaterialized(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      propagationRounds: Int = 3): DataFrame = {
    require(propagationRounds >= 1, "propagationRounds must be >= 1")
    val bb = bucketTable(df, idCol, textCol, k, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val labels = propagate(bb, idCol, propagationRounds)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      labels.count()
      labels
    } finally { bb.unpersist(); () }
  }

  /** End-to-end fuzzy dedup: EXACT prefix-filtered candidate pairs →
    * EXACT shingle-Jaccard verification → connected components → one
    * canonical survivor per duplicate group. Returns (idCol, cluster,
    * keep).
    *
    * This is the reference's fuzzy dedup semantics (collapse each group of
    * mutually-similar docs to one survivor) built from scale-safe pieces:
    * candidates come from [[SetSimJoin.jaccardCandidates]] — Chaudhuri
    * prefix filtering under a global rare-first shingle order, PROVABLY
    * complete at the threshold, never all pairs — and only verified pairs
    * (Jaccard ≥ threshold, rounded like
    * [[NgramJaccard.pairsWithinBlocks]]) become component edges. The
    * previous LSH-banding candidate source missed borderline pairs with
    * probability (1−t^r)^b per pair — invisible while test dups were
    * exact copies, a real dropped-edge class on a corpus of ~J≈0.8
    * near-dups (caught by the 10×-sf0.1 oracle sweep). MinHash banding
    * remains available as the explicitly-probabilistic path
    * ([[clusters]]/[[clustersMaterialized]], recall-gated).
    *
    * Physical shape: [[SetSimJoin.selfJoinPairs]] — distinct-set
    * pre-pass, ONE exploded relation / frequency aggregate / prefix
    * window (the former two-relation spelling exploded the corpus twice
    * and recomputed the shingle table three times — measured at roughly
    * half the family's cost), verification once per distinct-set pair,
    * then [[Components.labels]]' constant-shape propagation rounds. */
  def fuzzyDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 3, maxIters: Int = 30): DataFrame = {
    val sh = graft.core.Rebalance.computeDense(df)
      .select(col(idCol), shingles(col(textCol), k).as("_sh"))
    // verifier rounds half-up at e4: prefix sized one ulp below t so
    // boundary pairs that round up remain provable candidates. The
    // verifier itself is UNCHANGED from the two-relation spelling (same
    // double round(jaccard, 4) the oracle replays); identical sets verify
    // once per distinct pair and intra-copy-group edges emit at J = 1,
    // which every threshold in (0, 1] accepts — the component structure
    // is exactly the all-pairs one.
    val minE4 = math.max(1L, math.floor(threshold * 10000).toLong - 1L)
    // the verifier's DOUBLE arithmetic is unchanged from the array
    // spelling (inter/union both cast to double, round half-up at e4 —
    // exactly [[NgramJaccard.jaccard]] on distinct sets, where
    // |A∪B| = |A|+|B|−|A∩B|); only the intersection COUNT now comes from
    // the engine's sorted merge walk instead of a materialized
    // array_intersect, so ties round bit-identically to the oracle replay
    val verified = SetSimJoin.selfJoinPairs(sh, idCol, "_sh", minE4,
      (i, na, nb, _) => {
        val uni = na + nb - i
        round(when(uni === 0, 0.0)
          .otherwise(i.cast(DoubleType) / uni.cast(DoubleType)), 4) >=
          threshold
      })
      .select(col("id_a").as("_ca"), col("id_b").as("_cb"))
    Components.keepCanonical(df.select(col(idCol)), idCol,
      verified, "_ca", "_cb", maxIters)
  }

  /** Persisted near-dup index over an already-curated corpus: per-doc
    * shingle sets for candidate generation and exact verification. A plain
    * DataFrame — write it to parquet once and every future batch screens
    * against it without touching the indexed corpus's raw text again. */
  final case class NearDupIndex(shingleSets: DataFrame)

  def buildNearDupIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): NearDupIndex =
    NearDupIndex(graft.core.Rebalance.computeDense(df)
      .select(col(idCol), shingles(col(textCol), k).as("_sh")))

  /** Incremental fuzzy screen — the ingest-time question "is this new
    * document a near-dup of ANYTHING already in the corpus": candidates
    * come from EXACT prefix filtering ([[SetSimJoin.jaccardCandidates]])
    * between the new batch's shingle sets and the index's — provably
    * complete at the threshold, so a qualifying match can never be missed
    * (LSH banding, the previous candidate source, misses borderline-J
    * pairs with probability (1−t^r)^b — invisible on corpora whose dups
    * are exact copies, real on a corpus of ~J≈0.8 near-dups). Each
    * candidate verifies by exact shingle Jaccard, and every new doc comes
    * back with (`is_dup`, `match_id` = smallest matching indexed id, -1
    * if none). The global rare-first token order is recomputed per batch
    * over index∪batch tokens from [[NearDupIndex.shingleSets]] — the
    * indexed corpus's raw text is never touched again. */
  def incrementalNearDup(newDocs: DataFrame, idCol: String, textCol: String,
      index: NearDupIndex, threshold: Double = 0.8, k: Int = 3): DataFrame = {
    // DISTINCT-SET PRE-PASS on BOTH relations (same md5-of-sorted-set
    // content key as [[SetSimJoin.selfJoinPairs]]): candidates and the
    // exact verification run once per distinct (new set, indexed set)
    // pair; batches and indexes full of content copies otherwise pay the
    // pair pipeline per copy-pair. The indexed side collapses to
    // (distinct set → min member id): min-over-groups of per-group mins
    // IS the global min match id, so expansion is only needed on the new
    // side. No explicit materialization — all consumers sit under one
    // action, so ReuseExchange computes each repeated exchange once.
    // 64-bit token encoding (see [[SetSimJoin]]'s object doc): the md5
    // content key is computed MAP-SIDE from the raw sorted shingles, then
    // the arrays that actually shuffle -- through the copy-group
    // aggregates, the candidate join, and the verification joins -- are
    // pointwise-xxhash64 long arrays, never shingle strings. Sizes and
    // intersection counts (all the verifier reads) are exact under
    // injectivity on the realized vocabulary.
    // numeric re-sort after the pointwise encode (the raw sort below
    // orders by shingle TEXT for the md5 content key) so verification can
    // run the allocation-free sorted merge count
    def enc(c: Column): Column =
      array_sort(transform(c, t => xxhash64(t)))
    val sortedSh = array_sort(shingles(col(textCol), k))
    val nrows = graft.core.Rebalance.computeDense(newDocs)
      .select(col(idCol).as("_nid"), sortedSh.as("_nsh"))
      .withColumn("_nkey", md5(concat_ws("\u0000", col("_nsh"))))
      .withColumn("_nsh", enc(col("_nsh")))
    val ngroups = nrows.groupBy(col("_nkey"))
      .agg(min(col("_nid")).as("_ngid"), first(col("_nsh")).as("_nsh"))
    val ogroups = index.shingleSets
      .select(col(idCol).as("_oid"), array_sort(col("_sh")).as("_osh"))
      .withColumn("_okey", md5(concat_ws("\u0000", col("_osh"))))
      .withColumn("_osh", enc(col("_osh")))
      .groupBy(col("_okey"))
      .agg(min(col("_oid")).as("_ogid"), first(col("_osh")).as("_osh"))
    // verifier rounds half-up at e4, accepting true J ≥ t − 0.5e-4:
    // size the prefix one e4 ulp below t so boundary pairs that round up
    // are still provably candidates. Identical cross-side sets share all
    // prefix tokens (non-empty ⇒ candidate) and verify at J = 1 — no
    // separate exact-key path needed, and empty-vs-empty stays unmatched
    // (no tokens to join on; jaccard of two empty sets is 0 anyway).
    val minE4 = math.max(1L, math.floor(threshold * 10000).toLong - 1L)
    val cand = SetSimJoin.jaccardCandidates(
      ngroups.select(col("_ngid"), col("_nsh")), "_ngid", "_nsh",
      ogroups.select(col("_ogid"), col("_osh")), "_ogid", "_osh", minE4)
    // verifier: same double arithmetic as [[NgramJaccard.jaccard]] on
    // distinct sets (|A∪B| = |A|+|B|−|A∩B|, ints cast to double), with the
    // intersection COUNT from the allocation-free sorted merge walk
    val gInter = graft.functions.SortedIntersectCount
      .sorted_intersect_count(col("_nsh"), col("_osh"))
    val gUni = size(col("_nsh")) + size(col("_osh")) - col("_i")
    val gmatches = cand
      .join(ngroups.select(col("_ngid"), col("_nsh")), Seq("_ngid"))
      .join(ogroups.select(col("_ogid"), col("_osh")), Seq("_ogid"))
      .withColumn("_i", gInter)
      .where(round(when(gUni === 0, 0.0).otherwise(
        col("_i").cast(DoubleType) / gUni.cast(DoubleType)), 4)
        >= threshold)
      .groupBy(col("_ngid")).agg(min(col("_ogid")).as("_mid"))
    // expand per-group matches back to every new doc through its copy group
    val matches = nrows.select(col("_nkey"), col("_nid"))
      .join(ngroups.select(col("_nkey"), col("_ngid")), Seq("_nkey"))
      .join(gmatches, Seq("_ngid"))
      .select(col("_nid").as(idCol), col("_mid"))
    newDocs.select(col(idCol))
      .join(matches, Seq(idCol), "left")
      .select(col(idCol), col("_mid").isNotNull.as("is_dup"),
        coalesce(col("_mid"), lit(-1L)).as("match_id"))
  }

  private def propagate(bb: DataFrame, idCol: String,
      propagationRounds: Int): DataFrame = {
    val w = Window.partitionBy(col("band"), col("bucket"))
    // round 1: min id per (band,bucket), then min of those per id
    var labels = bb.withColumn("_bmin", min(col(idCol)).over(w))
      .groupBy(col(idCol))
      .agg(min(col("_bmin")).as("cluster"))
    // rounds 2..n: propagate the current LABEL through buckets (min label
    // per bucket → min over a doc's buckets); own label joins in via the
    // doc's own bucket membership, so labels only ever decrease
    for (_ <- 1 until propagationRounds) {
      labels = bb.join(labels, idCol)
        .withColumn("_bl", min(col("cluster")).over(w))
        .groupBy(col(idCol))
        .agg(min(col("_bl")).as("cluster"))
    }
    labels
  }
}

/** SimHash fingerprint: 64-bit signature where bit i is the sign of the sum
  * of per-feature hash-bit contributions. Near-duplicates differ in few bits
  * → group by signature (exact) or by rotated prefixes (hamming ≤ d). */
object SimHash {
  /** The codegen'd [[SimHashSig]] kernel — whole signature as a pure
    * projection, no shuffle at all (values bit-identical to the explode +
    * 64-vote aggregate spelling `OperatorTwins.simhashTableAggForm`;
    * FastExprAndIvfSpec). Returns (idCol, simhash). */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, bits: Int = 64): DataFrame =
    graft.core.Rebalance.computeDense(df).select(col(idCol),
      graft.functions.SimHashSig.simhash_sig(col(textCol), k, bits)
        .as("simhash"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-duplicate pairs by signature distance: all (id_a < id_b) with
    * hamming(sig_a, sig_b) ≤ maxDist.
    *
    * Scale shape (pigeonhole banding): split the 64-bit signature into
    * `maxDist + 1` contiguous blocks — two signatures within maxDist bits
    * MUST agree on at least one whole block, so candidates come from an
    * equi-join on (block index, block value), never a cross product. The
    * exact hamming filter then prunes false candidates. Same construction
    * as MinHash-LSH banding, but over signature bits. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, maxDist: Int = 3): DataFrame =
    sigPairs(simhashTable(df, idCol, textCol, k), idCol, "simhash", maxDist)

  /** Generic near-dup pairs over ANY (id, 64-bit signature) frame — the
    * same pigeonhole blocking simhash uses, reusable for image perceptual
    * hashes or any other 64-bit fingerprint. */
  def sigPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxDist: Int): DataFrame = {
    val nBlocks = maxDist + 1
    val width = 64 / nBlocks
    val blocks = explode(array((0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        // block b = bits [b*width, (b+1)*width); last block takes the rest
        shiftrightunsigned(col(sigCol), b * width)
          .bitwiseAND(lit(if (b == nBlocks - 1) -1L >>> (b * width)
                          else (1L << width) - 1)).as("v"))
    }: _*))
    val keyed = sigs.select(col(idCol), col(sigCol), blocks.as("bb"))
      .select(col(idCol), col(sigCol),
        col("bb.blk").as("blk"), col("bb.v").as("v"))
    val a = keyed.select(col(idCol).as("id_a"), col(sigCol).as("sig_a"),
      col("blk"), col("v"))
    val b = keyed.select(col(idCol).as("id_b"), col(sigCol).as("sig_b"),
      col("blk"), col("v"))
    a.join(b, Seq("blk", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct() // a pair can agree on several blocks
      .filter(col("hamming") <= maxDist)
  }
}

/** N-gram Jaccard similarity between documents; candidate generation must be
  * blocked (here: by a caller-supplied key) — full cross-join is the anti-
  * pattern at scale. */
object NgramJaccard {
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni === 0, 0.0).otherwise(inter.cast(DoubleType) / uni.cast(DoubleType))
  }

  /** Pairwise similarities within blocks via an inverted shingle index:
    * explode distinct shingles, self-join on (block, shingle) — each shared
    * shingle contributes one pair-row, so |intersection| is a count and the
    * full arrays never travel through the join. Union size from per-doc
    * shingle counts: |A∪B| = |A|+|B|−|A∩B|. Pairs sharing zero shingles are
    * never generated at all (they can't pass any positive threshold).
    *
    * At scale this is the standard construction: shuffle on (block, shingle)
    * keys; worst case is a hot shingle within a block, bounded by block
    * size — versus the array-join form whose every pair ships both arrays.
    *
    * DISTINCT-TEXT PRE-PASS (shared with the containment form): rows with
    * identical (block, text) collapse to one representative — md5 content
    * key, the same one [[ExactDedup]] uses — so the inverted-index join
    * and the similarity arithmetic run once per distinct pair; id pairs
    * re-expand through copy groups, and identical-text pairs emit directly
    * at score 1.0 with no index work at all. Duplicate-heavy corpora
    * otherwise pay the pair pipeline per copy-pair (quadratic in copy
    * multiplicity) for work whose answer never changes. */
  def pairsWithinBlocks(df: DataFrame, idCol: String, textCol: String,
      blockKey: Column, k: Int = 3, threshold: Double = 0.5): DataFrame =
    scoredPairsWithinBlocks(df, idCol, textCol, blockKey, k, threshold,
      "jaccard", (inter, na, nb) => {
        val uni = na + nb - inter
        round(when(uni === 0, 0.0)
          .otherwise(inter.cast(DoubleType) / uni.cast(DoubleType)), 4)
      })

  /** Asymmetric near-dup — containment |A∩B| / min(|A|,|B|): a short
    * document quoted whole inside a long one has Jaccard ≈ |A|/|B| (tiny,
    * invisible to [[pairsWithinBlocks]]) but containment 1.0. The
    * excerpt/quotation detector. Identical inverted-shingle-index
    * construction, distinct-text pre-pass, and scale shape as the Jaccard
    * form. */
  def containmentPairsWithinBlocks(df: DataFrame, idCol: String,
      textCol: String, blockKey: Column, k: Int = 3,
      threshold: Double = 0.8): DataFrame =
    scoredPairsWithinBlocks(df, idCol, textCol, blockKey, k, threshold,
      "containment", (inter, na, nb) =>
        round(inter.cast(DoubleType) / least(na, nb).cast(DoubleType), 4))

  /** Shared engine for the two blocked pair forms: distinct-(block, text)
    * collapse → inverted shingle index over representatives → score →
    * re-expansion. `score(inter, na, nb)` must yield exactly 1.0 for
    * identical inputs (inter = na = nb) — intra-group pairs are emitted at
    * that constant without touching the index. */
  private def scoredPairsWithinBlocks(df: DataFrame, idCol: String,
      textCol: String, blockKey: Column, k: Int, threshold: Double,
      scoreName: String,
      score: (Column, Column, Column) => Column): DataFrame = {
    val rows = df.select(col(idCol).as("id"), blockKey.as("blk"),
      col(textCol).as("_t")).withColumn("_key", md5(col("_t")))
    val groups = rows.groupBy(col("blk"), col("_key"))
      .agg(min(col("id")).as("_gid"), first(col("_t")).as("_t"))
    // each input id belongs to exactly one (blk, text) group, so group
    // representative ids are globally unique and expansion needs no blk
    val members = rows.select(col("blk"), col("_key"), col("id"))
      .join(groups.select(col("blk"), col("_key"), col("_gid")),
        Seq("blk", "_key"))
      .select(col("_gid"), col("id"))
    val prepared = groups.select(col("_gid").as("id"), col("blk"),
      MinHashDedup.shingles(col("_t"), k).as("sh"))
    val sized = prepared.select(col("id"), col("blk"), col("sh"),
      size(col("sh")).as("n_sh"))
    val inv = sized.select(col("id"), col("blk"), col("n_sh"),
      explode(col("sh")).as("s"))
    val l = inv.select(col("id").as("id_a"), col("n_sh").as("na"),
      col("blk"), col("s"))
    val r = inv.select(col("id").as("id_b"), col("n_sh").as("nb"),
      col("blk"), col("s"))
    val repPairs = l.join(r, Seq("blk", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn(scoreName, score(col("inter"), col("na"), col("nb")))
      .filter(col(scoreName) >= threshold)
      .select(col("id_a").as("_ga"), col("id_b").as("_gb"), col(scoreName))
    val inter = repPairs
      .join(members.select(col("_gid").as("_ga"), col("id").as("_xa")),
        Seq("_ga"))
      .join(members.select(col("_gid").as("_gb"), col("id").as("_xb")),
        Seq("_gb"))
      .select(least(col("_xa"), col("_xb")).as("id_a"),
        greatest(col("_xa"), col("_xb")).as("id_b"), col(scoreName))
    // identical (block, text) → identical shingle sets → score exactly
    // 1.0, PROVIDED the text has at least one shingle (empty-shingle rows
    // never reach the index and never paired before the pre-pass either)
    val me = sized.filter(col("n_sh") > 0).select(col("id").as("_gid"))
      .join(members, Seq("_gid"))
    val intra = me.as("x")
      .join(me.as("y"),
        col("x._gid") === col("y._gid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as(scoreName))
      .filter(col(scoreName) >= threshold)
    inter.unionByName(intra)
  }
}

/** Exact-substring dedup (the "dedup training data at span level" pass —
  * cf. Lee et al., "Deduplicating Training Data Makes Language Models
  * Better"): flag documents that share a VERBATIM run of ≥ `k` tokens with
  * another document. Long quotations, mirrored articles, and licence
  * blocks survive both document-level exact dedup and MinHash (the shared
  * span is a small fraction of either document) — this catches them.
  *
  * Construction: every k-word window of every document is Buzhash-hashed
  * (`TextFunctions.windowHashes` — stride 1, so a shared k-token span
  * ALWAYS yields a shared window hash in both documents regardless of its
  * offset; any stride > 1 silently misses spans whose offsets differ mod
  * stride). Shape at scale: one explode to (doc, hash) longs — ~n_tokens
  * rows per doc, no strings cross the shuffle — one groupBy on the uniform
  * 64-bit key with a min≠max share test (one pass, no countDistinct state),
  * one semi-join back. False positives are hash collisions only (~2⁻⁶⁴ per
  * pair); no false negatives.
  */
object SubstrDedup {
  /** Per-document window-hash rows: (`idCol`, `win_pos`, `win_hash`) with
    * `win_pos` the 0-based word offset of the window start. The reusable
    * exploded form — `flags`/`removeSpans` consume it, and gates
    * materialize it as the oracle aux. */
  def windows(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12): DataFrame =
    // per-word xxhash + O(n) roll per document — compute-dense scan
    graft.core.Rebalance.computeDense(df).select(col(idCol),
      posexplode(graft.functions.TextFunctions.windowHashes(
        split(trim(regexp_replace(col(textCol), "\\s+", " ")), " "), k))
        .as(Seq("win_pos", "win_hash")))

  /** Window hashes shared by ≥2 distinct documents — the dup-span keys. */
  private def sharedHashes(win: DataFrame, idCol: String): DataFrame =
    win.groupBy(col("win_hash"))
      .agg((min(col(idCol)) =!= max(col(idCol))).as("_shared"))
      .filter(col("_shared")).select(col("win_hash"))

  /** One row per flagged document: `n_dup_windows` = how many of its
    * windows are shared with at least one OTHER document. */
  def flags(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12): DataFrame = {
    val win = windows(df, idCol, textCol, k)
    win.join(sharedHashes(win, idCol), Seq("win_hash"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_windows"))
  }

  /** Longest corpus-shared verbatim span per document, in words — the
    * "how bad is the overlap" report behind a span-dedup decision (a
    * 12-word match is a quotation; a 300-word match is a mirror). Shared
    * window starts at consecutive positions merge into runs
    * (gaps-and-islands: pos − row_number is constant within a run); a run
    * of `r` consecutive shared k-windows certifies `r + k − 1` words every
    * one of which sits in some window shared with another document.
    *
    * Semantics note: consecutive windows in a run may be shared with
    * DIFFERENT partner documents, so the reported length is an UPPER
    * BOUND on the longest span shared with any single document (and
    * exactly the span `removeSpans` would treat as duplicated — the two
    * are consistent). A partner-exact variant needs the pairwise
    * (doc, partner) join, whose size is Σ c·(c−1) over windows shared by
    * c docs — unbounded on boilerplate-heavy corpora — so the corpus-level
    * bound is the scale-safe default. Windows are partitioned per
    * document — no global window anywhere. */
  def longestSharedSpan(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12): DataFrame = {
    val win = windows(df, idCol, textCol, k)
    // (doc, win_pos) is already unique: windows() emits one row per
    // position and sharedHashes is distinct on the key — no dedup needed
    val starts = win.join(sharedHashes(win, idCol), Seq("win_hash"))
      .select(col(idCol), col("win_pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("win_pos"))
    starts
      .withColumn("_isl", col("win_pos") - row_number().over(w))
      .groupBy(col(idCol), col("_isl"))
      .agg(count(lit(1)).as("_run"))
      .groupBy(col(idCol))
      .agg((max(col("_run")) + lit(k - 1)).as("longest_shared_span"))
  }

  /** Cut the duplicated spans OUT, Lee-et-al style: by default ONE copy of
    * each cross-document shared span survives (the occurrence in the
    * lowest `idCol` holding that window — the canonical copy), and every
    * other occurrence's words are removed and the survivors re-stitched in
    * order. `keepFirstCopy = false` removes every copy instead (the
    * aggressive boilerplate-purge policy). Every document comes back
    * (possibly with empty `clean_text`), with
    * `n_tokens_kept`/`n_tokens_removed` counts.
    *
    * Fully relational: token positions explode to (doc, pos) rows, shared
    * window starts expand to their covered positions via one `sequence`
    * explode, and a left-anti join keeps the surviving tokens — every join
    * is on (doc, pos) or the uniform hash key, so the shape holds at any
    * corpus size. */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, keepFirstCopy: Boolean = true): DataFrame = {
    val win = windows(df, idCol, textCol, k)
    val sh = win.groupBy(col("win_hash"))
      .agg(min(col(idCol)).as("_min_doc"), max(col(idCol)).as("_max_doc"))
      .filter(col("_min_doc") =!= col("_max_doc"))
      .select(col("win_hash"), col("_min_doc"))
    val startsAll = win.join(sh, Seq("win_hash"))
    val starts =
      (if (keepFirstCopy) startsAll.filter(col(idCol) =!= col("_min_doc"))
       else startsAll)
        .select(col(idCol), col("win_pos"))
    val covered = starts
      .select(col(idCol),
        explode(sequence(col("win_pos"), col("win_pos") + lit(k - 1)))
          .as("pos"))
      .distinct()
    // tokenize passes are compute-dense (regex normalize + split per doc)
    // — rebalanced so an under-split scan can't serialize them (the
    // windows() pass above already rebalances; these two re-read raw text)
    val words = graft.core.Rebalance.computeDense(df).select(col(idCol),
        posexplode(split(trim(regexp_replace(col(textCol), "\\s+", " ")), " "))
          .as(Seq("pos", "w")))
    val kept = words.join(covered, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w"))).as("clean_text"),
        count(lit(1)).as("n_tokens_kept"))
    graft.core.Rebalance.computeDense(df).select(col(idCol),
        size(split(trim(regexp_replace(col(textCol), "\\s+", " ")), " "))
          .cast("long").as("_n_total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        (col("_n_total") - coalesce(col("n_tokens_kept"), lit(0L)))
          .as("n_tokens_removed"))
  }

  /** Content-defined chunking: cut each document's word stream where the
    * rolling window hash lands on `win_hash % modulus == 0` — boundaries
    * follow CONTENT, not position, so inserting a preamble shifts every
    * offset but re-cuts the same places (the rsync/LBFS trick, applied to
    * dedup granularity: fixed-window dedup tells you WHICH spans repeat,
    * chunk identity gives a storage/dedup UNIT that survives edits).
    * Expected chunk length ≈ `modulus` window starts. Chunk identity =
    * the ','-joined win_hash sequence inside the chunk, position-free —
    * derivable by ANY engine from the exploded window table, which is
    * exactly what the correctness gate ships as aux. Per-doc chunk index
    * is a key-partitioned cumsum; everything else is hash aggregates. */
  def contentChunks(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, modulus: Int = 16): DataFrame = {
    require(modulus >= 2, "modulus must be >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("win_pos").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    windows(df, idCol, textCol, k)
      .withColumn("_b",
        when(pmod(col("win_hash"), lit(modulus.toLong)) === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk_idx", sum(col("_b")).over(w))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(count(lit(1)).as("n_windows"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("win_pos"), col("win_hash")))),
          s => s.getField("win_hash").cast("string"))).as("chunk_sig"))
  }

  /** Cross-document chunk-dedup report over [[contentChunks]]: per doc,
    * total chunks and how many are byte-identical (by signature) to a
    * chunk of at least one OTHER document. The shared-test shuffles the
    * 8-byte xxhash64 of each signature, not the signature string itself
    * (which is O(chunk words) — shuffling it would move a text-sized
    * payload through the grouping); an independent engine grouping on
    * the full strings agrees up to a 2⁻⁶⁴ collision, the same accepted
    * tradeoff as every minhash gate. */
  def chunkDupReport(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, modulus: Int = 16): DataFrame = {
    val chunks = contentChunks(df, idCol, textCol, k, modulus)
      .withColumn("_sigh", xxhash64(col("chunk_sig")))
    val shared = chunks.groupBy(col("_sigh"))
      .agg((min(col(idCol)) =!= max(col(idCol))).as("_sh"))
      .filter(col("_sh")).select(col("_sigh"))
    chunks.join(shared.withColumn("_dup", lit(1L)), Seq("_sigh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("_dup"), lit(0L))).as("n_dup_chunks"))
  }
}
