package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.Semantics
import graft.functions.{TextFunctions => TF}

/** Corpus-card reporting: the per-slice summary a training-data curator
  * reads before mixing sources — document and token counts, each slice's
  * share of the corpus token budget, exact-duplicate rate, and mean quality
  * score. The reference surfaces these numbers piecemeal (dashboard
  * summary/by-provider views, quality scorer); a corpus card is the
  * training-pipeline shape of the same reporting.
  *
  * Physical shape: ONE full pass (token/quality kernels are projections;
  * dup detection via md5 content key inside the same aggregate) into a
  * small per-slice aggregate, then a broadcast of the one-row total for the
  * share column. Group keys are low-cardinality slice labels, so the
  * shuffle is tiny regardless of corpus size; no window, no second scan.
  */
object CorpusStats {

  /** One row per `groupCols` slice: n_docs, n_tokens, token_share (of the
    * whole corpus), n_unique (distinct md5 content keys), dup_frac, and
    * mean_quality — ratios rounded via [[Semantics.safeRound]] so the
    * numbers are engine-portable. */
  def corpusCard(df: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "corpusCard needs at least one group column")
    // the per-doc token/quality kernels evaluate in the partial aggregate
    // ON the scan -- compute-dense (Rebalance doc); avg(quality) partials
    // are exact quarters, so the repartition is order-proof
    val grouped = graft.core.Rebalance.computeDense(df)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col(textCol)).cast(LongType)).cast(LongType)
          .as("n_tokens"),
        countDistinct(md5(col(textCol))).as("n_unique"),
        // quality is exact quarters: double partial sums stay exact, so
        // avg is partial-agg-order-proof without a decimal detour
        Semantics.safeRound(avg(TF.qualityScore(col(textCol))), 4)
          .as("mean_quality"))
    // the corpus total comes from a GLOBAL window over the already-grouped
    // frame: one slice-count-sized partition (fine — group keys are
    // low-cardinality slice labels by contract), and crucially ONE corpus
    // scan — a crossJoin with a grouped.agg() branch would re-derive the
    // aggregate lineage and scan the corpus twice unless exchange reuse
    // happens to fire
    val total = sum(col("n_tokens"))
      .over(org.apache.spark.sql.expressions.Window
        .partitionBy(Seq.empty[org.apache.spark.sql.Column]: _*))
      .cast(DoubleType)
    grouped.withColumn("_total_tokens", total)
      .select(groupCols.map(col) ++ Seq(
        col("n_docs"),
        col("n_tokens"),
        Semantics.safeRound(
          col("n_tokens").cast(DoubleType) / col("_total_tokens"), 4)
          .as("token_share"),
        col("n_unique"),
        Semantics.safeRound(
          (col("n_docs") - col("n_unique")).cast(DoubleType) /
            col("n_docs").cast(DoubleType), 4).as("dup_frac"),
        col("mean_quality")): _*)
  }

  /** Cross-group contamination matrix: for every pair of corpus groups
    * (sources, or train/test split labels), the number of DISTINCT word
    * `k`-gram shingles they share and the shingle-set Jaccard — the
    * leakage report a curator reads before trusting a split ("does my test
    * set share phrasing with training data?"). One row per overlapping
    * pair, `g_a < g_b`.
    *
    * Physical shape: ONE corpus-scale shuffle. The shingle kernel feeds a
    * `groupBy(xxhash64(shingle)).agg(collect_set(group))` — the shuffle key
    * is 8 bytes instead of a k-word string, and map-side partial
    * collect_set dedups before the exchange — then each shingle's group
    * set explodes into ordered pairs INCLUDING the (g,g) diagonal, so one
    * tiny |groups|²-bounded aggregate yields both the shared counts and
    * every group's shingle-set size (the diagonal row). No self-join, no
    * corpus persist; the pair frame is materialized eagerly
    * (localCheckpoint, |groups|² rows) so deriving sizes + shared from it
    * cannot rescan the corpus. */
  /** Distinctive terms per slice — smoothed log-odds of a word inside the
    * slice vs the rest of the corpus (the "what makes source A different"
    * report; raw per-slice frequency just surfaces stopwords). Odds on
    * both sides use +1 smoothing over exact integer counts, so the only
    * float op is one ln of an integer ratio — engine-portable after
    * safeRound. Counts flow explode → (group, word) aggregate → two joins
    * on vocab-sized frames (the word-marginal join stays a plain shuffle
    * join — at corpus scale the vocabulary can exceed broadcast range);
    * the top-k cut runs on the ROUNDED score so rank boundaries are
    * deterministic cross-engine. */
  def distinctiveTerms(df: DataFrame, textCol: String, groupCol: String,
      topK: Int = 10, minCount: Long = 5L, scale: Int = 4): DataFrame = {
    val words = df.select(col(groupCol),
      explode(split(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")),
        " ")).as("word"))
    val cgw = words.groupBy(col(groupCol), col("word"))
      .agg(count(lit(1)).as("c_gw"))
    val ng = cgw.groupBy(col(groupCol)).agg(sum(col("c_gw")).as("_ng"))
    val cw = cgw.groupBy(col("word")).agg(sum(col("c_gw")).as("_cw"))
    val total = ng.agg(sum(col("_ng")).as("_nt"))
    val inOdds = (col("c_gw") + 1).cast(DoubleType) /
      (col("_ng") - col("c_gw") + 1).cast(DoubleType)
    val restC = col("_cw") - col("c_gw")
    val restN = col("_nt") - col("_ng")
    val outOdds = (restC + 1).cast(DoubleType) /
      (restN - restC + 1).cast(DoubleType)
    val scored = cgw.filter(col("c_gw") >= minCount)
      .join(broadcast(ng), Seq(groupCol))
      .join(cw, Seq("word"))
      .crossJoin(broadcast(total))
      .select(col(groupCol), col("word"), col("c_gw"),
        Semantics.safeRound(log(inOdds) - log(outOdds), scale).as("score"))
    graft.core.TopK.perKey(scored, Seq(groupCol), topK,
      Seq(col("score").desc, col("word").asc))
      .select(col(groupCol), col("word"), col("c_gw"), col("score"),
        col("rank_in_key"))
  }

  /** Per-(slice, category) entropy terms with the transcendental part
    * pre-quantized to a long: `tm_e15 ≈ p·ln(p)·1e15`. The e15 longs are
    * the single source of truth a verification twin can replay — summing
    * and scaling them is pure integer arithmetic, so no libm `ln` ulp
    * (Java `Math.log` vs C `log` differ in the last bit) can ever surface
    * in a comparison. Columns: slice, cat, c, n, n_cats, tm_e15. */
  def sliceEntropyTermsE15(df: DataFrame, sliceCol: String,
      catCol: String): DataFrame = {
    val counts = df.groupBy(col(sliceCol), col(catCol))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col(sliceCol))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_cats"))
    val p = col("c").cast(DoubleType) / col("n").cast(DoubleType)
    counts.join(broadcast(totals), Seq(sliceCol))
      .select(col(sliceCol), col(catCol), col("c"), col("n"), col("n_cats"),
        floor(p * log(p) * lit(1e15) + lit(0.5)).cast(LongType).as("tm_e15"))
  }

  def sourceOverlap(df: DataFrame, textCol: String, groupCol: String,
      k: Int = 3): DataFrame = {
    val pairs = graft.core.Rebalance.computeDense(df)
      .select(col(groupCol).as("_g"),
        explode(graft.operators.MinHashDedup.shingles(col(textCol), k))
          .as("_sh"))
      .groupBy(xxhash64(col("_sh")).as("_h"))
      .agg(collect_set(col("_g")).as("_gs"))
      .select(explode(expr(
        """flatten(transform(_gs, a ->
          |  transform(filter(_gs, b -> b >= a), b ->
          |    named_struct('g_a', a, 'g_b', b))))""".stripMargin)).as("_p"))
      .groupBy(col("_p.g_a").as("g_a"), col("_p.g_b").as("g_b"))
      .agg(count(lit(1)).as("n_shared"))
      .localCheckpoint()
    val sizes = pairs.filter(col("g_a") === col("g_b"))
      .select(col("g_a").as("_g"), col("n_shared").as("n"))
    pairs.filter(col("g_a") < col("g_b"))
      .join(broadcast(sizes.select(col("_g").as("g_a"), col("n").as("_na"))),
        Seq("g_a"))
      .join(broadcast(sizes.select(col("_g").as("g_b"), col("n").as("_nb"))),
        Seq("g_b"))
      .select(col("g_a"), col("g_b"), col("n_shared"),
        Semantics.safeRound(col("n_shared").cast(DoubleType) /
          (col("_na") + col("_nb") - col("n_shared")).cast(DoubleType), 4)
          .as("jaccard"))
  }

  /** Per-document n-gram NOVELTY against everything ingested before it
    * (order = ascending `idCol`): a shingle is novel in the FIRST document
    * (min id) that contains it, so novelty = novel distinct shingles /
    * distinct shingles. The corpus-freshness signal a crawl pipeline
    * tracks batch over batch — a feed whose novelty decays to ~0 is
    * re-crawling itself (dedup-adjacent, but graded, not binary).
    * Exact: one explode → distinct → (min-id per shingle) aggregate →
    * per-doc BIGINT ratio at e4. Docs with no shingles (< n words) emit
    * 0 of 0 → novelty null. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // NOT rebalanced: the shingle explode feeds a distinct that shuffles
    // the exploded relation anyway; pre-shuffling the raw text measured
    // net-negative (kernel mass ~ text-serialize mass on this path)
    val sh = df.select(col(idCol).as("_id"),
        explode(graft.operators.MinHashDedup.shingles(col(textCol), n))
          .as("_sh"))
      .distinct()
    val firstSeen = sh.groupBy(col("_sh")).agg(min(col("_id")).as("_first"))
    val perDoc = sh.join(firstSeen, Seq("_sh"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_first") === col("_id"), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol))
      .join(perDoc, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_e4",
        when(col("n_shingles") > 0,
          expr("(n_novel * 10000) div n_shingles").cast(LongType)))
  }
}
