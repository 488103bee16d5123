package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches — the 100 TB cardinality/quantile recipe. Exact
  * distinct counts need a full shuffle of every distinct value; sketches cut
  * that to a few KB per group and, critically, MERGE: build per-partition
  * (per-day, per-source) sketches once, then answer any rollup by sketch
  * union without rescanning the data. All built on Spark's native
  * DataSketches HLL / approx_percentile expressions (codegen'd, partial-
  * aggregable), no UDFs.
  *
  * Estimates are engine-specific (rows-only gate in Verify); SketchSpec
  * asserts accuracy vs exact answers and the union/merge algebra.
  */
object Sketches {

  /** Per-group HLL sketch of `valueCol` — a binary column, storable (e.g. as
    * a parquet "sketch table") and mergeable later. lgK 12 ≈ 1.6% error. */
  def distinctSketches(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Roll up stored sketches to a coarser grouping: union the binaries and
    * estimate — no rescan of the base data. */
  def mergeDistinct(sketches: DataFrame, groupCols: Seq[String],
      sketchCol: String = "sketch"): DataFrame =
    sketches.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col(sketchCol), lit(false)))
        .as("distinct_est"))

  /** Trailing-`n`-day distinct estimate per day from DAILY sketches: each
    * daily sketch fans out to the ≤n windows it contributes to (explode
    * over a bounded date sequence — the same equi-join shape as the exact
    * q_rolling_distinct, no nested-loop join), then one sketch union per
    * window day. The 100 TB shape this buys: the daily sketch table is
    * KB-sized per group, so the rolling report is maintained WITHOUT
    * rescanning events — persist the per-day sketches once, union forever;
    * the exact twin must re-reduce (day, user) pairs over the full window
    * every refresh. Window days with no preceding full history estimate
    * over whatever days exist (same convention as the exact twin). */
  def rollingDistinctEstimate(daily: DataFrame, dayCol: String, n: Int,
      sketchCol: String = "sketch"): DataFrame = {
    require(n >= 1, "window must be at least 1 day")
    val observed = daily.select(col(dayCol)).distinct()
    mergeDistinct(
      daily.select(
          explode(sequence(col(dayCol), date_add(col(dayCol), n - 1)))
            .as(dayCol),
          col(sketchCol))
        .join(observed, Seq(dayCol), "left_semi"), // trim phantom tail days
      Seq(dayCol), sketchCol)
  }

  /** Approximate quantiles at scan cost (one pass, mergeable digest).
    * `accuracy` trades memory for error: err <= 1/accuracy. */
  def approxQuantiles(c: Column, probs: Seq[Double],
      accuracy: Int = 10000): Column =
    percentile_approx(c, array(probs.map(lit): _*), lit(accuracy))

  // ---- count-min: mergeable heavy-hitter counting ---------------------------
  //
  // Build per-shard/per-day sketches once, roll up by MERGE, then probe item
  // frequencies without rescanning. Error is one-sided: estimate ∈
  // [true, true + eps·N] with the configured confidence. Uses Spark's own
  // CountMinSketch (spark-sketch module — the same structure
  // DataFrameStatFunctions.countMinSketch builds); the aggregation is a
  // typed Aggregator because Spark SQL ships no CMS SQL surface. The UDFs
  // here are sketch plumbing over tiny per-group binaries, never a
  // corpus-sized hot path.

  import org.apache.spark.sql.{Encoder, Encoders}
  import org.apache.spark.sql.expressions.Aggregator
  import org.apache.spark.util.sketch.CountMinSketch

  private def cmsToBytes(s: CountMinSketch): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    s.writeTo(out)
    out.toByteArray
  }

  private def cmsFromBytes(b: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b))

  /** Aggregator building a CMS from string items. Fixed (eps, confidence,
    * seed) so independently-built sketches stay merge-compatible. */
  private final class CmsBuild(eps: Double, confidence: Double, seed: Int)
      extends Aggregator[String, CountMinSketch, Array[Byte]] {
    def zero: CountMinSketch = CountMinSketch.create(eps, confidence, seed)
    def reduce(b: CountMinSketch, a: String): CountMinSketch = {
      if (a != null) b.add(a)
      b
    }
    def merge(b1: CountMinSketch, b2: CountMinSketch): CountMinSketch = {
      b1.mergeInPlace(b2)
      b1
    }
    def finish(r: CountMinSketch): Array[Byte] = cmsToBytes(r)
    // Kryo (field-level) beats java serialization ~5-10x on these array-
    // backed sketch buffers; bytes only ship between partial and final
    // aggregation, canonical storage bytes still come from writeTo in finish
    def bufferEncoder: Encoder[CountMinSketch] = Encoders.kryo[CountMinSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Aggregator unioning stored CMS binaries (same build params). */
  private final class CmsUnion(eps: Double, confidence: Double, seed: Int)
      extends Aggregator[Array[Byte], CountMinSketch, Array[Byte]] {
    def zero: CountMinSketch = CountMinSketch.create(eps, confidence, seed)
    def reduce(b: CountMinSketch, a: Array[Byte]): CountMinSketch = {
      if (a != null) b.mergeInPlace(cmsFromBytes(a))
      b
    }
    def merge(b1: CountMinSketch, b2: CountMinSketch): CountMinSketch = {
      b1.mergeInPlace(b2)
      b1
    }
    def finish(r: CountMinSketch): Array[Byte] = cmsToBytes(r)
    def bufferEncoder: Encoder[CountMinSketch] = Encoders.kryo[CountMinSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Per-group CMS of `c` (as string) — storable and mergeable. */
  def cmsAgg(c: Column, eps: Double = 0.005, confidence: Double = 0.999,
      seed: Int = 42): Column =
    udaf(new CmsBuild(eps, confidence, seed)).apply(c.cast("string"))

  /** Union stored CMS binaries built with the SAME (eps, confidence, seed). */
  def cmsUnion(c: Column, eps: Double = 0.005, confidence: Double = 0.999,
      seed: Int = 42): Column =
    udaf(new CmsUnion(eps, confidence, seed)).apply(c)

  /** Estimated frequency of `item` in a CMS binary. */
  def cmsEstimate(sketch: Column, item: Column): Column = {
    val f = udf((b: Array[Byte], s: String) =>
      if (b == null || s == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(cmsFromBytes(b).estimateCount(s)))
    f(sketch, item.cast("string"))
  }

  /** Total items a CMS binary has absorbed (the N in the eps·N bound). */
  def cmsTotal(sketch: Column): Column = {
    val f = udf((b: Array[Byte]) =>
      if (b == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(cmsFromBytes(b).totalCount()))
    f(sketch)
  }

  // ---- Bloom filter: mergeable membership screens ---------------------------
  // The decontamination / blocklist primitive at 100 TB: build per-shard
  // Bloom binaries, union them without rescanning, broadcast the result and
  // screen a corpus with zero false NEGATIVES (the guarantee the oracle
  // checks exactly) and a bounded false-positive rate.

  import org.apache.spark.util.sketch.BloomFilter

  private def bloomToBytes(s: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    s.writeTo(out)
    out.toByteArray
  }

  private def bloomFromBytes(b: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))

  /** Same (expectedItems, fpp) on every shard keeps binaries
    * merge-compatible; Spark's implementation hashes with a fixed seed, so
    * sketches are deterministic across runs and partitionings. */
  private final class BloomBuild(expectedItems: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    def reduce(b: BloomFilter, a: String): BloomFilter = {
      if (a != null) b.putString(a)
      b
    }
    def merge(b1: BloomFilter, b2: BloomFilter): BloomFilter = {
      b1.mergeInPlace(b2)
      b1
    }
    def finish(r: BloomFilter): Array[Byte] = bloomToBytes(r)
    def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private final class BloomUnion(expectedItems: Long, fpp: Double)
      extends Aggregator[Array[Byte], BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    def reduce(b: BloomFilter, a: Array[Byte]): BloomFilter = {
      if (a != null) b.mergeInPlace(bloomFromBytes(a))
      b
    }
    def merge(b1: BloomFilter, b2: BloomFilter): BloomFilter = {
      b1.mergeInPlace(b2)
      b1
    }
    def finish(r: BloomFilter): Array[Byte] = bloomToBytes(r)
    def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Per-group Bloom filter of `c` (as string) — storable and mergeable. */
  def bloomAgg(c: Column, expectedItems: Long = 100000L,
      fpp: Double = 0.01): Column =
    udaf(new BloomBuild(expectedItems, fpp)).apply(c.cast("string"))

  /** Union stored Bloom binaries built with the SAME (expectedItems, fpp). */
  def bloomUnion(c: Column, expectedItems: Long = 100000L,
      fpp: Double = 0.01): Column =
    udaf(new BloomUnion(expectedItems, fpp)).apply(c)

  /** Membership probe against a FIXED screen: the filter bytes ship in the
    * task closure and deserialize ONCE per executor (`@transient lazy`),
    * so the per-row cost is just the k hash probes. This is the 100 TB
    * screening shape — a per-row `bloomFromBytes` would rebuild the
    * multi-MB bitset for every record of the corpus. */
  private final class BloomProbe(bytes: Array[Byte])
      extends (String => java.lang.Boolean) with Serializable {
    @transient private lazy val filter = bloomFromBytes(bytes)
    def apply(s: String): java.lang.Boolean =
      if (s == null) null else Boolean.box(filter.mightContainString(s))
  }

  /** Probe `item` against a built screen (bytes from [[bloomAgg]] /
    * [[bloomUnion]] — one bounded row, collected like any fitted model).
    * false = definitely absent; true = present or a false positive (rate
    * ≤ fpp when sized honestly). */
  def bloomMightContain(sketchBytes: Array[Byte], item: Column): Column = {
    val f = udf(new BloomProbe(sketchBytes))
    f(item.cast("string"))
  }

  /** KMV (k-minimum-values, "bottom-k") distinct sketch per key: the k
    * smallest distinct `xxhash64(value)`s. Unlike HLL, a KMV sketch
    * supports SET ALGEBRA — the k smallest of a union of sketches is the
    * bottom-k sketch of the union of the underlying sets, so Jaccard /
    * intersection estimates across segments come from persisted per-
    * segment sketches with NO rescan of the data (Beyer et al., SIGMOD
    * 2007). Deterministic (fixed hash, no RNG), hence replayable.
    * Plan: distinct on (key, hash) then one key-partitioned rank window.
    * Returns (keyCol, _h, _rank) rows, ≤ k per key, rank ascending. */
  def kmvBottomK(df: DataFrame, keyCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("_h").asc)
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), xxhash64(col(valueCol)).as("_h"))
      .distinct()
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= k)
  }

  /** Set-algebra comparison of two segments from their KMV sketches:
    * pool the two bottom-k sketches, keep the k smallest of the union
    * (a TakeOrdered — no full sort), and estimate
    *  - Jaccard = |pool ∩ A ∩ B| / |pool|,
    *  - |A∪B| = (|pool|−1) / u_k where u_k maps the pool's max hash onto
    *    (0,1) (exact when a segment is smaller than k: the sketch IS the
    *    set),
    *  - |A∩B| = Jaccard · |A∪B|.
    * Emits one row: sizes of both sketches, pool size, joint count, and
    * the three estimates (floored to integers / e4-scaled Jaccard). The
    * correctness gate pairs these with exact counts and asserts relative
    * error bounds — the sketch path itself never touches the raw data
    * twice. */
  def kmvCompare(sketchA: DataFrame, sketchB: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val a = sketchA.select(col("_h").as("_ha")).distinct()
    val b = sketchB.select(col("_h").as("_hb")).distinct()
    val pool = a.join(b, col("_ha") === col("_hb"), "full_outer")
      .select(coalesce(col("_ha"), col("_hb")).as("_h"),
        col("_ha").isNotNull.as("_ina"), col("_hb").isNotNull.as("_inb"))
      .orderBy(col("_h").asc).limit(k)
    pool.agg(
        count(lit(1)).as("pool_size"),
        sum(when(col("_ina") && col("_inb"), 1L).otherwise(0L))
          .as("joint"),
        max(col("_h")).as("_hmax"))
      .crossJoin(a.agg(count(lit(1)).as("size_a")))
      .crossJoin(b.agg(count(lit(1)).as("size_b")))
      .withColumn("jaccard_e4",
        // both sketches empty → pool_size = 0; define the comparison as
        // all-zero instead of raising DIVIDE_BY_ZERO under ANSI mode
        when(col("pool_size") > 0,
          floor(col("joint") * lit(10000L).cast(DoubleType) /
            col("pool_size")).cast(LongType)).otherwise(lit(0L)))
      // hash → (0,1): h/2^64 + 1/2 (xxhash64 is signed)
      .withColumn("_uk",
        col("_hmax").cast(DoubleType) / lit(math.pow(2.0, 64)) + lit(0.5))
      .withColumn("union_est",
        when(col("pool_size") < k, col("pool_size")) // sketches exhaustive
          .otherwise(floor((col("pool_size") - 1).cast(DoubleType) /
            col("_uk")).cast(LongType)))
      .withColumn("inter_est",
        when(col("pool_size") > 0,
          floor(col("joint").cast(DoubleType) / col("pool_size") *
            col("union_est").cast(DoubleType)).cast(LongType))
          .otherwise(lit(0L)))
      .select(col("size_a"), col("size_b"), col("pool_size"), col("joint"),
        col("jaccard_e4"), col("union_est"), col("inter_est"))
  }

  // ---- join-size estimation: count-sketch inner product ---------------------
  //
  // The pre-flight question a 100 TB join planner actually asks: how many
  // rows will `A ⋈ B on k` PRODUCE? Exactly Σ_k c_A(k)·c_B(k) — but computing
  // that exactly needs the same key shuffle as the join itself. The classic
  // sketch answer (Cormode & Muthukrishnan's count-min inner product): hash
  // each side's key-frequency vector into a depth×width counter matrix and
  // take min_j Σ_i a_j[i]·b_j[i]. Collisions only ever ADD mass, so the
  // estimate is a guaranteed OVERestimate with expected excess
  // (N_A·N_B − true)/width per row — width is the accuracy knob.
  //
  // Scale shape: the matrix is built from the KEY-COUNT frame (one
  // aggregate per side — cheaper than the join's shuffle because only
  // distinct keys move), the matrix itself is depth·width longs, and the
  // estimate join is matrix×matrix — independent of data size. Two tables
  // can be sketched ONCE (persisted like the HLL tables) and every
  // candidate join between them priced without touching data again.

  /** depth×width frequency sketch of a join key: rows (_j, _b, _c) where
    * `_c` sums the counts of all keys hashing to bucket `_b` under hash
    * row `_j`. Deterministic (xxhash64 seeded by row index). */
  def keyFreqSketch(df: DataFrame, keyCol: String, depth: Int = 5,
      width: Int = 131072): DataFrame = {
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("_k")).agg(count(lit(1)).as("_c"))
    counts
      .select(explode(sequence(lit(0), lit(depth - 1))).as("_j"),
        col("_k"), col("_c"))
      .groupBy(col("_j"),
        pmod(xxhash64(col("_k"), col("_j")), lit(width.toLong)).as("_b"))
      .agg(sum(col("_c")).as("_c"))
  }

  /** Estimated |A ⋈ B| from two [[keyFreqSketch]] frames (built with the
    * SAME depth/width): one row, `est_pairs` = min over hash rows of the
    * bucket-wise inner product. Never underestimates the true size. */
  def joinSizeEstimate(sketchA: DataFrame, sketchB: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    // decimal accumulation: long·long products over petabyte-scale counts
    // would overflow (ANSI mode raises, legacy silently wraps)
    val d = (c: Column) => c.cast(DecimalType(38, 0))
    sketchA.select(col("_j"), col("_b"), col("_c").as("_ca"))
      .join(sketchB.select(col("_j"), col("_b"), col("_c").as("_cb")),
        Seq("_j", "_b"))
      .groupBy(col("_j"))
      .agg(sum(d(col("_ca")) * d(col("_cb"))).as("_ip"))
      // disjoint/empty sketches share no (_j,_b) buckets: the join yields
      // zero rows and min() over them is null — that prices to 0 pairs
      .agg(coalesce(min(col("_ip")), lit(0)).cast(LongType).as("est_pairs"))
  }
}
