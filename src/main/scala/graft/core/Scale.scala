package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** graft's one session policy; every entry point and the shared test
  * session build from here. UTC session time keeps date/timestamp output
  * identical to the oracle's; `nanosAsLong` lets the TIMESTAMP(NANOS)
  * column of `events.parquet` load at all; the UI is off. Callers add only
  * their own extras (app name, FAIR pool scheduling, executor classpath). */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}

/** Compute-dense stage rebalancing. A stage whose per-row COMPUTE dwarfs
  * its scan bytes (model scoring, heavy per-document text kernels) must not
  * inherit the scan's split granularity: parquet splits at ROW-GROUP
  * boundaries, so a small-but-dense file (worst case: one row group) pins
  * the whole kernel to one task no matter how many cores exist — the
  * classic "tiny input, huge compute" shape, invisible to
  * maxPartitionBytes/openCost tuning because a single row group is
  * unsplittable. [[computeDense]] round-robins rows out to the session's
  * default parallelism when (and only when) the incoming plan
  * under-splits; on a 100 TB scan with thousands of splits it's a no-op,
  * so the shuffle tax is paid exactly where it buys wall-clock. */
object Rebalance {
  import org.apache.spark.sql.catalyst.plans.logical._

  /** True iff the optimized logical plan is a leaf plus NARROW operators
    * only — exactly the shapes whose physical plan carries no Exchange.
    * This is [[computeDense]]'s input contract made mechanical: probing
    * partitioning via `df.rdd` is job-free ONLY for exchange-free plans.
    * Under AQE, `Dataset.rdd` on a plan containing an exchange calls
    * getFinalPhysicalPlan(), which eagerly EXECUTES the upstream shuffle/
    * broadcast stages just to read a partition count — and that work runs
    * AGAIN when the frame is later consumed (no stage reuse across
    * separate executions). Leaves cover file scans, cached frames
    * (InMemoryRelation), checkpointed state (LogicalRDD), and local/range
    * relations; the narrow set covers every shape the operators feed in
    * (projection/filter chains, generators, unions, coalesce). Anything
    * else is conservatively NOT scan-side. */
  private def scanSide(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case r: Repartition => !r.shuffle && scanSide(r.child)
    case _: Project | _: Filter | _: Generate | _: Union |
         _: SubqueryAlias | _: Sample =>
      p.children.forall(scanSide)
    case _ => false
  }

  /** Repartition to the session's core count iff the current plan has
    * fewer than half that many partitions. Scan-side (leaf + narrow)
    * inputs only: a frame whose plan already contains an exchange passes
    * through untouched — it exits its shuffle at
    * `spark.sql.shuffle.partitions` anyway, and probing it via `df.rdd`
    * would MATERIALIZE its upstream stages under AQE (see [[scanSide]]) —
    * a silent double execution. For scan-side plans the probe compiles
    * the physical plan but runs no job (spec-pinned with a job-start
    * listener in R13OperatorSpec). Streaming frames pass through
    * untouched (no batch RDD to probe; micro-batch sizing is the
    * trigger's job). */
  def computeDense(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val plan = df.queryExecution.optimizedPlan
    if (!scanSide(plan)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    if (parts * 2 < target) return df.repartition(target)
    // Byte-range splits lie about parallelism on few-row-group files: a
    // 105 MB single-file table splits into ~27 byte ranges, but with 6 row
    // groups only 6 tasks carry rows — the partition count clears the
    // threshold while the kernel still runs 6-wide (row-group boundaries
    // are invisible without reading footers, which a 100 TB driver must
    // not do). When the partition count is below target AND the input is
    // small enough that every core could be fed within one
    // maxPartitionBytes split (total ≤ target × maxPartitionBytes — i.e.
    // Spark itself failed to find `target` splits only because the data
    // is small or lumpy), the round-robin costs at most one small-table
    // shuffle and guarantees the kernel its cores. A genuinely large scan
    // fails the size test and keeps its layout.
    if (parts < target) {
      val maxSplit = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
      val bytes = plan.stats.sizeInBytes
      // absolute cap alongside the per-core formula: maxSplit × target
      // scales linearly with core count (10k cores × 128 MB = 1.25 TB),
      // which would let a terabyte "small-table" round-robin fire on a
      // scan Spark already split reasonably — 8 GiB keeps the one-extra-
      // shuffle promise honest at any cluster size (local[32] threshold,
      // 32 × 128 MB = 4 GiB, is untouched)
      val cap = BigInt(maxSplit) * target min BigInt(8L << 30)
      if (bytes <= cap) return df.repartition(target)
    }
    df
  }
}

/** Skew tooling: when a group/join key is pathologically hot (the classic
  * null-key or whale-customer problem), AQE's skew-join split handles the
  * join side, but a skewed AGGREGATION still funnels one key's rows into
  * one task. Salting splits the hot key into `saltBuckets` sub-keys,
  * aggregates partially per (key, salt), then finishes per key — two small
  * shuffles instead of one stuck straggler. */
object Skew {
  /** Two-phase salted aggregation: numeric sum/count-style specs only
    * (anything expressible as a commutative monoid re-aggregates safely). */
  def saltedAggregate(df: DataFrame, key: Column, saltBuckets: Int,
      sums: Seq[(String, Column)]): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val salted = df.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val partial = salted
      .groupBy(key.as("_key"), col("_salt"))
      .agg(count(lit(1)).as("_n"),
        sums.zipWithIndex.map { case ((_, c), i) => sum(c).as(s"_s$i") }: _*)
    partial.groupBy(col("_key"))
      .agg(sum(col("_n")).as("n"),
        sums.zipWithIndex.map { case ((name, _), i) =>
          sum(col(s"_s$i")).as(name) }: _*)
  }

  /** Key-skew diagnostic: the top-`topK` keys by row count with their share
    * of the table — the report that tells you BEFORE a 100 TB run whether a
    * groupBy/join key needs salting (one hot key owning 30% of the rows
    * means one straggler task owns 30% of the shuffle). One aggregate +
    * TakeOrdered on the key-cardinality frame + a 1-row total broadcast;
    * (count desc, key asc) is a total order so the cut is deterministic. */
  def report(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val total = df.agg(count(lit(1)).as("_total"))
    counts.orderBy(col("n").desc, col(keyCol).asc).limit(topK)
      .crossJoin(broadcast(total))
      .select(col(keyCol), col("n"),
        Semantics.safeRound(
          col("n").cast(org.apache.spark.sql.types.DoubleType) /
            col("_total").cast(org.apache.spark.sql.types.DoubleType), 6)
          .as("share"))
      .orderBy(col("n").desc, col(keyCol).asc)
  }
}

/** Join-fanout guardrail: the pre-flight audit that catches an exploding
  * join BEFORE it runs. An equi-join's output per key is |left(k)|·|right(k)|
  * — one unexpected many-to-many key (dirty dim, default id, null sentinel
  * materialized as a value) turns a 100 TB join into a storage-filling
  * cross blow-up. The audit is two key-count aggregates and a tiny
  * key-cardinality join — trivial next to the join it protects. */
object SafeJoin {
  /** Worst `topK` join keys by produced-row count. */
  def fanoutStats(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, topK: Int = 10): DataFrame = {
    val lc = left.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val rc = right.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("n_right"))
    lc.join(rc, Seq("key"))
      .withColumn("out_rows", col("n_left") * col("n_right"))
      .orderBy(col("out_rows").desc, col("key").asc)
      .limit(topK)
  }

  /** The join, but it throws if any key would fan out beyond
    * `maxOutPerKey` rows — fail in seconds, not after hours of shuffle. */
  def checked(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, maxOutPerKey: Long,
      joinType: String = "inner"): DataFrame = {
    val worst = fanoutStats(left, right, leftKey, rightKey, topK = 1)
      .select(col("key").cast(org.apache.spark.sql.types.StringType),
        col("out_rows")).collect()
    worst.headOption.foreach { r =>
      require(r.getLong(1) <= maxOutPerKey,
        s"join fanout guard: key '${r.getString(0)}' would produce " +
          s"${r.getLong(1)} rows (cap $maxOutPerKey)")
    }
    left.join(right, col(leftKey) === col(rightKey), joinType)
  }

  /** Bloom-reduced shuffle join — the semi-join reduction a selective
    * dimension deserves when it is too big to broadcast but its KEY SET
    * still fits a few MB of bits: build a Bloom filter over the small
    * side's keys (one distributed aggregate; only the filter's bits reach
    * the driver — never the keys), pre-filter the big side with a
    * codegen'd membership probe BEFORE its shuffle, then join. At 100 TB
    * the win is shuffle bytes: probe rows whose key cannot match never
    * leave their input partition. False positives (rate `fpp`) only cost
    * pass-through rows the join itself discards, so the result is EXACTLY
    * the plain join. Inner/semi joins only — pre-filtering the probe side
    * would eat an outer join's unmatched rows. */
  def bloomFilteredJoin(big: DataFrame, small: DataFrame, key: String,
      expectedKeys: Long = 1000000L, fpp: Double = 0.01,
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_semi", "leftsemi")(joinType.toLowerCase),
      s"bloom pre-filter preserves only inner/semi semantics: $joinType")
    // stat.bloomFilter is already an eager aggregate over the small side;
    // on ZERO rows it returns a null buffer (upstream NPE) — and an empty
    // key set makes the inner/semi join empty anyway
    if (small.isEmpty)
      return big.filter(lit(false)).join(small, Seq(key), joinType)
    val bf = small.stat.bloomFilter(key, expectedKeys, fpp)
    val probe = org.apache.spark.sql.GraftColumnBridge.column(
      BloomProbeExpr(org.apache.spark.sql.GraftColumnBridge
        .expression(col(key)), bf))
    big.filter(probe).join(small, Seq(key), joinType)
  }
}

/** Static probe entry + codegen'd expression for [[SafeJoin
  * .bloomFilteredJoin]]: the filter rides the plan as one reference
  * object (same pattern as the ADC LUT stack), the per-row probe is a
  * static call — no boxing, stays inside whole-stage codegen. */
object BloomProbe {
  // explicit overloads: generated Java calls these with UNBOXED operands
  // (Janino's autoboxing is not dependable)
  def contains(bf: org.apache.spark.util.sketch.BloomFilter,
      v: Long): Boolean = bf.mightContainLong(v)
  def contains(bf: org.apache.spark.util.sketch.BloomFilter,
      v: Int): Boolean = bf.mightContainLong(v.toLong)
  def contains(bf: org.apache.spark.util.sketch.BloomFilter,
      v: org.apache.spark.unsafe.types.UTF8String): Boolean =
    bf.mightContainString(v.toString)
  def contains(bf: org.apache.spark.util.sketch.BloomFilter,
      v: Any): Boolean =
    v match {
      case l: java.lang.Long => bf.mightContainLong(l)
      case i: java.lang.Integer => bf.mightContainLong(i.toLong)
      case s: org.apache.spark.unsafe.types.UTF8String =>
        bf.mightContainString(s.toString)
      case other => bf.mightContain(other)
    }
}

private[graft] case class BloomProbeExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    bf: org.apache.spark.util.sketch.BloomFilter)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType
  override protected def nullSafeEval(v: Any): Any =
    BloomProbe.contains(bf, v)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bf,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev,
      c => s"graft.core.BloomProbe.contains($ref, $c)")
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : BloomProbeExpr = copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}

/** Bucketing: pre-shuffling a table ON DISK by join key so repeated joins
  * and aggregations on that key run exchange-free. The write pays one
  * shuffle once; every subsequent join saves one. The 100 TB pattern for
  * fact-to-fact joins that broadcast can't cover. */
object Bucketing {
  /** Bucket-sorted parquet table keyed on `bucketCols`. Two tables bucketed
    * on their join keys with the SAME bucket count sort-merge-join with NO
    * Exchange on either side. `path` makes the table external — the layout
    * a long-lived 100 TB corpus should own, surviving catalog drops. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, path: Option[String] = None): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}

/** Grouped top-k without a group-by-collect or a global sort: one
  * partitioned window whose rank filter Spark rewrites to
  * WindowGroupLimit — per-partition heaps of size k run BEFORE the
  * exchange, so only ≤ k·groups·partitions pre-ranked rows shuffle
  * (the grouped twin of TakeOrderedAndProject). The tiebreak columns
  * must make the order total or results are partitioning-dependent. */
object TopK {
  def perKey(df: DataFrame, keys: Seq[String], k: Int,
      order: Seq[Column]): DataFrame = {
    require(k > 0 && keys.nonEmpty && order.nonEmpty,
      "need positive k, keys, and a total order")
    // withColumn silently REPLACES an existing column — a caller frame
    // that already carries the output name would be corrupted, so refuse
    require(!df.columns.contains("rank_in_key"),
      "perKey adds output column 'rank_in_key' but the frame already " +
        "has one — rename it first")
    val rk = Names.fresh("_rank", df.columns)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rk, row_number().over(w))
      .filter(col(rk) <= k)
      .withColumnRenamed(rk, "rank_in_key")
  }
}

/** Helper-column naming: a fresh name that cannot collide with anything
  * already on the caller's frame (withColumn replaces silently). */
object Names {
  def fresh(base: String, existing: Seq[String]): String = {
    val cols = existing.toSet
    if (!cols(base)) base
    else Iterator.from(1).map(i => s"$base$i").find(c => !cols(c)).get
  }
}
