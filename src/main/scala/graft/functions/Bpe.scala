package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE (byte-pair-encoding) tokenizer training — the classic
  * word-type formulation (Sennrich et al. 2016): words collapse to
  * (type, frequency) pairs once, and every merge round counts adjacent
  * symbol pairs over the TYPE table weighted by frequency. State per round
  * is vocabulary-sized, not corpus-sized — the property that makes BPE
  * training tractable at 100 TB (the corpus is scanned exactly once, for
  * the type table; all M merge rounds run over the tiny type frame).
  *
  * Determinism: the merge choice orders by (count desc, left asc,
  * right asc) — a total order, so the merge table is engine- and
  * partitioning-independent, and the per-round pair-count aux lets an
  * independent engine re-derive every argmax (the correctness gate).
  *
  * Greedy left-to-right application within a word (`aaa` + merge (a,a) →
  * `[aa, a]`), matching the reference implementations.
  */
object Bpe {

  final case class Merge(round: Int, left: String, right: String, freq: Long)

  /** The (word, freq, symbols) type table: one corpus scan, then
    * vocabulary-sized forever. Words are lowercased `\s+` tokens; symbols
    * start as single characters. */
  def typeTable(df: DataFrame, textCol: String): DataFrame =
    graft.core.Rebalance.computeDense(df)
      .select(explode(split(trim(regexp_replace(lower(col(textCol)),
        "\\s+", " ")), " ")).as("_word"))
      .filter(length(col("_word")) > 0)
      .groupBy(col("_word")).agg(count(lit(1)).as("_freq"))
      .withColumn("_syms", split(col("_word"), ""))

  /** Adjacent-pair counts over a symbolized type table, frequency-weighted.
    * Returns (_a, _b, _cnt). */
  def pairCounts(types: DataFrame): DataFrame =
    types
      .select(col("_freq"), explode(zip_with(
        slice(col("_syms"), lit(1), greatest(size(col("_syms")) - 1, lit(0))),
        slice(col("_syms"), lit(2), greatest(size(col("_syms")) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))).as("_p"))
      .groupBy(col("_p.a").as("_a"), col("_p.b").as("_b"))
      .agg(sum(col("_freq")).as("_cnt"))

  /** One greedy left-to-right merge pass over a symbol array. */
  private[functions] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      array().cast(ArrayType(StringType)),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** One greedy left-to-right merge pass, driver-side twin of
    * [[applyMerge]] (same semantics: `aaa` + (a,a) → `[aa, a]`). */
  private[functions] def mergeWordLocal(syms: Array[String], a: String,
      b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out(out.length - 1) == a && syms(i) == b)
        out(out.length - 1) = a + b
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** Train `numMerges` merges. The corpus is scanned exactly ONCE (for the
    * word-type table); the (type, freq) table is vocabulary-sized —
    * megabytes even for a 100 TB corpus — so it is collected to the driver
    * and all M merge rounds run as the classic incremental pair-count loop
    * (subword-nmt style): pick argmax under the (count desc, left asc,
    * right asc) total order, then touch only the types containing the
    * merged pair. This replaces the earlier one-Spark-job-per-round
    * formulation, whose ~M scheduled jobs made realistic 32k-merge vocabs
    * unusable; the selection order and every emitted count are identical
    * (the `q_bpe_*` gates and [[trainDistributed]] twin pin this).
    *
    * `auxDir`, when set, materializes every round's full pair-count table
    * in one parquet write at the end (the oracle re-derives each argmax
    * from it). `maxTypes` guards the driver collect: vocabularies are
    * naturally bounded (word types, not corpus rows), but a pathological
    * input fails loudly instead of OOMing the driver — pre-filter rare
    * types or raise the cap. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      auxDir: Option[String] = None,
      maxTypes: Int = 5000000): Seq[Merge] = {
    import scala.collection.mutable
    val spark = df.sparkSession
    // collect _syms as Spark computed them (not a driver-side re-split) so
    // char-splitting semantics are bit-identical to the encode path
    val typeRows = typeTable(df, textCol)
      .select(col("_syms"), col("_freq")).collect()
    require(typeRows.length <= maxTypes,
      s"Bpe.train: ${typeRows.length} word types exceed maxTypes=$maxTypes" +
        "; the driver-local merge loop holds the type table in memory — " +
        "pre-filter rare types (min frequency) or raise maxTypes")
    val n = typeRows.length
    val words = new Array[Array[String]](n)
    val freqs = new Array[Long](n)
    var i = 0
    while (i < n) {
      words(i) = typeRows(i).getSeq[String](0).toArray
      freqs(i) = typeRows(i).getLong(1)
      i += 1
    }
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val pairTypes = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addPairs(idx: Int, w: Array[String], sign: Long): Unit = {
      val f = freqs(idx) * sign
      var j = 0
      while (j + 1 < w.length) {
        val p = (w(j), w(j + 1))
        val c = pairCnt.getOrElse(p, 0L) + f
        if (c <= 0L) pairCnt.remove(p) else pairCnt.update(p, c)
        j += 1
      }
    }
    i = 0
    while (i < n) {
      addPairs(i, words(i), 1L)
      var j = 0
      val w = words(i)
      while (j + 1 < w.length) {
        pairTypes.getOrElseUpdate((w(j), w(j + 1)), mutable.BitSet.empty) += i
        j += 1
      }
      i += 1
    }
    val merges = Seq.newBuilder[Merge]
    val auxRows =
      if (auxDir.isDefined)
        new mutable.ArrayBuffer[(String, String, Long, Int)]
      else null
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      if (auxRows != null)
        pairCnt.foreach { case ((a, b), c) => auxRows += ((a, b, c, r)) }
      // argmax under (count desc, left asc, right asc) — one map scan
      var best: (String, String) = null
      var bestC = 0L
      pairCnt.foreach { case (p, c) =>
        if (best == null || c > bestC ||
            (c == bestC && (p._1 < best._1 ||
              (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bestC = c
        }
      }
      if (best == null) exhausted = true
      else {
        merges += Merge(r, best._1, best._2, bestC)
        val affected = pairTypes.getOrElse(best, mutable.BitSet.empty).toArray
        affected.foreach { idx =>
          val old = words(idx)
          addPairs(idx, old, -1L)
          val next = mergeWordLocal(old, best._1, best._2)
          words(idx) = next
          addPairs(idx, next, 1L)
          // membership delta: pairs present before vs after
          val oldSet = mutable.HashSet.empty[(String, String)]
          var j = 0
          while (j + 1 < old.length) { oldSet += ((old(j), old(j + 1))); j += 1 }
          val newSet = mutable.HashSet.empty[(String, String)]
          j = 0
          while (j + 1 < next.length) { newSet += ((next(j), next(j + 1))); j += 1 }
          oldSet.foreach { p =>
            if (!newSet.contains(p)) pairTypes.get(p).foreach { s =>
              s -= idx
              if (s.isEmpty) pairTypes.remove(p)
            }
          }
          newSet.foreach { p =>
            if (!oldSet.contains(p))
              pairTypes.getOrElseUpdate(p, mutable.BitSet.empty) += idx
          }
        }
        r += 1
      }
    }
    auxDir.foreach { d =>
      import spark.implicits._
      auxRows.toSeq.toDF("_a", "_b", "_cnt", "_round")
        .write.mode("overwrite").parquet(d)
    }
    merges.result()
  }

  /** The original one-Spark-job-per-merge-round formulation, kept as the
    * regression twin for [[train]] (CheckpointModeSpec pins bit-identical
    * merge sequences across driver-local / Local / Reliable). Usable when
    * the type table genuinely cannot fit on the driver — at the cost of
    * ~numMerges scheduled jobs. */
  private[graft] def trainDistributed(df: DataFrame, textCol: String,
      numMerges: Int, auxDir: Option[String] = None,
      ckpt: graft.core.Checkpoints.Mode = graft.core.Checkpoints.Local)
      : Seq[Merge] = {
    import graft.core.Checkpoints
    var types = Checkpoints.cut(typeTable(df, textCol), ckpt)
    val merges = Seq.newBuilder[Merge]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val pc = pairCounts(types)
      auxDir.foreach { d =>
        pc.withColumn("_round", lit(r)).write.mode(
          if (r == 0) "overwrite" else "append").parquet(d)
      }
      val top = pc.orderBy(col("_cnt").desc, col("_a").asc, col("_b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += Merge(r, a, b, n)
        val prev = types
        types = Checkpoints.cut(types.withColumn("_syms",
          when(array_contains(col("_syms"), a) &&
            array_contains(col("_syms"), b),
            applyMerge(col("_syms"), a, b)).otherwise(col("_syms"))), ckpt)
        // release the superseded round's checkpoint blocks — without this
        // every round pins another copy of the type table in executor
        // storage (no-op under Reliable: checkpoint files are cleaned by
        // Spark's reference tracker, not by unpersist)
        prev.unpersist()
        r += 1
      }
    }
    merges.result()
  }

  /** Encode a text column with a trained merge list: the codegen'd
    * [[BpeSegments]] kernel runs the character split and all M merge passes
    * in one call, inside one projection (no shuffle — the encoder is a pure
    * scan at any corpus size). */
  def encode(text: Column, merges: Seq[Merge]): Column =
    // fused split+merge kernel: the char-level split materialized one
    // UTF8String per character before r14 — BpeSegments walks byte
    // boundaries in place and slices tokens straight from the input
    // (equivalence spec-pinned against the split+bpe_apply spelling)
    BpeSegments.bpe_segments(
      trim(regexp_replace(lower(text), "\\s+", " ")),
      merges.map(m => (m.left, m.right)))

  /** Persist a merge list as one JSON artifact (the tokenizer file a
    * training job ships with its corpus); `load` restores it for encode.
    * Any Hadoop-visible path works (file://, s3a://, hdfs://). */
  def save(merges: Seq[Merge], spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val json = graft.service.MiniJson.render(merges.map(m => Map(
      "round" -> m.round.toLong, "left" -> m.left, "right" -> m.right,
      "freq" -> m.freq)).toList)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Merge] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val bytes =
      try in.readAllBytes()
      finally in.close()
    graft.service.MiniJson
      .parse(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[List[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
      .map(m => Merge(m("round").asInstanceOf[Long].toInt,
        m("left").asInstanceOf[String], m("right").asInstanceOf[String],
        m("freq").asInstanceOf[Long]))
  }

  /** The learned subword vocabulary: every merge product plus the single
    * characters seen in training, plus the `" "` separator symbol —
    * `encode` works on whitespace-normalized text whose spaces survive as
    * standalone symbols (they never merge: no trained pair contains one),
    * so a vocab-index consumer needs the space token present. */
  def vocab(types: DataFrame, merges: Seq[Merge]): Seq[String] = {
    val chars = types.select(explode(col("_syms")).as("c"))
      .distinct().collect().map(_.getString(0))
    (chars ++ merges.map(m => m.left + m.right) :+ " ").distinct.sorted.toSeq
  }
}
