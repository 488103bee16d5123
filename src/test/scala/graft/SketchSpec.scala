package graft

import org.apache.spark.sql.functions._
import graft.functions.Sketches

class SketchSpec extends SparkSuite {
  import spark.implicits._

  private lazy val events = graft.core.Tables.table(spark, sfDir, "events")

  test("hll estimate lands within 5% of exact distinct count") {
    val exact = events.select(countDistinct(col("user_id"))).head().getLong(0)
    val est = Sketches.distinctSketches(events, Nil, "user_id")
      .select(hll_sketch_estimate(col("sketch"))).head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact <= 0.05, s"est=$est exact=$exact")
  }

  test("union of per-day sketches equals the sketch of the union") {
    // build per-(type, day) sketches, merge to per-type — the stored-rollup
    // path must agree with sketching each type directly
    val daily = Sketches.distinctSketches(
      events.withColumn("day", to_date(col("ts"))),
      Seq("event_type", "day"), "user_id")
    val rolled = Sketches.mergeDistinct(daily, Seq("event_type"))
      .withColumn("distinct_est", col("distinct_est").cast("long"))
    val direct = Sketches.distinctSketches(events, Seq("event_type"), "user_id")
      .select(col("event_type"),
        hll_sketch_estimate(col("sketch")).as("distinct_est"))
    val diff = rolled.join(direct.withColumnRenamed("distinct_est", "d2"),
      "event_type")
      .filter(col("distinct_est") =!= col("d2"))
    assert(diff.isEmpty, "sketch merge is not associative with direct sketching")
  }

  test("cms: sharded-build + union estimates ≥ exact with eps·N cap") {
    val items = (1 to 400).flatMap(i => Seq.fill(1 + i % 7)(s"u${i % 50}"))
    val df = items.zipWithIndex.map { case (u, i) => (i, u) }.toDF("i", "u")
    val whole = df.agg(Sketches.cmsAgg(col("u")).as("sk"))
    // build on even/odd halves, then union — same answers as one build
    val halves = df.withColumn("h", col("i") % 2)
      .groupBy(col("h")).agg(Sketches.cmsAgg(col("u")).as("sk"))
    val merged = halves.agg(Sketches.cmsUnion(col("sk")).as("sk"))
    val exact = items.groupBy(identity).map { case (u, xs) => (u, xs.size.toLong) }
    val n = items.size.toLong
    for ((u, c) <- exact.take(10)) {
      val eW = whole.select(Sketches.cmsEstimate(col("sk"), lit(u)))
        .head().getLong(0)
      val eM = merged.select(Sketches.cmsEstimate(col("sk"), lit(u)))
        .head().getLong(0)
      assert(eW == eM, s"merge changed estimate for $u: $eW vs $eM")
      assert(eM >= c, s"cms underestimated $u: $eM < $c")
      assert(eM <= c + math.ceil(0.005 * n).toLong, s"cms blew eps·N for $u")
    }
    assert(merged.select(Sketches.cmsTotal(col("sk"))).head().getLong(0) == n)
  }

  test("cms/bloom binaries are bit-identical across partitionings") {
    // exercises the Kryo buffer encoders end-to-end: partial buffers ship
    // through the shuffle and merge in arbitrary order, yet the canonical
    // finish() bytes must not depend on partitioning at all
    val df = (1 to 500).map(i => (i.toLong, s"item${i % 83}")).toDF("i", "u")
    def bytesOf(d: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      d.agg(c.as("sk")).head().getAs[Array[Byte]](0).toSeq
    assert(bytesOf(df, Sketches.cmsAgg(col("u"))) ==
      bytesOf(df.repartition(17), Sketches.cmsAgg(col("u"))))
    assert(bytesOf(df, Sketches.bloomAgg(col("u"), 1000L)) ==
      bytesOf(df.repartition(17), Sketches.bloomAgg(col("u"), 1000L)))
    // union of sharded builds reproduces the one-shot build bit-for-bit
    val shards = df.withColumn("h", col("i") % 3)
      .groupBy("h").agg(Sketches.bloomAgg(col("u"), 1000L).as("sk"))
    assert(bytesOf(shards, Sketches.bloomUnion(col("sk"), 1000L)) ==
      bytesOf(df, Sketches.bloomAgg(col("u"), 1000L)))
  }

  test("approx quantiles bracket the exact percentile") {
    val approxRow = events.agg(
      Sketches.approxQuantiles(col("value"), Seq(0.5, 0.95))).head()
    val Seq(p50a, p95a) = approxRow.getSeq[Double](0).toSeq
    val exactRow = events.agg(
      expr("percentile(value, array(0.5, 0.95))")).head()
    val Seq(p50e, p95e) = exactRow.getSeq[Double](0).toSeq
    assert(math.abs(p50a - p50e) / math.max(p50e.abs, 1e-9) < 0.05)
    assert(math.abs(p95a - p95e) / math.max(p95e.abs, 1e-9) < 0.05)
  }

  test("deterministic sample is invariant to partitioning and near-fraction") {
    import graft.functions.Sampling
    val orders = graft.core.Tables.table(spark, sfDir, "orders")
    val s1 = Sampling.deterministicSample(orders, "o_orderkey", 0.1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.deterministicSample(orders.repartition(13), "o_orderkey", 0.1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(s1 == s2)                       // identity-based, not partition-based
    val n = orders.count().toDouble
    assert(math.abs(s1.size / n - 0.1) < 0.05, s"got ${s1.size / n}")
    // growing the corpus never reassigns an existing row
    val half = orders.filter(col("o_orderkey") % 2 === 0)
    val sHalf = Sampling.deterministicSample(half, "o_orderkey", 0.1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(sHalf == s1.filter(_ % 2 == 0))
  }

  test("train/test split is disjoint and exhaustive") {
    import graft.functions.Sampling
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val split = Sampling.trainTestSplit(docs, "doc_id", 0.2)
    assert(split.count() == docs.count())
    val byLabel = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet == Set("train", "test"))
    assert(byLabel.values.sum == docs.count())
  }

  test("mixCorpus: whole-kept source survives intact, caps bite, deterministic") {
    import graft.functions.Sampling
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    val mixed = Sampling.mixCorpus(docs, "doc_id", "text", "source",
      targetTokens = Map("src1" -> 100.0, "src2" -> 1e9), defaultTarget = 200.0)
    // budget ≥ supply → keep_frac 1.0 → every src2 doc survives
    val src2All = docs.filter(col("source") === "src2").count()
    assert(mixed.filter(col("source") === "src2").count() == src2All)
    // a hard cap keeps strictly less than everything
    val src1All = docs.filter(col("source") === "src1").count()
    assert(mixed.filter(col("source") === "src1").count() < src1All)
    // keep fractions are valid probabilities
    assert(mixed.filter(col("_keep_frac") <= 0.0 || col("_keep_frac") > 1.0)
      .isEmpty)
    // identity-hash membership → invariant to partitioning
    val again = Sampling.mixCorpus(docs.repartition(7), "doc_id", "text",
      "source", Map("src1" -> 100.0, "src2" -> 1e9), 200.0)
    val ids1 = mixed.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = again.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("deterministicShuffle: stable across partitionings, seeds give fresh epochs") {
    import graft.functions.Sampling
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"))
    val order1 = Sampling.deterministicShuffle(docs, "doc_id", 1L)
      .collect().map(_.getLong(0)).toSeq
    val order1b = Sampling.deterministicShuffle(docs.repartition(7), "doc_id", 1L)
      .collect().map(_.getLong(0)).toSeq
    assert(order1 == order1b) // partitioning-invariant global order
    val order2 = Sampling.deterministicShuffle(docs, "doc_id", 2L)
      .collect().map(_.getLong(0)).toSeq
    assert(order1 != order2) // a new seed is a fresh epoch
    assert(order1.sorted == order2.sorted) // same membership, permuted
    // actually shuffled, not id order
    assert(order1 != order1.sorted)
  }

  test("ppsSample: ~n rows, heavy items always in, partitioning-invariant") {
    import graft.functions.Sampling
    // total = 999·10 + 1000 = 10990, stride = total/20 ≈ 550: the whale
    // (1000 > stride) is certain; light rows supply the other ~18 draws
    val rows = (1L to 1000L).map(i => (i, if (i == 7L) 1000L else 10L))
    val df = rows.toDF("id", "w")
    val picked = Sampling.ppsSample(df, "id", "w", n = 20L, seed = 3L)
      .select("id").as[Long].collect().toSet
    assert(picked.contains(7L))
    // distinct picks = n minus the whale's extra boundary crossings
    assert(picked.size >= 15 && picked.size <= 21, s"got ${picked.size}")
    val repart = Sampling.ppsSample(df.repartition(7), "id", "w", 20L, 3L)
      .select("id").as[Long].collect().toSet
    assert(picked == repart) // identity-ordered line: partitioning-proof
    // zero-weight rows can never be selected
    val withZero = Sampling.ppsSample(
      df.withColumn("w", when(col("id") <= 500, 0L).otherwise(col("w"))),
      "id", "w", 20L, 3L).select("id").as[Long].collect()
    assert(withZero.forall(_ > 500))
  }

  test("mixCorpusTemperature: alpha=1 keeps natural proportions; flattening boosts rare sources") {
    import graft.functions.Sampling
    val docs = graft.core.Tables.table(spark, sfDir, "documents")
    // alpha=1 → weight ∝ supply → keep_frac identical across sources
    // (budget·(n_i/Σn)/n_i = budget/Σn)
    val natural = Sampling.mixCorpusTemperature(
      docs, "doc_id", "text", "source", alpha = 1.0, totalBudget = 5000.0)
    val fracs = natural.select("source", "_keep_frac").distinct().collect()
      .map(_.getDouble(1))
    assert(fracs.max - fracs.min < 1e-12,
      s"alpha=1 must give one shared fraction: ${fracs.toSeq}")
    // alpha<1 gives rare sources a HIGHER keep fraction than abundant ones
    val flat = Sampling.mixCorpusTemperature(
      docs, "doc_id", "text", "source", alpha = 0.3, totalBudget = 5000.0)
    val bySrc = flat.select("source", "_keep_frac").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val supply = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rare = supply.minBy(_._2)._1
    val rich = supply.maxBy(_._2)._1
    if (supply(rare) < supply(rich)) // strict only when supplies differ
      assert(bySrc(rare) >= bySrc(rich))
    // budget ≥ total supply → everything kept
    val all = Sampling.mixCorpusTemperature(
      docs, "doc_id", "text", "source", alpha = 0.5, totalBudget = 1e12)
    assert(all.count() == docs.count())
    // partitioning-invariant membership, like every sampler here
    val again = Sampling.mixCorpusTemperature(docs.repartition(7),
      "doc_id", "text", "source", alpha = 0.3, totalBudget = 5000.0)
    assert(again.select("doc_id").collect().map(_.getLong(0)).toSet ==
      flat.select("doc_id").collect().map(_.getLong(0)).toSet)
  }
}
