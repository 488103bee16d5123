package graft

import org.apache.spark.sql.functions._
import graft.functions.ReplayableHll
import graft.operators.{ExactQuantile, GlobalIndex}

class R7OperatorSpec extends SparkSuite {
  import spark.implicits._

  /** The exact k-th smallest through the multi-rank entry point. */
  private def kth(df: org.apache.spark.sql.DataFrame, c: String, k: Long,
      bins: Int = 256, directCutoff: Long = 20000L): Double =
    ExactQuantile.kthSmallestMulti(df, c, Seq(k), bins, directCutoff)
      .head().getDouble(1)

  // ---- ReplayableHll ----

  test("replayable hll: registers match a scala reference implementation") {
    val vals = (1 to 500).map(i => s"item-$i")
    val df = vals.toDF("v")
    val got = ReplayableHll.registers(df, Nil, "v", p = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent spelling: JDK MessageDigest, bit arithmetic (not regex)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = vals.map { v =>
      val h = md.digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val bucket = h.substring(0, 2)
      val tail = java.lang.Long.parseUnsignedLong(h.substring(2, 18), 16)
      val rho = if (tail == 0L) 64 else
        math.min(java.lang.Long.numberOfLeadingZeros(tail) + 1, 64)
      bucket -> rho.toLong
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(got == expected)
  }

  test("replayable hll: merge of arbitrary splits equals whole-set registers") {
    val df = (1 to 900).map(i => (i, s"u${i % 331}")).toDF("i", "v")
    val whole = ReplayableHll.registers(df, Nil, "v", p = 8)
    val parts = (0 until 3).map(k =>
      ReplayableHll.registers(df.filter(col("i") % 3 === k), Nil, "v", p = 8))
    val merged = ReplayableHll.merge(parts.reduce(_ unionByName _), Nil)
    assert(whole.exceptAll(merged).isEmpty && merged.exceptAll(whole).isEmpty)
  }

  test("replayable hll: estimate accuracy and null handling") {
    val df = ((1 to 2000).map(i => s"k${i % 777}") :+ null)
      .toDF("v")
    val est = ReplayableHll.estimate(
      ReplayableHll.registers(df, Nil, "v", p = 12), Nil, p = 12)
      .head()
    val e = est.getAs[Double]("est")
    assert(math.abs(e - 777.0) / 777.0 <= 0.05, s"est=$e exact=777")
    // zeros + nonempty == m, s2 positive
    assert(est.getAs[Long]("zeros") >= 0L)
  }

  test("replayable hll: rho spec handles the all-zero tail cap") {
    // no real md5 collapses 64 bits to zero in a test-sized corpus; prove
    // the column kernel itself on a synthetic frame instead: registers of
    // one value must produce exactly one bucket with 1 <= r <= 64
    val one = ReplayableHll.registers(Seq("x").toDF("v"), Nil, "v", p = 8)
      .collect()
    assert(one.length == 1 && one(0).getLong(1) >= 1L && one(0).getLong(1) <= 64L)
  }

  // ---- ExactQuantile ----

  test("exact kth: agrees with sort on duplicates-heavy and uniform data") {
    val data = (1 to 5000).map(i => ((i * 2654435761L) % 997).toDouble / 7.0) ++
      Seq.fill(500)(42.0) // heavy tie block
    val df = data.toDF("x")
    val sorted = data.sorted
    for (k <- Seq(1, 500, 2750, 5499, data.length)) {
      val got = kth(df, "x", k.toLong,
        bins = 16, directCutoff = 100L) // force several narrowing rounds
      assert(got == sorted(k - 1), s"k=$k got=$got want=${sorted(k - 1)}")
    }
  }

  test("exact kth: all-equal column and tiny survivor sets") {
    val df = Seq.fill(100)(3.14).toDF("x")
    assert(kth(df, "x", 57L) == 3.14)
    val two = Seq(1.0, 2.0).toDF("x")
    assert(kth(two, "x", 1L, bins = 2,
      directCutoff = 1L) == 1.0)
    assert(kth(two, "x", 2L, bins = 2,
      directCutoff = 1L) == 2.0)
  }

  test("exact kth multi: shared pass equals per-rank calls; nulls skipped") {
    val data = (1 to 3000).map(i => ((i * 48271L) % 2311).toDouble)
    val df = data.map(Option(_)).toDF("x")
      .unionByName(Seq(Option.empty[Double]).toDF("x"))
    val sorted = data.sorted
    val ks = Seq(1L, 750L, 1500L, 2250L, 3000L)
    val got = ExactQuantile.kthSmallestMulti(df, "x", ks,
      bins = 8, directCutoff = 200L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ks.foreach(k => assert(got(k) == sorted(k.toInt - 1), s"k=$k"))
  }

  test("equi-depth bucketize: matches brute-force rank cuts; all-equal edge") {
    val data = (1 to 2000).map(i => (i.toLong, ((i * 48271) % 631).toDouble))
    val df = data.toDF("id", "x")
    val sorted = data.map(_._2).sorted
    val ranks = (1 until 4).map(i => (i.toLong * 2000 + 3) / 4)
    val cuts = ranks.map(r => sorted(r.toInt - 1)).distinct.sorted
    val expected = data.map { case (id, v) =>
      id -> cuts.count(v > _).toLong }.toMap
    val got = ExactQuantile.equiDepthBucketize(df, "x", b = 4,
        bins = 8, directCutoff = 100L)
      .select(col("id"), col("bin"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    data.foreach { case (id, _) => assert(got(id) == expected(id), s"id=$id") }
    val flat = ExactQuantile.equiDepthBucketize(
      Seq.fill(50)(7.0).zipWithIndex.map(_.swap).toDF("id", "x"), "x", b = 8)
    assert(flat.select(col("bin")).distinct().head().getLong(0) == 0L)
  }

  test("per-group quantile: narrowing equals driver sort across skewed groups") {
    // group sizes 30 / 3000 / 1 / duplicate-heavy; cutoff forces rounds
    // on the big group while small ones take the direct path
    val data =
      (1 to 30).map(i => ("a", (i * 13 % 17).toDouble)) ++
      (1 to 3000).map(i => ("b", ((i * 48271) % 977).toDouble)) ++
      Seq(("c", 42.0)) ++
      (1 to 400).map(_ => ("d", 7.0))
    val df = data.toDF("g", "x")
    for ((num, den) <- Seq((1, 2), (9, 10), (1, 1), (1, 100))) {
      val got = graft.operators.ExactQuantile.quantilePerGroup(
          df, Seq("g"), "x", num, den, bins = 8, directCutoff = 100L)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      data.groupBy(_._1).foreach { case (g, rows) =>
        val sorted = rows.map(_._2).sorted
        val k = math.max(1L, (sorted.length.toLong * num + den - 1) / den)
        assert(got(g) == sorted(k.toInt - 1), s"g=$g q=$num/$den")
      }
    }
  }

  test("exact kth: rank beyond count fails loudly") {
    intercept[IllegalArgumentException] {
      kth(Seq(1.0, 2.0).toDF("x"), "x", 3L)
    }
  }

  // ---- GlobalIndex ----

  test("global index: dense 0..N-1, order-correct, shard-count independent") {
    val df = (1 to 987).map(i =>
      (i.toLong, s"g${i % 5}", (i * 7919) % 301)).toDF("id", "g", "v")
    val order = Seq(col("g"), col("v").desc, col("id"))
    val a = GlobalIndex.denseIndex(df, order, numShards = 7)
      .select(col("id"), col("global_index"))
    val b = GlobalIndex.denseIndex(df, order, numShards = 3)
      .select(col("id"), col("global_index"))
    // same numbering at different shard counts
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val rows = a.collect().map(r => r.getLong(0) -> r.getLong(1))
    // dense + contiguous
    assert(rows.map(_._2).sorted.toSeq == (0L until 987L))
    // order agreement with a driver-side sort under the same total order
    val expected = (1 to 987).map(i =>
        (i.toLong, s"g${i % 5}", (i * 7919) % 301))
      .sortBy { case (id, g, v) => (g, -v, id) }
      .zipWithIndex.map { case ((id, _, _), idx) => id -> idx.toLong }.toMap
    rows.foreach { case (id, idx) =>
      assert(idx == expected(id), s"id=$id")
    }
  }

  test("prefix sum: matches driver cumsum, shard-count independent") {
    val data = (1 to 800).map(i => (i.toLong, ((i * 7919) % 97).toLong))
    val df = data.toDF("id", "len")
    val expected = data.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (id, len)) => (id, acc + len) }
      .drop(1).toMap
    for (shards <- Seq(1, 4, 9)) {
      val got = graft.operators.GlobalIndex.prefixSum(
          df, Seq(col("id")), "len", numShards = shards)
        .select(col("id"), col("running_total").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      data.foreach { case (id, _) =>
        assert(got(id) == expected(id), s"shards=$shards id=$id")
      }
    }
  }

  test("sequence packing: contiguous fill, boundary and oversized docs") {
    // lens engineered around a budget of 10: doc 3 (len 25) exceeds the
    // budget outright; fills cross boundaries without splitting
    val data = Seq((1L, 4L), (2L, 4L), (3L, 25L), (4L, 1L), (5L, 10L),
      (6L, 2L))
    val got = graft.operators.GlobalIndex.packSequences(
        data.toDF("id", "len"), Seq(col("id")), "len", budget = 10L,
        numShards = 3)
      .select(col("id"), col("pack_id"), col("pos_in_pack"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    // exclusive prefixes: 0,4,8,33,34,44 -> packs 0,0,0,3,3,4
    assert(got(1L) == (0L, 0L) && got(2L) == (0L, 4L) && got(3L) == (0L, 8L))
    assert(got(4L) == (3L, 3L) && got(5L) == (3L, 4L) && got(6L) == (4L, 4L))
  }

  test("global index: single shard and empty input degenerate cleanly") {
    val one = GlobalIndex.denseIndex(Seq((5L, "a")).toDF("id", "s"),
      Seq(col("id")), numShards = 1).select(col("global_index"))
    assert(one.head().getLong(0) == 0L)
    val empty = GlobalIndex.denseIndex(
      Seq.empty[(Long, String)].toDF("id", "s"), Seq(col("id")))
    assert(empty.count() == 0L)
  }
}
