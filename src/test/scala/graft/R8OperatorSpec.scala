package graft

import org.apache.spark.sql.functions._
import graft.operators.ExactQuantile

/** Round-8 operator coverage: ExactQuantile hardening (non-finite values,
  * null group keys, cutoff bounds) and the light/heavy group routing. */
class R8OperatorSpec extends SparkSuite {
  import spark.implicits._

  /** The exact k-th smallest through the multi-rank entry point. */
  private def kth(df: org.apache.spark.sql.DataFrame, c: String, k: Long,
      bins: Int = 256, directCutoff: Long = 20000L): Double =
    ExactQuantile.kthSmallestMulti(df, c, Seq(k), bins, directCutoff)
      .head().getDouble(1)

  // ---- ExactQuantile: non-finite values ----

  test("kthSmallest excludes null, NaN and +-Inf (documented semantics)") {
    val df = Seq[java.lang.Double](5.0, Double.PositiveInfinity, 1.0,
      Double.NaN, Double.NegativeInfinity, 3.0, null).toDF("v")
    // finite survivors sorted: 1.0, 3.0, 5.0
    assert(kth(df, "v", 1) == 1.0)
    assert(kth(df, "v", 2) == 3.0)
    assert(kth(df, "v", 3) == 5.0)
    // and the rank space is exactly the finite count
    intercept[IllegalArgumentException] {
      kth(df, "v", 4)
    }
  }

  test("kthSmallest with Inf narrows instead of looping (small cutoff)") {
    // pre-fix behavior: an Inf survivor made (v-lo)/(hi-lo) collapse all
    // buckets and the narrowing loop resubmitted jobs forever; the filter
    // plus the 64-round guard make this terminate with the right answer
    val df = (1 to 5000).map(_.toDouble).toDF("v")
      .unionAll(Seq(Double.PositiveInfinity, Double.NegativeInfinity)
        .toDF("v"))
    assert(kth(df, "v", 2500, bins = 16,
      directCutoff = 100L) == 2500.0)
  }

  test("quantilePerGroup excludes non-finite values per group") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("a", Double.PositiveInfinity), ("a", Double.NaN),
      ("b", 10.0), ("b", Double.NegativeInfinity)).toDF("g", "v")
    val got = ExactQuantile.quantilePerGroup(df, Seq("g"), "v", 1, 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 2.0, "b" -> 10.0))
  }

  test("equiDepthBucketize ignores non-finite values") {
    val df = ((1 to 100).map(_.toDouble) :+ Double.PositiveInfinity)
      .toDF("v")
    val got = ExactQuantile.equiDepthBucketize(df, "v", b = 4,
      directCutoff = 10L)
    assert(got.count() == 100L)
    assert(got.agg(countDistinct(col("bin"))).head().getLong(0) == 4L)
  }

  // ---- ExactQuantile: null group keys ----

  test("quantilePerGroup keeps null group keys (GROUP BY semantics)") {
    val df = Seq[(java.lang.Long, Double)](
      (1L, 1.0), (1L, 2.0), (1L, 3.0),
      (null, 5.0), (null, 7.0), (null, 9.0)).toDF("g", "v")
    val got = ExactQuantile.quantilePerGroup(df, Seq("g"), "v", 1, 2)
      .collect().map(r => (if (r.isNullAt(0)) -999L else r.getLong(0))
        -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 2.0, -999L -> 7.0))
  }

  test("quantilePerGroup null group keys route through the HEAVY path too") {
    val df = ((1 to 300).map(i => (null: java.lang.Long, i.toDouble)) ++
      Seq((java.lang.Long.valueOf(1L), 42.0))).toDF("g", "v")
    // cutoff 50 forces the 300-row null group into histogram narrowing
    val got = ExactQuantile.quantilePerGroup(df, Seq("g"), "v", 1, 2,
        bins = 8, directCutoff = 50L)
      .collect().map(r => (if (r.isNullAt(0)) -999L else r.getLong(0))
        -> r.getDouble(1)).toMap
    assert(got == Map(-999L -> 150.0, 1L -> 42.0))
  }

  // ---- ExactQuantile: light/heavy routing ----

  test("quantilePerGroup light and heavy routes agree on every group") {
    // 60 groups x 40 rows; cutoff 4096 sends all through the light path,
    // cutoff 10 forces all through narrowing — same answer, any route
    val df = (0 until 60).flatMap(g =>
      (1 to 40).map(i => (g.toLong, (i * (g + 3) % 101).toDouble)))
      .toDF("g", "v")
    def run(cutoff: Long) =
      ExactQuantile.quantilePerGroup(df, Seq("g"), "v", 9, 10,
        bins = 8, directCutoff = cutoff)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(run(4096L) == run(10L))
  }

  test("rank selection: light and heavy routes agree on one group at " +
      "several ranks (ties, rank 1, rank n, non-finite values excluded)") {
    val finite = (1 to 3000).map(i => ((i * 48271L) % 611).toDouble) ++
      Seq.fill(400)(42.0) // tie block spanning many ranks
    val df = (finite.map(java.lang.Double.valueOf) ++ Seq[java.lang.Double](
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, null))
      .toDF("v")
    val sorted = finite.sorted
    val n = sorted.length.toLong
    val tieRanks = sorted.zipWithIndex.collect {
      case (v, i) if v == 42.0 => i + 1L }
    val ks = Seq(1L, tieRanks.head, tieRanks(200), tieRanks.last, n / 2,
      n - 1, n)
    def run(cutoff: Long): Map[Long, Double] =
      ExactQuantile.kthSmallestMulti(df, "v", ks, bins = 4,
          directCutoff = cutoff)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val light = run(n + 1) // the whole column in one collect_list
    val heavy = run(50L)   // several narrowing rounds, then a final pass
    assert(light == heavy)
    ks.foreach(k => assert(light(k) == sorted(k.toInt - 1), s"k=$k"))
    // the rank space is the finite count on both routes
    for (cutoff <- Seq(n + 1, 50L))
      intercept[IllegalArgumentException] {
        ExactQuantile.kthSmallestMulti(df, "v", Seq(n + 1),
          directCutoff = cutoff)
      }
  }

  test("quantilePerGroup wide: driver state bounded by HEAVY groups only") {
    // 5k groups of 3 rows (light, distributed) + 1 group of 500 (heavy)
    val light = (0 until 5000).flatMap(g =>
      (1 to 3).map(i => (g.toLong, (g + i).toDouble)))
    val heavy = (1 to 500).map(i => (-1L, i.toDouble))
    val df = (light ++ heavy).toDF("g", "v").repartition(8)
    val got = ExactQuantile.quantilePerGroup(df, Seq("g"), "v", 1, 2,
      bins = 8, directCutoff = 100L)
    assert(got.count() == 5001L)
    val m = got.filter(col("g") === -1L).head().getDouble(1)
    assert(m == 250.0) // ceil(500/2) = 250th of 1..500
    val g7 = got.filter(col("g") === 7L).head().getDouble(1)
    assert(g7 == 9.0) // values 8,9,10 -> rank ceil(3/2)=2
  }

  // ---- ReplayableHll: estimate pre-merge + sliding window ----

  test("hll estimate is correct on an un-merged unioned register table") {
    import graft.functions.ReplayableHll
    val a = (1 to 400).map(i => s"u-$i").toDF("v")
    val b = (200 to 600).map(i => s"u-$i").toDF("v")
    val ra = ReplayableHll.registers(a, Nil, "v", p = 8)
    val rb = ReplayableHll.registers(b, Nil, "v", p = 8)
    // pre-fix: multiple rows per bucket inflated zeros/s2 silently; the
    // internal pre-merge makes union-then-estimate equal merge-then-estimate
    val viaUnion = ReplayableHll.estimate(ra.unionByName(rb), Nil, p = 8)
      .select("zeros", "s2", "est").head()
    val viaMerge = ReplayableHll.estimate(
      ReplayableHll.merge(ra.unionByName(rb), Nil), Nil, p = 8)
      .select("zeros", "s2", "est").head()
    assert(viaUnion == viaMerge)
  }

  test("hll slidingMerge equals per-window batch registers") {
    import graft.functions.ReplayableHll
    val rows = (1 to 900).map { i =>
      (java.sql.Date.valueOf(f"2024-01-${i % 9 + 1}%02d"), s"user-$i")
    }
    val df = rows.toDF("day", "v")
    val daily = ReplayableHll.registers(df, Seq("day"), "v", p = 8)
    val rolled = ReplayableHll.slidingMerge(daily, "day", Nil, window = 3)
      .collect().map(r => (r.getDate(0).toString, r.getString(1)) ->
        r.getLong(2)).toMap
    // reference: registers built directly over each trailing-3-day slice
    val expected = (1 to 9).flatMap { d =>
      val target = java.sql.Date.valueOf(f"2024-01-$d%02d")
      val slice = rows.filter { case (dt, _) =>
        val diff = target.toLocalDate.toEpochDay - dt.toLocalDate.toEpochDay
        diff >= 0 && diff < 3
      }.toDF("day", "v")
      ReplayableHll.registers(slice, Nil, "v", p = 8)
        .collect().map(r => (target.toString, r.getString(0)) -> r.getLong(1))
    }.toMap
    assert(rolled == expected)
  }

  // ---- ExactQuantile: cutoff bounds ----

  test("directCutoff beyond Int.MaxValue is rejected loudly") {
    val df = Seq(1.0, 2.0).toDF("v")
    intercept[IllegalArgumentException] {
      kth(df, "v", 1,
        directCutoff = Int.MaxValue.toLong + 1)
    }
    intercept[IllegalArgumentException] {
      ExactQuantile.quantilePerGroup(df.withColumn("g", lit(1)), Seq("g"),
        "v", 1, 2, directCutoff = Int.MaxValue.toLong + 1)
    }
  }
}
