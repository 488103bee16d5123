package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bfs, Dag, KCore, PageRank, SetSimJoin}

/** Round-10 pins: the PageRank/TrustRank integer-exact driver fast paths
  * (fast == distributed by replayed arithmetic, not float luck), the
  * [[graft.operators.SmallGraph]] harness's id-type gate (string ids now
  * ride the order-free fast paths; Binary/mixed ids fall through to the
  * distributed loops and still answer correctly), SetSimJoin's 64-bit
  * token encoding (string-shingle results unchanged; pre-encoded long
  * sets pass through), and StageOnce's build-once contract. */
class R10OperatorSpec extends SparkSuite {
  import spark.implicits._

  test("pagerank driver fast path equals the distributed loop, with and " +
      "without dangling redistribution, duplicate edges included") {
    // doubling/tripling truncated graph (the gate shape): many sinks,
    // plus a deliberate DUPLICATE edge (multiplicity must contribute
    // twice through deg and contrib alike)
    val n = 60L
    val edges = ((0L until n).flatMap { i =>
      Seq(2 * i + 1, 3 * i + 2).filter(_ < n).map(d => (i, d))
    } ++ Seq((0L, 1L))).toDF("src", "dst") // (0,1) now appears twice
    for (dangling <- Seq(true, false)) {
      val fast = PageRank.run(edges, "src", "dst", iterations = 3,
          redistributeDangling = dangling, driverCutoff = 2000000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = PageRank.run(edges, "src", "dst", iterations = 3,
          redistributeDangling = dangling, driverCutoff = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == dist, s"redistributeDangling=$dangling")
      assert(fast.nonEmpty && fast.values.forall(_ >= 0L))
    }
  }

  test("pagerank oversized unit declines the fast path (double-floor " +
      "parity is only proven below the magnitude guard)") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    // unit above the guard: both cutoff settings must agree because BOTH
    // take the distributed loop
    val a = PageRank.run(edges, "src", "dst", iterations = 2,
        unit = 4000000000L, driverCutoff = 2000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = PageRank.run(edges, "src", "dst", iterations = 2,
        unit = 4000000000L, driverCutoff = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("trustrank driver fast path equals the distributed loop, " +
      "including an out-of-graph seed and seed-only dangling return") {
    val n = 60L
    val edges = ((0L until n).flatMap { i =>
      Seq(2 * i + 1, 3 * i + 2).filter(_ < n).map(d => (i, d))
    } ++ Seq((0L, 1L))).toDF("src", "dst") // (0,1) now appears twice
    // seed 9999 is not a graph node: it must not enter the node set or
    // the seed count on either path; seed 45 is a sink
    val seeds = Seq(0L, 1L, 2L, 3L, 4L, 45L, 9999L).toDF("sid")
    val fast = PageRank.trustRank(edges, "src", "dst", seeds, "sid",
        iterations = 3, driverCutoff = 2000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = PageRank.trustRank(edges, "src", "dst", seeds, "sid",
        iterations = 3, driverCutoff = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
    // the node set is the edge endpoints on both paths
    assert(fast.keySet == edges.collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet)
    assert(!fast.contains(9999L))
    // non-seed, non-reached nodes exist and carry 0 teleport mass only
    assert(fast.values.forall(_ >= 0L))
  }

  test("trustrank with every node a seed is pagerank with dangling " +
      "redistribution, on both paths") {
    val n = 60L
    val edges = ((0L until n).flatMap { i =>
      Seq(2 * i + 1, 3 * i + 2).filter(_ < n).map(d => (i, d))
    } ++ Seq((0L, 1L))).toDF("src", "dst")
    val all = edges.select($"src".as("id")).union(edges.select($"dst".as("id")))
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (cutoff <- Seq(2000000L, 0L)) {
      val tr = ranks(PageRank.trustRank(edges, "src", "dst", all, "id",
        iterations = 4, driverCutoff = cutoff))
      val pr = ranks(PageRank.run(edges, "src", "dst", iterations = 4,
        redistributeDangling = true, driverCutoff = cutoff))
      assert(tr == pr, s"driverCutoff=$cutoff")
    }
  }

  test("string ids ride the kcore/bfs/dag fast paths and equal the " +
      "distributed answers (order-free ops only — components declines)") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("u", "v")
    val verts = Seq("a", "b", "c", "d", "z").toDF("id")
    // kcore k=2: the triangle survives, pendant d and isolate z peel
    val coreF = KCore.core(verts, "id", e, "u", "v", k = 2,
      driverCutoff = 2000000L).collect().map(_.getString(0)).toSet
    val coreD = KCore.core(verts, "id", e, "u", "v", k = 2,
      driverCutoff = 0L).collect().map(_.getString(0)).toSet
    assert(coreF == coreD && coreF == Set("a", "b", "c"))
    val seeds = Seq("a").toDF("id")
    def bfs(cutoff: Long) = Bfs.distances(verts, "id", e, "u", "v", seeds,
        driverCutoff = cutoff)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(bfs(2000000L) == bfs(0L))
    assert(bfs(2000000L) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L,
      "d" -> 3L, "z" -> -1L))
    val dagE = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("u", "v")
    val dagV = Seq("a", "b", "c", "x").toDF("id")
    def dag(cutoff: Long) = Dag.topoLevels(dagV, "id", dagE, "u", "v",
        driverCutoff = cutoff)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dag(2000000L) == dag(0L))
    assert(dag(2000000L) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L,
      "x" -> 0L))
  }

  test("binary ids decline every fast path and still answer correctly " +
      "through the distributed loops (the reference-equality trap)") {
    // Array[Byte] keys compare by REFERENCE on the JVM: a driver HashMap
    // remap would silently fail to unify equal ids. SmallGraph must
    // refuse them; the distributed SQL joins compare by value.
    val e = Seq((Array[Byte](1), Array[Byte](2)),
      (Array[Byte](2), Array[Byte](3))).toDF("u", "v")
    val verts = Seq(Array[Byte](1), Array[Byte](2), Array[Byte](3))
      .toDF("id")
    val seeds = Seq(Array[Byte](1)).toDF("id")
    val got = Bfs.distances(verts, "id", e, "u", "v", seeds,
        driverCutoff = 2000000L)
      .collect()
      .map(r => r.getAs[Array[Byte]](0).head ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(1.toByte -> 0L, 2.toByte -> 1L, 3.toByte -> 2L))
    val core = KCore.core(verts, "id", e, "u", "v", k = 1,
        driverCutoff = 2000000L)
      .collect().map(_.getAs[Array[Byte]](0).head).toSet
    assert(core == Set(1.toByte, 2.toByte, 3.toByte))
  }

  test("setsim 64-bit token encoding: string-shingle pairs unchanged, " +
      "pre-encoded long sets pass through with identical results") {
    val docs = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d x")),
      (3L, Seq("q r s"))).toDF("id", "s")
    val fromStrings = SetSimJoin.jaccardSelfJoin(docs, "id", "s", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // pre-encode with the SAME hash the operator uses internally: results
    // must be identical (long-element sets skip the internal encoding)
    val pre = docs.select(col("id"),
      transform(col("s"), t => xxhash64(t)).as("s"))
    val fromLongs = SetSimJoin.jaccardSelfJoin(pre, "id", "s", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromStrings == fromLongs)
    assert(fromStrings == Set((1L, 2L, 5000L)))
  }

  test("StageOnce builds a fixture exactly once per session") {
    val marks = new java.util.concurrent.atomic.AtomicInteger(0)
    val p1 = graft.entry.StageOnce.dir(spark, sfDir, "r10_spec_fixture") {
      p =>
        marks.incrementAndGet()
        Seq(1L, 2L).toDF("x").coalesce(1).write
          .mode("overwrite").parquet(p)
    }
    val p2 = graft.entry.StageOnce.dir(spark, sfDir, "r10_spec_fixture") {
      _ => marks.incrementAndGet(); ()
    }
    assert(p1 == p2)
    assert(marks.get() == 1, "build ran more than once")
    assert(spark.read.parquet(p1).count() == 2L)
  }
}
