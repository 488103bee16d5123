package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bfs, SetSimJoin}
import graft.query.QueryService

/** Round-11 pins: StageOnce's cache revalidation (a swept/deleted fixture
  * self-heals instead of handing back a dead path) and per-run scratch
  * paths, the vocabulary injectivity pre-screen for the 64-bit set-sim
  * encoding, SmallGraph's null-id decline (fast path refuses, distributed
  * SQL semantics answer), and the profile operators' Expand-free exact
  * distinct counts (two thin aggregations must equal countDistinct —
  * including the ±0.0 normalization the string compare needs). */
class R11OperatorSpec extends SparkSuite {
  import spark.implicits._

  test("StageOnce revalidates on cache hit: an externally deleted " +
      "fixture is rebuilt, not handed back as a dead path") {
    val marks = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(): String =
      graft.entry.StageOnce.dir(spark, sfDir, "r11_revalidate_fixture") {
        p =>
          marks.incrementAndGet()
          Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(p)
      }
    val p1 = build()
    assert(build() == p1 && marks.get() == 1) // memoized
    // simulate a concurrent session's age sweep / OS tmp cleaner
    val hp = new org.apache.hadoop.fs.Path(p1)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(hp, true)
    val p2 = build()
    assert(p2 == p1, "path is a pure function of (sf, appId, name)")
    assert(marks.get() == 2, "deleted fixture must rebuild")
    assert(spark.read.parquet(p2).count() == 3L)
  }

  test("StageOnce.scratch is appId-scoped and build-free") {
    val p = graft.entry.StageOnce.scratch(spark, sfDir, "r11_state")
    assert(p.contains(spark.sparkContext.applicationId),
      "scratch must be keyed by this run's applicationId")
    assert(p.endsWith("/r11_state"))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p)),
      "scratch never creates anything — the caller owns the lifecycle")
  }

  test("assertInjective: vocab size on a clean vocabulary, trivial pass " +
      "for integral sets, 0 for empty, throw naming the collision") {
    val docs = Seq(
      (1L, Seq("a b", "b c", "c d")),
      (2L, Seq("b c", "x y"))).toDF("id", "sh")
    // realized vocabulary = {a b, b c, c d, x y}
    assert(SetSimJoin.assertInjective(docs, "sh") == 4L)
    val pre = docs.select(col("id"),
      transform(col("sh"), t => xxhash64(t)).as("sh"))
    assert(SetSimJoin.assertInjective(pre, "sh") == 4L,
      "integral sets are never encoded — trivially injective")
    val empty = Seq((1L, Seq.empty[String])).toDF("id", "sh")
    assert(SetSimJoin.assertInjective(empty, "sh") == 0L)
    // a genuine xxhash64 collision is not constructible on demand, so the
    // failure path is pinned through the injectable hash: length() maps
    // "a b" and "b c" to the same key
    val ex = intercept[IllegalStateException] {
      SetSimJoin.assertInjective(docs, "sh", t => length(t).cast("long"))
    }
    assert(ex.getMessage.contains("NOT injective"))
  }

  test("null edge endpoints decline the small-graph fast path and match " +
      "the distributed loop's ignore-null-edges semantics") {
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq(
      (Option(1L), Option(2L)),
      (Option(2L), Option.empty[Long]), // null dst: SQL joins ignore it
      (Option.empty[Long], Option(3L))) // null src likewise
      .toDF("u", "v")
    val seeds = Seq(1L).toDF("id")
    def run(cutoff: Long) =
      Bfs.distances(verts, "id", edges, "u", "v", seeds,
          driverCutoff = cutoff)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val fast = run(2000000L) // would NPE in the remap without the decline
    assert(fast == run(0L))
    assert(fast == Map(1L -> 0L, 2L -> 1L, 3L -> -1L))
  }

  test("profile distinct counts (Expand-free two-phase pass) equal " +
      "countDistinct, including ±0.0 and all-null columns") {
    val df = Seq[(java.lang.Long, java.lang.Double, String, java.lang.Double)](
      (1L, 0.0, "x", null),
      (2L, -0.0, "y", null),
      (2L, 1.5, null, null),
      (3L, Double.NaN, "x", null),
      (null, Double.NaN, "", null))
      .toDF("k", "d", "s", "allnull")
    val cols = Seq("k", "d", "s", "allnull")
    val expected = df.select(cols.map(c =>
        countDistinct(col(c)).as(c)): _*).head()
    val exp = cols.zipWithIndex.map { case (c, i) =>
      c -> expected.getLong(i)
    }.toMap
    // SQL distinct: -0.0 == 0.0 (so d has {0.0, 1.5, NaN} = 3), '' is a
    // value (s has {x, y, ''} = 3), all-null = 0
    assert(exp == Map("k" -> 3L, "d" -> 3L, "s" -> 3L, "allnull" -> 0L))
    val prof = QueryService.profileTable(df, cols)
      .select(col("column_name"), col("n_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prof == exp)
    val profNum = QueryService.profileNumeric(df, Seq("k", "d", "allnull"))
      .select(col("column_name"), col("n_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(profNum == Map("k" -> 3L, "d" -> 3L, "allnull" -> 0L))
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted " +
      "long sets, including duplicate runs, empties, and disjoint") {
    import graft.functions.SortedIntersectCount.sorted_intersect_count
    val rnd = new scala.util.Random(11)
    val cases = (Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L, 3L), Seq(4L, 5L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      // duplicate runs (an encoding collision could produce these):
      // set semantics count the value once, like array_intersect
      (Seq(1L, 1L, 2L, 5L), Seq(1L, 2L, 2L, 9L)),
      (Seq(Long.MinValue, -7L, 0L, Long.MaxValue),
        Seq(Long.MinValue, 0L, 3L, Long.MaxValue))) ++
      Seq.fill(30)((
        Seq.fill(rnd.nextInt(40))(rnd.nextLong() % 50).distinct.sorted,
        Seq.fill(rnd.nextInt(40))(rnd.nextLong() % 50).distinct.sorted)))
      .map { case (a, b) => (a.sorted, b.sorted) }
    val df = cases.toDF("a", "b")
    val got = df.select(
        sorted_intersect_count(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"fast ${r.getInt(0)} != array_intersect ${r.getInt(1)}"))
  }

  test("fuzzyDedup and jaccardSelfJoin results are unchanged by the " +
      "merge-count verification (counts-only keepPair)") {
    // near-dup family straddling t=0.8 plus exact copies (intra-group
    // path) and a singleton — covers verify, copy groups, and expansion
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy
      (3L, "beta gamma delta epsilon zeta eta theta"),       // drop-first
      (4L, "completely different words entirely here now")).toDF("id", "t")
    val out = graft.operators.MinHashDedup.fuzzyDedup(docs, "id", "t", 0.8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    // {1,2,3} one cluster (survivor 1), 4 alone
    assert(out(1L) == (1L, true) && out(2L) == (1L, false) &&
      out(3L) == (1L, false) && out(4L) == (4L, true))
    val sets = docs.select(col("id"),
      graft.operators.MinHashDedup.shingles(col("t"), 3).as("sh"))
    val pairs = SetSimJoin.jaccardSelfJoin(sets, "id", "sh", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 1-2 identical (J=1 via the intra path); 1-3/2-3 share 5 of 6
    // union shingles: floor(5/6*1e4) = 8333
    assert(pairs == Set((1L, 2L, 10000L), (1L, 3L, 8333L),
      (2L, 3L, 8333L)))
  }

  test("profileTable still gates sample values on the distinct count " +
      "from the new pass") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "cat")
    val prof = QueryService.profileTable(df, Seq("k", "cat"), sampleCap = 2)
      .select(col("column_name"), col("sample_values"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(prof("cat").contains("a|b"))
    assert(prof("k").isEmpty, "numeric columns never sample")
  }
}
