package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Table-driven tests of the reference's documented micro-semantics
  * (SURVEY §5.2 item 2). */
class OperatorSpec extends SparkSuite {
  import spark.implicits._

  private def people = Seq(
    (1L, "alice", "a@x.com", 30, 50000.0),
    (2L, "bob", "", 40, 60000.0),        // empty email = missing
    (3L, null.asInstanceOf[String], "c@x.com", 25, 70000.0),
    (4L, "dana", "d@x.com", 35, -100.0)  // negative salary
  ).toDF("id", "name", "email", "age", "salary")

  test("Winsorizer clamps to exact percentiles, preserves nulls and rows") {
    val df = ((1 to 100).map(i => (i.toLong, Some(i.toDouble))) :+
      (101L, Option.empty[Double])).toDF("id", "v")
    val out = Winsorizer(Seq("v"), 0.1, 0.9)(df)
    val Array(lo, hi) = df.selectExpr("percentile(v, array(0.1, 0.9))")
      .head().getSeq[Double](0).toArray
    assert(out.count() == 101)
    val stats = out.agg(min(col("v")), max(col("v")),
      sum(when(col("v").isNull, 1).otherwise(0))).head()
    assert(stats.getDouble(0) == lo && stats.getDouble(1) == hi)
    assert(stats.getLong(2) == 1L) // the null row stayed null
    // interior values untouched
    assert(out.filter(col("id") === 50L).head().getDouble(1) == 50.0)
  }

  test("GroupMeanImputer fills nulls with the per-group mean only") {
    val df = Seq(("a", Some(2.0)), ("a", Some(4.0)), ("a", None),
      ("b", Some(10.0)), ("b", None)).toDF("g", "v")
    val out = GroupMeanImputer(Seq("v"), Seq("g"))(df)
      .groupBy("g").agg(sum(col("v")).as("s")).as[(String, Double)]
      .collect().toMap
    assert(out("a") == 9.0 && out("b") == 20.0) // 2+4+3, 10+10
  }

  test("SnapshotDiff classifies added/removed/changed/unchanged") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val nw = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "text")
    val got = SnapshotDiff.diff(old, nw, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val counts = SnapshotDiff.summary(old, nw, "id", "text")
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 4L && counts("unchanged") == 1L)
  }

  test("applyChanges: upsert replaces, insert adds, delete removes, rest pass") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val changes = Seq((2L, "B", "upsert"), (4L, "d", "upsert"),
      (3L, "ignored", "delete")).toDF("id", "text", "_op")
    val got = SnapshotDiff.applyChanges(base, changes, "id", "_op")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 4L -> "d"))
  }

  test("SnapshotDiff: null content is presence, not absence") {
    val old = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Some("x"))).toDF("id", "text")
    val nw = Seq((1L, Option.empty[String]), (3L, Some("x"))).toDF("id", "text")
    val got = SnapshotDiff.diff(old, nw, "id", "text")
      .as[(Long, String)].collect().toMap
    // null==null content → unchanged; a null-content doc can be removed
    assert(got == Map(1L -> "unchanged", 2L -> "removed", 3L -> "unchanged"))
  }

  test("GroupMeanImputer fills the NULL-key group too") {
    val df = Seq((Option.empty[String], Some(2.0)),
      (Option.empty[String], None), (Some("a"), Some(8.0)))
      .toDF("g", "v")
    val out = GroupMeanImputer(Seq("v"), Seq("g"))(df)
    assert(out.filter(col("g").isNull).agg(sum(col("v"))).head()
      .getDouble(0) == 4.0) // 2 + imputed 2
    assert(out.columns.toSeq == Seq("g", "v")) // helper cols dropped
  }

  test("Winsorizer keeps integer columns integer, bounds stay inside the band") {
    val df = (1 to 100).map(i => (i.toLong, i)).toDF("id", "v")
    val out = Winsorizer(Seq("v"), 0.1, 0.9)(df)
    assert(out.schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // exact percentiles of 1..100 at (0.1, 0.9) are (10.9, 90.1): the
    // integral clamp must use ceil(lo)=11 / floor(hi)=90 — a truncating
    // cast would let 10 (< 10.9, outside the band) survive as the floor
    val (mn, mx) = out.agg(min(col("v")), max(col("v"))).as[(Int, Int)].head()
    assert(mn == 11 && mx == 90)
  }

  test("robustZscore flags far outliers, survives MAD=0, skips the mean-drag trap") {
    import graft.operators.AnomalyDetector
    // 20 inliers near 10 + one huge outlier: classic mean/σ drag — robust
    // stats still flag it
    val df = ((1 to 20).map(i => (i.toLong, 10.0 + (i % 3))) :+ (99L, 1e6))
      .toDF("id", "v")
    val flagged = AnomalyDetector.robustZscore(df, Seq("v"))
      .filter(col("_meta_is_anomaly")).select("id").as[Long].collect()
    assert(flagged.toSeq == Seq(99L))
    // constant column → MAD 0 → nothing flagged (not everything)
    val const = (1 to 10).map(i => (i.toLong, 5.0)).toDF("id", "v")
    assert(AnomalyDetector.robustZscore(const, Seq("v"))
      .filter(col("_meta_is_anomaly")).isEmpty)
  }

  test("containment catches an excerpt that jaccard misses") {
    import graft.operators.NgramJaccard
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (10 to 19).map(i => s"w$i").mkString(" ") // verbatim slice
    val df = Seq((1L, "b", long), (2L, "b", short)).toDF("id", "blk", "text")
    val cont = NgramJaccard.containmentPairsWithinBlocks(
      df, "id", "text", col("blk"), k = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 1.0))) // all of short's shingles hit
    val jac = NgramJaccard.pairsWithinBlocks(
      df, "id", "text", col("blk"), k = 3, threshold = 0.5)
    assert(jac.isEmpty) // jaccard ≈ 8/58 — invisible
  }

  test("QuantileBinner: near-equal buckets, nulls stay null") {
    val df = ((1 to 100).map(i => (i.toLong, Some(i.toDouble))) :+
      (101L, Option.empty[Double])).toDF("id", "v")
    val out = QuantileBinner("v", 4)(df)
    val counts = out.filter(col("bin").isNotNull).groupBy("bin").count()
      .as[(Long, Long)].collect().toMap
    assert(counts.keySet == Set(1L, 2L, 3L, 4L))
    assert(counts.values.forall(c => c >= 24 && c <= 26), counts.toString)
    assert(out.filter(col("id") === 101L).head().isNullAt(2))
  }

  test("NullRemover drop: empty string counts as null") {
    val out = NullRemover("drop")(people)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("NullRemover drop_all drops only fully-missing rows") {
    val df = Seq((1L, "", null.asInstanceOf[String]), (2L, "x", null.asInstanceOf[String]))
      .toDF("id", "a", "b")
    val out = NullRemover("drop_all", Seq("a", "b"))(df)
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("NullRemover fill replaces nulls and empty strings") {
    val out = NullRemover("fill", Seq("name", "email"), fillValue = "?")(people)
    val got = out.orderBy("id").select("name", "email").as[(String, String)].collect()
    assert(got(1) == (("bob", "?")) && got(2) == (("?", "c@x.com")))
  }

  test("NullRemover remove_fields drops all-missing columns only") {
    val df = Seq((1L, null.asInstanceOf[String], "x"), (2L, "", "y")).toDF("id", "dead", "live")
    val out = NullRemover("remove_fields")(df)
    assert(out.columns.toSeq == Seq("id", "live"))
  }

  test("NullRemover remove_fields on an empty frame keeps all columns") {
    val df = Seq((1L, "x")).toDF("id", "s").filter(col("id") < 0)
    val out = NullRemover("remove_fields")(df)
    assert(out.columns.toSeq == Seq("id", "s") && out.count() == 0)
  }

  test("ColumnRemover: names, prefix, regex, keep-overrides") {
    val df = Seq((1, 2, 3, 4, 5)).toDF("a", "ab", "b", "keep_me", "xy")
    val out = ColumnRemover(columns = Set("b"), prefix = Some("a"),
      pattern = Some("keep.*|xy"), keep = Set("keep_me"))(df)
    assert(out.columns.toSeq == Seq("keep_me"))
  }

  test("ExactDedup strategies: keep_first / keep_last / keep_best_quality") {
    val df = Seq(
      (1L, "k1", 0.5), (2L, "k1", 0.9), (3L, "k1", 0.7), (4L, "k2", 0.1)
    ).toDF("_row_id", "key", "_meta_quality_score")
    def ids(strategy: String) =
      ExactDedup(df, Seq("key"), strategy).select("_row_id").as[Long].collect().sorted.toSeq
    assert(ids("keep_first") == Seq(1L, 4L))
    assert(ids("keep_last") == Seq(3L, 4L))
    assert(ids("keep_best_quality") == Seq(2L, 4L))
  }

  test("ExactDedup.incremental drops history matches and in-batch repeats") {
    val history = Seq((1L, "seen-a"), (2L, "seen-b")).toDF("_row_id", "key")
    val batch = Seq(
      (10L, "seen-a"),   // duplicates history → dropped
      (11L, "fresh-1"),  // first fresh → kept
      (12L, "fresh-1"),  // in-batch repeat → dropped
      (13L, "fresh-2")   // kept
    ).toDF("_row_id", "key")
    val got = ExactDedup.incremental(batch, history, Seq("key"))
      .select("_row_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(11L, 13L))
    // replaying the surviving batch against (history + survivors) is a no-op
    val grown = history.unionByName(
      batch.filter(col("_row_id").isin(11L, 13L)))
    assert(ExactDedup.incremental(batch, grown, Seq("key")).isEmpty)
  }

  test("Aggregator: count includes nulls, sum 0 when empty, min/max skip non-numeric") {
    import Aggregator.AggSpec
    val df = Seq(
      (1L, "g1", "10"), (2L, "g1", "oops"), (3L, "g1", null.asInstanceOf[String]),
      (4L, "g2", null.asInstanceOf[String])
    ).toDF("_row_id", "g", "v")
    val out = Aggregator.aggregate(df, Seq("g"), Seq(
      AggSpec("s", "v", "sum"), AggSpec("a", "v", "avg"),
      AggSpec("mn", "v", "min"), AggSpec("mx", "v", "max"),
      AggSpec("c", "v", "count"), AggSpec("cd", "v", "count_distinct"),
      AggSpec("f", "v", "first"), AggSpec("l", "v", "last"),
      AggSpec("cc", "v", "concat"))).orderBy("g").collect()
    val g1 = out(0); val g2 = out(1)
    assert(g1.getAs[Double]("s") == 10.0)
    assert(g1.getAs[Double]("a") == 10.0)    // avg over numeric only
    assert(g1.getAs[Long]("c") == 3L)        // count includes nulls
    assert(g1.getAs[Long]("cd") == 2L)       // distinct over non-null strings
    assert(g1.getAs[String]("f") == "10")    // input order via _row_id
    assert(g1.getAs[String]("l") == null)
    assert(g1.getAs[String]("cc") == "10, oops")
    assert(g2.getAs[Double]("s") == 0.0)     // sum() of nothing = 0
    assert(g2.getAs[Any]("a") == null)       // avg of nothing = null
  }

  test("QualityScorer: weights, email rule, negative-amount rule") {
    val df = Seq(
      (1L, "a@x.com", 100.0),   // all good
      (2L, "bad-email", 100.0), // validity hit: no @ / .
      (3L, "c@x.com", -5.0)     // consistency hit: amount <= 0
    ).toDF("customer_id", "email", "amount")
    val out = QualityScorer(fields = Seq("customer_id", "email", "amount"))(df)
      .orderBy("customer_id")
      .select("_meta_quality_score").as[Double].collect()
    assert(out(0) == 1.0)
    assert(out(1) == 0.9)   // validity drops by 1/3 → 0.4 + 0.3*2/3 + 0.3
    assert(out(2) == 0.9)   // consistency drops by 1/3
  }

  test("AnomalyDetector zscore uses population sigma; iqr uses linear-interp percentile") {
    // spread base values: q1 != q3, else the reference semantics skip
    // IQR=0 fields entirely (anomaly_detector.py:215-263)
    val vals = (1 to 20).map(_.toDouble) :+ 1000.0
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val z = AnomalyDetector.zscore(df, Seq("v"), threshold = 3.0)
      .filter(col("_meta_is_anomaly")).select("id").as[Long].collect()
    assert(z.toSeq == Seq(20L))
    val i = AnomalyDetector.iqr(df, Seq("v"), factor = 1.5)
      .filter(col("_meta_is_anomaly")).select("id").as[Long].collect()
    assert(i.toSeq == Seq(20L))
  }

  test("AnomalyDetector combined requires both methods to agree") {
    val df = ((1 to 20).map(_.toDouble) :+ 1000.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val out = AnomalyDetector.combined(df, Seq("v"), 3.0, 1.5)
      .filter(col("_meta_is_anomaly")).select("id").as[Long].collect()
    assert(out.toSeq == Seq(20L))
  }

  test("AnomalyDetector combined 2-of-3 vote with the isolation forest") {
    // extreme outlier: flagged by all three → ≥2 holds; inliers get at most
    // the iForest's contamination-quota vote → never reach 2
    val df = ((1 to 40).map(_.toDouble) :+ 5000.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val out3 = AnomalyDetector.combined(df, Seq("v"), 3.0, 1.5,
      iforestOrderCol = Some("id"), contamination = 0.05)
    assert(out3.columns.contains("_meta_iforest_flag"))
    val flagged = out3.filter(col("_meta_is_anomaly"))
      .select("id").as[Long].collect().toSeq
    assert(flagged == Seq(40L))
    // vote table: each pairwise agreement of {z, iqr, iforest} must flag
    val z = AnomalyDetector.zscore(df, Seq("v"), 3.0)
      .filter(col("_meta_is_anomaly")).select("id").as[Long].collect().toSet
    val i = AnomalyDetector.iqr(df, Seq("v"), 1.5)
      .filter(col("_meta_is_anomaly")).select("id").as[Long].collect().toSet
    val f = out3.filter(col("_meta_iforest_flag"))
      .select("id").as[Long].collect().toSet
    val expect = (z ++ i ++ f).filter(id =>
      Seq(z(id), i(id), f(id)).count(identity) >= 2)
    assert(flagged.toSet == expect)
  }

  test("AnomalySplitter routes flagged rows") {
    val df = Seq((1L, false), (2L, true), (3L, false)).toDF("id", "_meta_is_anomaly")
    val (clean, bad) = AnomalySplitter.split(df)
    assert(clean.count() == 2 && bad.count() == 1)
  }

  test("SchemaInferrer detects patterns and types") {
    val df = Seq(
      ("a@x.com", "1", "2024-01-02"),
      ("b@y.org", "2", "2024-02-03"),
      ("c@z.net", "3", "2024-03-04")
    ).toDF("email", "n", "d")
    val prof = SchemaInferrer.profile(df, Seq("email", "n", "d"))
      .orderBy("field").collect()
    val byField = prof.map(r => r.getAs[String]("field") -> r).toMap
    assert(byField("email").getAs[String]("detected_pattern") == "email")
    assert(byField("n").getAs[String]("inferred_type") == "INTEGER")
    assert(byField("d").getAs[String]("inferred_type") == "DATE")
    assert(byField("d").getAs[String]("detected_pattern") == "date_iso")
  }

  test("dedup is idempotent (property)") {
    val df = Tables(spark).orders.withColumn("_row_id", col("o_orderkey"))
    val once = ExactDedup(df, Seq("o_custkey", "o_orderstatus"), "keep_first")
    val twice = ExactDedup(once, Seq("o_custkey", "o_orderstatus"), "keep_first")
    assert(once.count() == twice.count())
  }

  test("aggregation conserves row counts (property)") {
    val orders = Tables(spark).orders
    val grouped = orders.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val total = grouped.agg(sum("n")).head().getLong(0)
    assert(total == orders.count())
  }

  private case class Tables(s: org.apache.spark.sql.SparkSession) {
    def orders = graft.core.Tables.table(s, sfDir, "orders")
  }

  test("quality LR: separates clean from garbage, deterministic, guards degenerate labels") {
    import spark.implicits._
    import graft.operators.QualityModel
    val clean = (1L to 40L).map(i =>
      (i, s"the quick brown fox number $i jumps over the lazy dog and " +
        "walks on with a calm and steady pace for a while longer"))
    val junk = (101L to 140L).map(i => (i, "!!! ??? ;;; ,,, x" + i))
    val df = (clean ++ junk).toDF("doc_id", "text")
    val b = QualityModel.train(df, "doc_id", "text")
    val b2 = QualityModel.train(df, "doc_id", "text")
    assert(b == b2, "training is not deterministic")
    val scored = QualityModel.score(df, "doc_id", "text", b)
    val keep = scored.filter(col("ml_keep")).select("doc_id")
      .as[Long].collect().toSet
    assert(clean.map(_._1).toSet.subsetOf(keep), "clean docs rejected")
    assert(junk.map(_._1).forall(i => !keep.contains(i)), "garbage kept")
    // all-positive weak labels must fail loudly, not diverge silently
    intercept[IllegalArgumentException] {
      QualityModel.train(clean.toDF("doc_id", "text"), "doc_id", "text")
    }
  }

  test("charEntropy: uniform=log2(k), single-char=0, gibberish beats prose, empty=NULL") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "abab"),              // 2 symbols uniform -> exactly 1 bit
      (2L, "aaaa"),              // degenerate -> 0 bits
      (3L, "the cat sat on the mat and then sat down again"),
      (4L, "qZx9!kP2@mW7#vB4$nT6"), // keyboard mash -> high entropy
      (5L, "")                   // empty -> NULL, row kept
    ).toDF("id", "t")
    val out = TF.charEntropyTable(df, "id", "t").orderBy("id").collect()
    assert(out.length == 5)
    assert(out(0).getDouble(1) == 1.0)
    assert(out(1).getDouble(1) == 0.0)
    val prose = out(2).getDouble(1); val mash = out(3).getDouble(1)
    assert(prose < mash, s"prose $prose must be below mash $mash")
    assert(out(4).isNullAt(1))
  }

  test("blocklist: word-boundary token match, counts occurrences") {
    import graft.functions.{TextFunctions => TF}
    val df = Seq(
      (1L, "Free stuff FREE now"),     // case-folded: 2 hits
      (2L, "freedom carefree freely"), // substrings never match
      (3L, "all clean here")
    ).toDF("id", "t")
    val out = TF.blocklistTable(df, "id", "t", Seq("free", "spam"))
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((2L, true), (0L, false), (0L, false)))
  }

  test("FuzzyMatch: finds all pairs within maxDist, none beyond, short strings too") {
    import graft.operators.FuzzyMatch
    val a = Seq((1L, "jonathan smith"), (2L, "alice cooper"), (3L, "bo"))
      .toDF("id_a", "name_a")
    val b = Seq(
      (10L, "jonathon smith"),  // 1 substitution from 1
      (11L, "alice coopers"),   // 1 insertion from 2
      (12L, "alicia cooper"),   // 2 edits from 2 -> excluded at maxDist=1
      (13L, "bo"),              // exact short-string match for 3
      (14L, "completely other")
    ).toDF("id_b", "name_b")
    val got = FuzzyMatch
      .editDistanceJoin(a, b, "id_a", "name_a", "id_b", "name_b", maxDist = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 11L), (3L, 13L)))
  }

  test("NgramLm: in-domain docs score lower NLL than OOV text, edge docs stay NULL") {
    import graft.operators.NgramLm
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog sat down")).toDF("doc_id", "text")
    val model = NgramLm.train(train, "text")
    val target = Seq(
      (10L, "the cat sat on the rug"), // all bigrams in-domain
      (11L, "zqx vbn plm okn ijb"),    // fully out-of-domain
      (12L, "single"),                 // no bigram -> NULL score
      (13L, "the cat")                 // one bigram, seen
    ).toDF("doc_id", "text")
    val out = NgramLm.score(target, "doc_id", "text", model)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(byId(10L)._2 == 0L)                 // no OOV bigrams
    assert(byId(11L)._2 == byId(11L)._1)       // every bigram OOV
    assert(byId(12L) == ((0L, 0L, None)))      // no bigrams -> NULL NLL
    assert(byId(13L)._1 == 1L && byId(13L)._2 == 0L)
    val nll10 = byId(10L)._3.get.asInstanceOf[Double]
    val nll11 = byId(11L)._3.get.asInstanceOf[Double]
    assert(nll10 < nll11, s"in-domain $nll10 must beat OOV $nll11")
  }

  test("PageRank: hub outranks spokes, mass nearly conserved, repartition-invariant") {
    // star: every spoke points at the hub, hub points at spoke 1
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val ranks = graft.operators.PageRank.run(edges, "src", "dst",
      iterations = 5)
    val byId = ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(0L) > byId(1L), s"hub must outrank fed spoke: $byId")
    assert(byId(1L) > byId(2L), s"fed spoke must outrank leaves: $byId")
    assert(byId(2L) == byId(3L) && byId(3L) == byId(4L),
      s"symmetric leaves must tie exactly: $byId")
    // fixed-point floors only ever LOSE mass, and only a little
    val total = byId.values.sum
    assert(total <= 1000000L && total > 900000L, s"mass: $total")
    // integer arithmetic => bit-identical under any partitioning
    val re = graft.operators.PageRank.run(edges.repartition(7), "src", "dst",
      iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == byId)
  }

  test("interpolateLinear fills interior gaps, keeps boundary NULLs") {
    val df = Seq(
      ("a", 1L, Some(1.0)), ("a", 2L, None), ("a", 3L, None),
      ("a", 4L, Some(4.0)), ("a", 5L, None),
      ("b", 1L, None), ("b", 2L, Some(7.0)))
      .toDF("k", "i", "v")
    val got = graft.operators.TimeSeries
      .interpolateLinear(df, "k", Seq(col("i").asc), "v")
      .select(col("k"), col("i"), col("_filled"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double]))
      .toMap
    assert(got(("a", 1L)).contains(1.0))
    assert(got(("a", 2L)).contains(2.0))       // 1 + (4-1)*1/3
    assert(got(("a", 3L)).contains(3.0))
    assert(got(("a", 4L)).contains(4.0))
    assert(got(("a", 5L)).isEmpty)             // trailing boundary NULL
    assert(got(("b", 1L)).isEmpty)             // leading boundary NULL
    assert(got(("b", 2L)).contains(7.0))
  }

  test("triangleCount: K4 has 4, star has 0, duplicate/reversed edges ignored") {
    def tri(e: Seq[(Long, Long)]) =
      graft.operators.PageRank.triangleCount(e.toDF("src", "dst"),
        "src", "dst").head().getLong(0)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(k4) == 4L)
    assert(tri(k4 ++ k4.map(_.swap) ++ Seq((1L, 1L))) == 4L) // dedup + loop
    assert(tri(Seq((0L, 1L), (0L, 2L), (0L, 3L))) == 0L)     // star
  }

  test("refIntegrity counts orphans and null FKs exactly") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), Some(9L), Some(8L), None)
      .toDF("fk")
    val r = graft.operators.Audit
      .refIntegrity(Seq(("c->p", child, "fk", parent, "pk")))
      .head()
    assert(r.getAs[Long]("n_child_rows") == 6L)
    assert(r.getAs[Long]("n_distinct_fk") == 3L)
    assert(r.getAs[Long]("n_null_fk_rows") == 1L)
    assert(r.getAs[Long]("n_orphan_rows") == 3L)
    assert(r.getAs[Long]("n_orphan_keys") == 2L)
  }

  test("PageRank: dangling redistribution conserves the mass sinks leak") {
    // chain 0→1→2→3: node 3 is a pure sink holding ~all mass by round 3
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    def total(redistribute: Boolean) =
      graft.operators.PageRank.run(edges, "src", "dst", iterations = 5,
        redistributeDangling = redistribute)
        .agg(sum("rank")).head().getLong(0)
    val leaked = total(redistribute = false)
    val kept = total(redistribute = true)
    assert(kept > leaked, s"redistribution must retain more mass: $kept vs $leaked")
    assert(kept <= 1000000L && kept > 900000L, s"mass: $kept")
    assert(leaked < 700000L, s"sink chain should leak heavily: $leaked")
  }

  test("SchemaDrift reports added, removed, and type-changed columns") {
    val a = Seq((1L, "x", 1.0)).toDF("id", "name", "score")
    val b = Seq((1L, 1, true)).toDF("id", "score", "flag")
    val d = graft.operators.SchemaDrift.diff(a, b)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), Option(r.getString(2)), Option(r.getString(3)))))
      .toMap
    assert(d("flag") == (("added", None, Some("boolean"))))
    assert(d("name") == (("removed", Some("string"), None)))
    assert(d("score") == (("type_changed", Some("double"), Some("int"))))
    assert(!d.contains("id"))
  }

  test("seasonalSpikes: seasonal surge is quiet, off-season surge fires") {
    // every day at 03:00 has 10 events (seasonal norm); day 5 at 12:00 has
    // 10 too, but 12:00's seasonal mean is 1 -> only 12:00 flags
    val rows = (for {
      day <- 1 to 6
      i <- 1 to 10
    } yield (s"2024-01-0$day 03:00:00", "batch", i)) ++
      (for (day <- 1 to 6; i <- 1 to (if (day == 5) 10 else 1))
        yield (s"2024-01-0$day 12:00:00", "batch", i))
    val df = rows.toDF("ts_s", "event_type", "i")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = graft.operators.AnomalyDetector.seasonalSpikes(
      df, "event_type", date_trunc("hour", col("ts")), b => hour(b),
      mNum = 3L, mDen = 2L)
      .select(col("season"), col("n")).collect()
    assert(out.length == 1, s"exactly one spike expected: ${out.toSeq}")
    assert(out.head.getInt(0) == 12 && out.head.getLong(1) == 10L)
  }
}
