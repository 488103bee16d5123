package graft

import org.apache.spark.sql.functions._

/** Round-14 optimization pins: internals changed for speed must keep the
  * r13 semantics bit-for-bit — pairRules' map-side pair generation and its
  * set-form entry, and LabelSpread's explode symmetrization. */
class R14OperatorSpec extends SparkSuite {
  import spark.implicits._

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("pairRules map-side pairs == the self-join spelling, incl. null items and dup rows") {
    val r = new scala.util.Random(14L)
    val rows = (1 to 4000).map { i =>
      val basket = s"b${r.nextInt(300)}"
      val item = if (r.nextInt(50) == 0) null
        else s"i${r.nextInt(30)}"
      (basket, item)
    } ++ Seq(("solo", "only"), ("nullb", null)) // 1-item and null-only baskets
    val df = rows.toDF("basket", "item").repartition(7)
    val got = graft.operators.MarketBasket.pairRules(df, "basket", "item",
      minPairCount = 2L)
    // the r13 self-join spelling, inlined as the regression twin
    val items = df.select(col("basket").as("_b"), col("item").as("_i"))
      .distinct()
    val itemCnt = items.groupBy(col("_i")).agg(count(lit(1)).as("_ci"))
    val nBaskets = items.select(col("_b")).distinct()
      .agg(count(lit(1)).as("_nb"))
    val pairs = items.join(
      items.select(col("_b"), col("_i").as("_j")), Seq("_b"))
      .filter(col("_i") < col("_j"))
      .groupBy(col("_i"), col("_j")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 2L)
    val expected = pairs
      .join(broadcast(itemCnt.select(col("_i"), col("_ci").as("_ca"))),
        Seq("_i"))
      .join(broadcast(itemCnt.select(col("_i").as("_j"),
        col("_ci").as("_cb"))), Seq("_j"))
      .crossJoin(broadcast(nBaskets))
      .select(col("_i").as("item_a"), col("_j").as("item_b"), col("n_pair"),
        graft.core.Semantics.safeRound(col("n_pair")
          .cast("double") / col("_nb").cast("double"), 4).as("support"),
        graft.core.Semantics.safeRound(col("n_pair")
          .cast("double") / col("_ca").cast("double"), 4).as("confidence"),
        graft.core.Semantics.safeRound((col("n_pair") * col("_nb"))
          .cast("double") / (col("_ca") * col("_cb")).cast("double"), 4)
          .as("lift"))
      .orderBy(col("item_a"), col("item_b"))
    assert(collectSorted(got) == collectSorted(expected))
  }

  test("pairRulesFromSets == pairRules on the exploded rows (incl. dups in arrays, empty sets)") {
    val r = new scala.util.Random(28L)
    val baskets = (1 to 500).map { i =>
      val n = r.nextInt(8)
      // duplicates on purpose: the set form must array_distinct them
      val its = (0 until n).map(_ => s"i${r.nextInt(25)}")
      (s"b$i", its ++ its.take(r.nextInt(2)))
    }
    val setDf = baskets.toDF("basket", "items").repartition(5)
    val rowDf = setDf.select(col("basket"), explode(col("items")).as("item"))
    val a = graft.operators.MarketBasket
      .pairRulesFromSets(setDf, "items", minPairCount = 2L)
    val b = graft.operators.MarketBasket
      .pairRules(rowDf, "basket", "item", minPairCount = 2L)
    assert(collectSorted(a) == collectSorted(b))
    assert(a.columns.toSeq == b.columns.toSeq)
  }

  test("BpeSegments fused kernel == split + bpe_apply on adversarial corpora") {
    val merges = Seq(("e", " "), ("t", "h"), ("th", "e "), ("a", "a"),
      ("aa", "a"), ("é", "s"), ("😀", "😀"), ("l", "l"))
    val texts = Seq(
      "the theme of the day", "  leading and   trailing  ", "",
      " ", "a", "aaaa", "aaaaaaa", "ééés és 😀😀😀 héllo",
      "MiXeD CaSe THE", "tab\tand\nnewline", "llll", "e e e e",
      "日本語のテキスト and ascii", "🎉🎊 👪 family", null,
      "x" * 500, ("ab " * 200).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    val fused = df.select(col("i"),
      graft.functions.Bpe.encode(col("t"),
        merges.zipWithIndex.map { case ((a, b), r) =>
          graft.functions.Bpe.Merge(r, a, b, 0L) }).as("syms"))
    val twin = df.select(col("i"),
      graft.functions.FunctionTwins.encodeSplitForm(col("t"),
        merges.zipWithIndex.map { case ((a, b), r) =>
          graft.functions.Bpe.Merge(r, a, b, 0L) }).as("syms"))
    val a = fused.orderBy("i").collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[String](1))
    val b = twin.orderBy("i").collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[String](1))
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i (${texts(i)}): $x vs $y") }
    // the three gate consumptions agree too: join-back and token count
    val fj = fused.select(col("i"), array_join(col("syms"), "").as("j"),
      size(col("syms")).as("n")).orderBy("i").collect()
    val tj = twin.select(col("i"), array_join(col("syms"), "").as("j"),
      size(col("syms")).as("n")).orderBy("i").collect()
    fj.zip(tj).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("LabelSpread.vote explode symmetrization == the union spelling") {
    val docs = Seq(
      (1L, "en"), (2L, "en"), (3L, null), (4L, "de"), (5L, null),
      (6L, "de"), (7L, "en"), (8L, null))
      .toDF("id", "lbl")
    val pairs = Seq((1L, 3L), (2L, 3L), (4L, 5L), (6L, 5L), (4L, 8L),
      (1L, 8L), (7L, 8L), (3L, 5L))
      .toDF("a", "b")
    val got = graft.operators.LabelSpread.vote(docs, "id", "lbl",
      pairs, "a", "b").orderBy("id")
    val sym = pairs.select(col("a").as("_u"), col("b").as("_v"))
      .unionByName(pairs.select(col("b").as("_u"), col("a").as("_v")))
    val unlabeled = docs.filter(col("lbl").isNull).select(col("id").as("_u"))
    val labeled = docs.filter(col("lbl").isNotNull)
      .select(col("id").as("_v"), col("lbl").as("_nl"))
    val votes = sym.join(unlabeled, Seq("_u")).join(labeled, Seq("_v"))
      .groupBy(col("_u"), col("_nl")).agg(count(lit(1)).as("n_votes"))
    val expected = graft.core.TopK.perKey(votes, Seq("_u"), 1,
      Seq(col("n_votes").desc, col("_nl").asc))
      .select(col("_u").as("id"), col("_nl").as("label"), col("n_votes"))
      .orderBy("id")
    assert(collectSorted(got) == collectSorted(expected))
  }
}
