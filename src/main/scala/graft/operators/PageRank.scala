package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.core.Checkpoints

/** Distributed PageRank over an edge list in FIXED-POINT integer
  * arithmetic: ranks live in `unit` micro-units (BIGINT), per-edge
  * contributions are `floor(rank / out_degree)`, damping is
  * `floor(85·s / 100)` — every step is integer-exact, so the result is
  * bit-identical across engines, partitionings, and aggregation orders
  * (floating-point power iteration is none of those; the tiny systematic
  * floor loss is the price, bounded by iterations·(deg+2) units ≈ 1e-4
  * of total mass per round at the default unit).
  *
  * Each round is one (src) equi-join + one (dst) aggregate + one left join
  * back onto the node set — all hash-partitioned on node id, no window, no
  * cross product. Lineage is cut per round ([[Checkpoints]]): Local for
  * single-node, Reliable for cluster runs where executors can die.
  *
  * Nodes with no out-edges (dangling) leak their mass by default — the
  * standard simplification. `redistributeDangling = true` folds the sink
  * mass back in: one extra bounded aggregate per round sums the ranks of
  * nodes absent from the out-degree table and every node receives
  * `floor(mass / N)` extra incoming contribution — still integer-exact,
  * still one 1-row broadcast (no driver collect in the loop).
  */
object PageRank {

  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, unit: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L,
      redistributeDangling: Boolean = false,
      mode: Checkpoints.Mode = Checkpoints.Local,
      driverCutoff: Long = 2000000L): DataFrame =
    engine(edges, srcCol, dstCol, None, redistributeDangling, iterations,
      unit, dampNum, dampDen, mode, driverCutoff)

  /** TrustRank — personalized PageRank with teleportation RESTRICTED to a
    * trusted seed set (Gyöngyi et al., "Combating Web Spam with
    * TrustRank", VLDB 2004): rank flows outward from curated seeds, so a
    * spam farm can't bootstrap authority among itself the way it can
    * under uniform teleport. The corpus-curation use: score = proximity
    * to trusted sources, the weighted complement of [[Bfs]] hop distance.
    *
    * The same engine as [[run]] with the seeds as the teleport set.
    * Dangling mass is redistributed to the SEEDS (the TrustRank
    * convention — lost mass returns to the teleport distribution). Seed
    * ids that touch no edge are not nodes and carry no rank. */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iterations: Int = 3, unit: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L,
      mode: Checkpoints.Mode = Checkpoints.Local,
      driverCutoff: Long = 2000000L): DataFrame =
    engine(edges, srcCol, dstCol,
      Some(seeds.select(col(seedCol).as("id")).distinct()),
      redistributeDangling = true, iterations, unit, dampNum, dampDen, mode,
      driverCutoff)

  /** The one fixed-point iteration. `seedIds` is the teleport set (an
    * `id` column): None teleports to every node, the plain PageRank case,
    * with no seed table and no seed count. With sN teleport nodes in the
    * graph, each round gives every teleport node floor((1-d)/sN) plus its
    * damped incoming sum, and with `redistributeDangling` also
    * floor(sink mass / sN) before damping; every other node gets its
    * damped incoming sum only. With every node a seed, sN = N and this is
    * PageRank bit for bit. */
  private def engine(edges: DataFrame, srcCol: String, dstCol: String,
      seedIds: Option[DataFrame], redistributeDangling: Boolean,
      iterations: Int, unit: Long, dampNum: Long, dampDen: Long,
      mode: Checkpoints.Mode, driverCutoff: Long): DataFrame = {
    require(iterations >= 1 && unit > 0 && dampNum > 0 && dampDen > dampNum,
      s"bad PageRank params: iterations=$iterations unit=$unit " +
        s"damping=$dampNum/$dampDen")
    val noTeleport = "no teleport node in the graph: PageRank needs an " +
      "edge, TrustRank at least one seed present in the graph"
    val src = col(srcCol).as("id")
    val dst = col(dstCol).as("id")
    // SMALL-GRAPH FAST PATH (bounded-collect contract of [[SmallGraph]]):
    // UNLIKE the float-summation ops this family deliberately excludes,
    // every step here is INTEGER arithmetic — floor divisions and long
    // sums are order-independent, so a driver replay is value-identical
    // to the distributed loop BY CONSTRUCTION, not by luck. Gated on the
    // magnitude guard below as well: the distributed spelling floors a
    // DOUBLE division, which agrees with long division only while
    // rank·deg < 2^53 (misrounding needs error ≥ distance-to-integer,
    // i.e. a·2⁻⁵³ ≥ 1/b) — the guard keeps both paths inside that range,
    // and oversized units take the distributed loop unchanged. Seeds ride
    // the collect as extras; ids outside the graph (extras that touch no
    // edge) are excluded from the node set exactly like the distributed
    // node table, which is built from edge endpoints only.
    if (unit <= 1000000000L && dampDen <= 1000000L &&
        edges.count() <= driverCutoff &&
        seedIds.forall(_.count() <= driverCutoff)) {
      SmallGraph.collect(edges.select(col(srcCol), col(dstCol)), seedIds)
        match {
        case Some(m) =>
          val n = m.n
          val inGraph = new Array[Boolean](n)
          var i = 0
          while (i < m.us.length) {
            inGraph(m.us(i)) = true; inGraph(m.vs(i)) = true; i += 1
          }
          val tele = if (seedIds.isEmpty) inGraph else {
            val t = new Array[Boolean](n)
            m.extraIdx.foreach(x => t(x) = inGraph(x))
            t
          }
          val sN = tele.count(identity).toLong
          require(sN > 0, noTeleport)
          val r0 = unit / sN
          val base = (unit * (dampDen - dampNum)) / (dampDen * sN)
          val deg = new Array[Long](n)
          i = 0
          while (i < m.us.length) { deg(m.us(i)) += 1; i += 1 }
          var rank = Array.tabulate(n)(x => if (tele(x)) r0 else 0L)
          var it = 0
          while (it < iterations) {
            // ids outside the graph hold rank 0, so they add nothing here
            var sink = 0L
            if (redistributeDangling) {
              i = 0
              while (i < n) { if (deg(i) == 0) sink += rank(i); i += 1 }
            }
            val share = sink / sN
            val sums = new Array[Long](n)
            i = 0
            while (i < m.us.length) {
              sums(m.vs(i)) += rank(m.us(i)) / deg(m.us(i)); i += 1
            }
            val nextR = new Array[Long](n)
            i = 0
            while (i < n) {
              nextR(i) =
                if (tele(i)) base + dampNum * (sums(i) + share) / dampDen
                else dampNum * sums(i) / dampDen
              i += 1
            }
            rank = nextR
            it += 1
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.Row]
          i = 0
          while (i < n) {
            if (inGraph(i)) {
              out += org.apache.spark.sql.Row(m.idValue(i), rank(i)); ()
            }
            i += 1
          }
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              edges.select(col(srcCol)).schema.head.dataType),
            org.apache.spark.sql.types.StructField("rank",
              org.apache.spark.sql.types.LongType)))
          return SmallGraph.rideBack(edges.sparkSession, out.toSeq, schema)
        case None => () // unsafe id types: distributed loop below
      }
    }
    val graphNodes = edges.select(src).union(edges.select(dst)).distinct()
    // the node table and the only driver-side value, the teleport count
    val (nodes, sN) = seedIds match {
      case None => (graphNodes, graphNodes.count())
      case Some(s) =>
        val flagged = Checkpoints.cut(
          graphNodes.join(s.select(col("id"), lit(true).as("_seed")),
              Seq("id"), "left")
            .select(col("id"),
              coalesce(col("_seed"), lit(false)).as("_seed")),
          mode)
        (flagged, flagged.where(col("_seed")).count())
    }
    require(sN > 0, noTeleport)
    def onTeleport(c: Column): Column =
      if (seedIds.isEmpty) c else when(col("_seed"), c).otherwise(lit(0L))
    val deg = edges.groupBy(col(srcCol).as("id"))
      .agg(count(lit(1)).as("_deg"))
    val r0 = unit / sN                                  // floor init mass
    val base = (unit * (dampDen - dampNum)) / (dampDen * sN) // floor (1-d)/sN

    var ranks = nodes.select(col("id"), onTeleport(lit(r0)).as("rank"))
    for (_ <- 1 to iterations) {
      // per-teleport-node share of sink mass this round (a 1-row
      // broadcast frame)
      val share =
        if (redistributeDangling)
          ranks.join(deg, Seq("id"), "left_anti")
            .agg(expr(s"CAST(COALESCE(SUM(rank), 0) DIV $sN AS BIGINT)")
              .as("_share"))
        else ranks.sparkSession.sql("SELECT CAST(0 AS BIGINT) AS _share")
      val contrib = edges
        .select(col(srcCol).as("id"), col(dstCol).as("_dst"))
        .join(ranks, Seq("id"))
        .join(deg, Seq("id"))
        .select(col("_dst").as("id"),
          floor(col("rank").cast(DoubleType) / col("_deg").cast(DoubleType))
            .cast(LongType).as("_c"))
        .groupBy(col("id")).agg(sum(col("_c")).as("_s"))
      val next = nodes.join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(share))
        .select(col("id"),
          (onTeleport(lit(base)) +
            floor((lit(dampNum) *
              (coalesce(col("_s"), lit(0L)) + onTeleport(col("_share"))))
              .cast(DoubleType) / lit(dampDen).cast(DoubleType))
              .cast(LongType)).as("rank"))
      ranks = Checkpoints.cut(next, mode)
    }
    ranks
  }

  /** Per-node degree report: out- and in-degree from two key aggregates
    * full-outer-joined — the first thing to read before ranking or
    * sampling a graph (hubs, sinks, isolates-by-direction). */
  def degreeStats(edges: org.apache.spark.sql.DataFrame, srcCol: String,
      dstCol: String): org.apache.spark.sql.DataFrame = {
    val out = edges.groupBy(col(srcCol).as("id"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col(dstCol).as("id"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Reciprocity: the fraction of DISTINCT directed edges whose reverse
    * also exists — one self-join on the swapped key, no materialized
    * reverse graph. */
  def reciprocity(edges: org.apache.spark.sql.DataFrame, srcCol: String,
      dstCol: String, scale: Int = 4): org.apache.spark.sql.DataFrame = {
    val e = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .distinct()
    val recip = e.join(e.select(col("_d").as("_s"), col("_s").as("_d")),
      Seq("_s", "_d"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
      .select(col("n_edges"), col("n_reciprocal"),
        graft.core.Semantics.safeRound(
          col("n_reciprocal").cast(org.apache.spark.sql.types.DoubleType) /
            col("n_edges").cast(org.apache.spark.sql.types.DoubleType),
          scale).as("reciprocity"))
  }

  /** Exact triangle count via degree-ordered orientation (compact-forward):
    * dedupe to undirected edges, orient each from the (degree, id)-smaller
    * endpoint to the larger, then count wedges (u→v, u→w), v < w by the
    * same order, whose closing edge (v→w) exists. Orientation bounds every
    * node's out-degree by O(√m), so the wedge join — the only expansion —
    * is the theoretical-optimal size instead of Σdeg² (a hub with 1M
    * neighbors would otherwise build 10¹² wedges). All equi-joins +
    * integer count: exact, engine-portable, skew-resistant. */
  def triangleCount(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // und feeds the degree table, the orientation, AND the closing-edge
    // probe; ordered feeds both wedge sides. Cut lineage once each or the
    // edge-construction subtree is re-evaluated ~8× (8 redundant source
    // scans at 100 TB, and a plan too wide for the optimizer)
    val und = graft.core.Checkpoints.cut(
      edges.filter(col(srcCol) =!= col(dstCol))
        .select(least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .distinct(), graft.core.Checkpoints.Local)
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val ordered = graft.core.Checkpoints.cut(und
      .join(deg.select(col("id").as("a"), col("d").as("_da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("_db")), Seq("b"))
      .select(
        when(col("_da") < col("_db") ||
            (col("_da") === col("_db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v")),
      graft.core.Checkpoints.Local)
    // each triangle has exactly one ≺-minimal vertex u, so its (v, w)
    // wedge is generated once; the closing edge is checked value-ordered
    // against the undirected set (its own orientation may point either way)
    val o2 = ordered.select(col("u"), col("v").as("w"))
    val wedges = ordered.join(o2, Seq("u"))
      .filter(col("v") < col("w"))
      .select(col("v").as("a"), col("w").as("b"))
    wedges.join(und, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Deterministic negative sampling for link prediction: `k` candidate
    * non-neighbors per source from the md5 identity hash (engine- and
    * rerun-stable, so train/eval negatives never silently reshuffle),
    * with real edges and self-loops removed by one left-anti join.
    * Node ids are assumed dense in [0, nNodes) — remap first if not. */
  def negativeEdges(edges: org.apache.spark.sql.DataFrame, srcCol: String,
      dstCol: String, k: Int, nNodes: Long,
      seed: String = "neg"): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && nNodes > 1, s"need k >= 1, nNodes > 1: $k, $nNodes")
    val cand = edges.select(col(srcCol)).distinct()
      .withColumn("_i", explode(array((0 until k).map(lit(_)): _*)))
      .select(col(srcCol),
        (conv(substring(md5(concat(lit(s"$seed#"),
          col(srcCol).cast(org.apache.spark.sql.types.StringType),
          lit("_"), col("_i"))), 1, 8), 16, 10)
          .cast(LongType) % nNodes).as(dstCol))
      .filter(col(srcCol) =!= col(dstCol))
    cand.join(edges.select(col(srcCol), col(dstCol)),
      Seq(srcCol, dstCol), "left_anti").distinct()
  }
}
