package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Checkpoints

/** Multi-executor rehearsal. Every other suite runs on local[N] — ONE JVM,
  * where broadcast, checkpointing, task serialization, and codegen
  * classloading can silently rely on driver-local state (a lambda that
  * closes over the driver's filesystem, a codegen reference object that
  * never crosses a wire, a class only the driver's loader can see).
  * `local-cluster[2,2,1536]` launches REAL executor processes — separate
  * JVMs, real closure/Kryo serialization, real torrent-broadcast block
  * transfer, executor-side codegen compilation — which is exactly the
  * class of assumption a 1000-executor run would hit on day one.
  *
  * Exercised here: the iterative operators (Components large/small-star
  * rounds, k-core peeling) under BOTH checkpoint modes including
  * [[Checkpoints.Reliable]] (checkpoint files written by one executor
  * process, read back by another), the BPE/unigram codegen kernels whose
  * vocab rides as a plan reference object into executor-compiled code,
  * parquet scan + broadcast join + AQE over real block transfers, and a
  * typed UDAF (Kryo-encoded sketch buffers crossing executor boundaries).
  *
  * The suite owns its SparkSession: it stops the shared local[4] session,
  * runs against the mini-cluster, and stops it again so later suites
  * rebuild cleanly (suites execute sequentially in the forked test JVM).
  */
class ClusterShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var cluster: SparkSession = _

  override def beforeAll(): Unit = {
    // the standalone Worker resolves its sparkHome from spark.test.home
    // (test harness convention) — point it at the image's Spark dist
    sys.props("spark.test.home") = "/opt/spark"
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    cluster = graft.core.Sessions.builder("local-cluster[2,2,1536]", 4)
      .appName("graft-cluster-shape")
      // executor JVMs are forked fresh: hand them this JVM's classpath
      // (graft classes + spark jars); Spark adds the JDK module opens
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .getOrCreate()
    // fail fast (and loudly) if the executors never came up — every test
    // would otherwise hang on scheduling
    val ok = cluster.sparkContext.parallelize(1 to 8, 4).count() == 8
    require(ok, "mini-cluster executors failed to start")
  }

  override def afterAll(): Unit = {
    if (cluster != null) cluster.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    sys.props.remove("spark.test.home")
    ()
  }

  private def withCheckpointDir[T](f: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster_ckpt")
    cluster.sparkContext.setCheckpointDir(s"file://$dir")
    try f
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(new java.io.File(dir.toString))
    }
  }

  test("connected components: Reliable checkpoint across executor " +
      "processes matches Local and the known partition") {
    val sp = cluster
    import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L)).toDF("a", "b")
    val verts = ((1L to 5L) ++ (10L to 12L) :+ 99L).toDF("id")
    def run(mode: Checkpoints.Mode): Set[(Long, Long)] =
      graft.operators.Components
        .labels(verts, "id", edges, "a", "b", ckpt = mode)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reliable = withCheckpointDir { run(Checkpoints.Reliable) }
    val local = run(Checkpoints.Local)
    val expected = ((1L to 5L).map(_ -> 1L) ++
      (10L to 12L).map(_ -> 10L) :+ (99L -> 99L)).toSet
    assert(reliable == expected)
    assert(local == expected)
  }

  test("k-core peeling converges on real executors") {
    val sp = cluster
    import sp.implicits._
    // a 4-clique (3-core) with pendant vertices hanging off it
    val clique = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (clique ++ Seq((1L, 20L), (2L, 21L), (20L, 21L)))
      .toDF("a", "b")
    val verts = ((1L to 4L) ++ Seq(20L, 21L)).toDF("id")
    val core3 = graft.operators.KCore
      .core(verts, "id", edges, "a", "b", k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(core3 == Set(1L, 2L, 3L, 4L))
  }

  test("BPE vocab rides as a codegen reference object into " +
      "executor-compiled code; encode is lossless") {
    val sp = cluster
    import sp.implicits._
    val docs = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"), (3L, "cats and dogs and mats"))
      .toDF("doc_id", "text")
    val merges = graft.functions.Bpe.train(docs, "text", numMerges = 30)
    assert(merges.nonEmpty)
    val enc = docs.select(col("doc_id"),
      graft.functions.Bpe.encode(col("text"), merges).as("toks"),
      col("text"))
    // losslessness: tokens concatenate back to the whitespace-normalized
    // text (the encoder's documented normalization — spaces survive)
    val bad = enc.filter(
      array_join(col("toks"), "") =!=
        trim(regexp_replace(lower(col("text")), "\\s+", " "))).count()
    assert(bad == 0L)
  }

  test("parquet scan + broadcast join + AQE over real block transfers") {
    val sfDir = "/root/testdata/sf0.001"
    val nation = cluster.read.parquet(s"$sfDir/nation.parquet")
    val cust = cluster.read.parquet(s"$sfDir/customer.parquet")
    val joined = cust.join(broadcast(nation),
        cust("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_nations"))
      .head()
    assert(joined.getLong(0) == cust.count())
    assert(joined.getLong(1) == 25L)
  }

  test("representative gate queries run unmodified on real executors") {
    // the driver-contract queries themselves, against the mini-cluster:
    // sharded-cumsum windows (pack), LSH+components fuzzy dedup, codegen
    // ADC tables, BPE train+encode — the machinery with the most hidden
    // single-JVM assumptions. Correctness is pinned by the sf0.01/sf0.1
    // oracle gates; this pins EXECUTABILITY across executor processes.
    val names = Seq("q_pack_docs", "q_doc_fuzzy_keep", "q_ks_drift",
      "q_embed_ivfadc", "q_bpe_encode", "q_join_size_est", "q_hilbert",
      "q_bloom_join", "q_dag_levels", "q_golden_records",
      "q_image_codec_roundtrip",
      // embedded-Derby roundtrip across driver+executor JVMs — exercises
      // DerbySingleJvmDriver's hand-over-hand lock release and the
      // driver-DDL/executor-insert split in Sinks.jdbc
      "q_jdbc_roundtrip",
      // r7 family: lineage-cut range layout shared by two actions
      // (global index / prefix sum), histogram-narrowing driver loop,
      // streaming HLL register state across executor state stores
      "q_global_index", "q_seq_pack", "q_exact_kth", "q_hll_stream_twin")
    names.foreach { n =>
      val rows = SparkEntry.queries(n)(cluster, "/root/testdata/sf0.001")
        .count()
      assert(rows > 0, s"$n returned no rows on local-cluster")
      cluster.catalog.clearCache()
    }
  }

  test("Reliable checkpoint survives an executor kill mid-iteration") {
    // the reason Reliable exists: blocks of a localCheckpoint die with
    // their executor and ABORT the job; file-backed checkpoints recompute.
    // A background thread kills one executor while the iteration runs —
    // if the kill lands mid-job the recovery path is exercised for real;
    // if the job finishes first the test still proves correctness (the
    // assertion never depends on timing).
    val sp = cluster
    // 40k vertices in 1000 chains of 40 — enough rounds × work for the
    // kill to usually land inside the iteration
    val n = 40000L
    val verts = sp.range(0, n).toDF("id")
    val edges = sp.range(0, n).toDF("i")
      .filter(col("i") % 40 =!= 39)
      .select(col("i").as("a"), (col("i") + 1).as("b"))
    val killer = new Thread(() => {
      Thread.sleep(2500)
      val ids = org.apache.spark.GraftTestBridge.executorIds(sp.sparkContext)
      ids.headOption.foreach { id =>
        sp.sparkContext.killExecutors(Seq(id)); ()
      }
    })
    killer.setDaemon(true)
    val labels = withCheckpointDir {
      killer.start()
      // driverCutoff = 0: the executor-kill resilience claim is about the
      // iterative path's Reliable checkpoints, not the fast path
      graft.operators.Components.labels(verts, "id", edges, "a", "b",
        ckpt = Checkpoints.Reliable, driverCutoff = 0L)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(when(col("cluster") === col("id") - col("id") % 40, 1L)
            .otherwise(0L)).as("n_correct"))
        .head()
    }
    killer.join(1000)
    assert(labels.getLong(0) == n)
    assert(labels.getLong(1) == n / 40)
    assert(labels.getLong(2) == n) // every vertex labeled with its chain head
  }

  test("typed UDAF sketch buffers (Kryo) cross executor boundaries") {
    val sp = cluster
    import sp.implicits._
    val df = (1 to 2000).map(i => (i % 7, s"u$i")).toDF("g", "member")
    // per-group HLL sketches built on one executor, merged on another
    val est = graft.functions.Sketches
      .distinctSketches(df, Seq("g"), "member")
    val rolled = graft.functions.Sketches
      .mergeDistinct(est.withColumn("all", lit(1)), Seq("all"))
      .head().getAs[Number](1).doubleValue()
    assert(math.abs(rolled - 2000.0) / 2000.0 < 0.05)
  }
}
