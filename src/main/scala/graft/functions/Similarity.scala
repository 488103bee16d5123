package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity search over an `Array[Float]` column.
  *
  * Baseline: brute-force cosine top-k — a single projection + TakeOrdered,
  * no shuffle of the vectors themselves; scales linearly and parallelizes
  * perfectly (the classic "score 100 TB of embeddings against one query"
  * shape). Scale path: LSH bucketing via random hyperplane signs so
  * candidate generation touches only matching buckets.
  *
  * Every scan scores with the codegen'd [[CosineSim]] kernel: one pass in
  * double, no intermediate array.
  */
object Similarity {

  /** Brute-force top-k against one query vector: score projection + orderBy
    * + limit = TakeOrderedAndProject (per-partition heap, driver merge). */
  def topK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*).cast(ArrayType(FloatType))
    df.select(col(idCol),
        CosineSim.fast_cosine(col(vecCol), q).as("similarity"))
      .orderBy(col("similarity").desc, col(idCol).asc)
      .limit(k)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * `k` most-similar corpus vectors carrying a DIFFERENT label — the
    * near-misses a retrieval/rerank model learns the most from. Anchors
    * broadcast against the corpus (cost = |anchors| × one corpus scan —
    * keep the anchor set bounded, mine in batches at 100 TB), similarity
    * quantized via safeRound so the per-anchor top-k cut is engine- and
    * order-deterministic, then WindowGroupLimit takes k per anchor BEFORE
    * any shuffle concentrates rows. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      scale: Int = 4): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("_avec"), col(labelCol).as("_albl"))
    val scored = corpus
      .select(col(idCol).as("cand_id"), col(vecCol).as("_cvec"),
        col(labelCol).as("_clbl"))
      .crossJoin(broadcast(a))
      .filter(col("_clbl") =!= col("_albl"))
      .select(col("anchor_id"), col("cand_id"),
        graft.core.Semantics.safeRound(
          CosineSim.fast_cosine(col("_cvec"), col("_avec")), scale)
          .as("similarity"))
    graft.core.TopK.perKey(scored, Seq("anchor_id"), k,
      Seq(col("similarity").desc, col("cand_id").asc))
      .select(col("anchor_id"), col("cand_id"), col("similarity"),
        col("rank_in_key"))
  }

  /** Per-group centroid drift between two embedding snapshots: the L2
    * distance between each group's mean vectors — the embedding-space
    * "did this source move" monitor (re-crawl shifted the content, the
    * encoder changed, a poisoned slice appeared). Means are elementwise
    * decimal-exact (posexplode → per-(group, dim) decimal sum / count —
    * aggregation order can't drift them); squared diffs quantize to
    * DECIMAL(38,18) before the cross-dim sum (the BM25/LM pattern), so
    * the distance replays bit-for-bit. Cost: two explodes to
    * |groups|·dims aggregates — no pairwise anything. */
  def centroidDrift(a: DataFrame, b: DataFrame, groupCol: String,
      vecCol: String, scale: Int = 4): DataFrame = {
    def centroid(df: DataFrame, out: String) = df
      .select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("_dim", "_v")))
      .groupBy(col(groupCol), col("_dim"))
      .agg((sum(col("_v").cast(DoubleType)
        .cast(org.apache.spark.sql.types.DecimalType(38, 10)))
        .cast(DoubleType) / count(col("_v"))).as(out))
    val d = col("_ma") - col("_mb")
    centroid(a, "_ma").join(centroid(b, "_mb"), Seq(groupCol, "_dim"))
      .select(col(groupCol),
        (d * d).cast(org.apache.spark.sql.types.DecimalType(38, 18))
          .as("_sq"))
      .groupBy(col(groupCol))
      .agg(graft.core.Semantics.safeRound(
        sqrt(sum(col("_sq")).cast(DoubleType)), scale).as("drift"),
        count(lit(1)).as("n_dims"))
      .select(col(groupCol), col("n_dims"), col("drift"))
  }

  /** Int8 vector quantization — the memory/IO lever for 100 TB similarity
    * search: a 64-dim float32 embedding (256 B) becomes 64 bytes + two
    * floats (~72 B), so scans move 4× less data. Adds
    * `outCol: struct<q8: array<tinyint>, scale: float, norm: float>` where
    * `q8[i] = round(v[i]/scale)` (HALF_UP), `scale = maxAbs/127`, and
    * `norm` is the ORIGINAL L2 norm (quantized cosine needs no
    * re-normalization). Scale is STAGED as an attribute before the
    * per-element lambda runs — a lambda referencing an unstaged aggregate
    * re-evaluates it per element (the HOF outer-reference trap; Catalyst's
    * extract-value simplification defeats struct-level staging). */
  def quantizeFrame(df: DataFrame, vecCol: String,
      outCol: String = "qvec"): DataFrame = {
    val v = col(vecCol)
    df.withColumn("_q_scale",
        (greatest(array_max(transform(v, x => abs(x))), lit(1e-12f)) / 127.0f)
          .cast(FloatType))
      .withColumn("_q_norm",
        sqrt(aggregate(v, lit(0.0),
          (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
          .cast(FloatType))
      .withColumn(outCol, struct(
        transform(v, x =>
          round(x.cast(DoubleType) / col("_q_scale")).cast(ByteType)).as("q8"),
        col("_q_scale").as("scale"), col("_q_norm").as("norm")))
      .drop("_q_scale", "_q_norm")
  }

  /** Driver-side quantization of one query vector, bit-matching the
    * frame-side rule (HALF_UP like Spark's `round`). */
  def quantizeLocal(v: Seq[Float]): (Array[Byte], Float, Float) = {
    val absMax = math.max(v.map(x => math.abs(x)).max, 1e-12f)
    val scale = absMax / 127.0f
    val q8 = v.map(x => java.math.BigDecimal.valueOf(x.toDouble / scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).byteValue()).toArray
    val norm = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum).toFloat
    (q8, scale, norm)
  }

  /** Brute-force top-k over QUANTIZED vectors: same TakeOrdered shape as
    * [[topK]] but the scan reads int8 payloads and scores with the
    * codegen'd [[CosineQ8]] kernel. Ranking uses the FLOOR-rounded
    * similarity + id tie-break so the k-cut is deterministic. */
  def topKQuantized(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val (q8, s, n) = quantizeLocal(query)
    val qStruct = struct(
      array(q8.map(b => lit(b)): _*).cast(ArrayType(ByteType)).as("q8"),
      lit(s).as("scale"), lit(n).as("norm"))
    quantizeFrame(df, vecCol, "_qv")
      .select(col(idCol),
        graft.core.Semantics.safeRound(
          CosineQ8.cosine_q8(col("_qv"), qStruct), 4).as("similarity"))
      .orderBy(col("similarity").desc, col(idCol).asc)
      .limit(k)
  }

  /** Random-hyperplane LSH bucket id: sign bits of dot products with
    * `nPlanes` pseudo-random hyperplanes (deterministic seeded hash-based
    * planes — no RNG state needed, reproducible across runs/executors).
    * Vectors sharing a bucket are near in angle; search touches only the
    * query's bucket (+ optional multi-probe neighbors). Computed by the
    * codegen'd [[LshBucket]] kernel; bit-identical to the expression-tree
    * spelling the specs keep as its twin. */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int = 16): Column =
    LshBucket.lsh_bucket(vec, nPlanes, dim)

  /** IVF (inverted-file) index: cluster the corpus with seeded k-means on a
    * bounded sample, assign every vector to its nearest centroid (one
    * partition-local pass), and search only the `nProbe` lists nearest the
    * query. The standard billion-vector recipe: index build is one k-means
    * + one assignment scan; each query touches nProbe/nLists of the data.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: Array[(Int, Seq[Double])])

  def ivfIndex(corpus: DataFrame, vecCol: String, idCol: String,
      nLists: Int = 16, seed: Long = 42L, sample: Int = 10000,
      iters: Int = 10): IvfIndex =
    ivfIndexFromSample(corpus, vecCol,
      sampleVecs(corpus, vecCol, sample), nLists, seed, iters)

  /** One bounded driver collect shared by every index builder: k-means on
    * ≤`sample` vectors is microseconds of arithmetic, while a distributed
    * fit pays seconds of scheduling per iteration. The distributed part of
    * index building is the assignment scan — a partition-local argmin
    * projection. */
  private def sampleVecs(corpus: DataFrame, vecCol: String,
      sample: Int): Array[Array[Double]] =
    corpus.select(col(vecCol)).limit(sample).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  private def ivfIndexFromSample(corpus: DataFrame, vecCol: String,
      vecs: Array[Array[Double]], nLists: Int, seed: Long,
      iters: Int): IvfIndex = {
    val centers = lloyds(vecs, nLists, iters, seed)
    val centroids = centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    val assigned = corpus.withColumn("_list",
      nearestCentroid(col(vecCol), centroids))
    IvfIndex(assigned, centroids)
  }

  /** Seeded Lloyd's iterations; empty clusters re-seeded deterministically. */
  private def lloyds(data: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(data.nonEmpty, "ivfIndex needs a non-empty corpus")
    val dim = data(0).length
    val rng = new scala.util.Random(seed)
    var centers = Array.fill(k)(data(rng.nextInt(data.length)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      data.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = v(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) data(rng.nextInt(data.length)).clone()
        else { val s = sums(c); var j = 0
          while (j < dim) { s(j) /= counts(c); j += 1 }; s }
      }
      it += 1
    }
    centers
  }

  private def nearestCentroid(vec: Column,
      centroids: Array[(Int, Seq[Double])]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(NearestCentroidExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(vec),
      centroids.map(_._2.toArray)))

  /** Argmin over the centroid table for one vector — the static entry the
    * generated code calls. Ascending scan with strict `<` keeps the lowest
    * index on distance ties, matching `array_min` over (d, i) structs. */
  def nearestList(centroids: Array[Array[Double]],
      a: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val dim = centroids(0).length
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < centroids.length) {
      val ctr = centroids(c)
      var d = 0.0; var j = 0
      while (j < dim) {
        val t = a.getFloat(j).toDouble - ctr(j); d += t * t; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Codegen'd centroid-argmin: the centroid table rides along as one plan
    * reference object and each vector is assigned in one generated call.
    * The Column-tree spelling this replaces (the specs keep it as a twin)
    * builds nLists × dim nodes — at 16×64 that is a ~4000-node tree
    * whose analysis + janino compile dominated the whole IVF gate. */
  private[graft] case class NearestCentroidExpr(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      centroids: Array[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: org.apache.spark.sql.types.DataType = IntegerType
    override def nullSafeEval(input: Any): Any =
      nearestList(centroids,
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Similarity.nearestList($ref, $c)")
    }
    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression): NearestCentroidExpr =
      copy(child = newChild)
    override def prettyName: String = "nearest_centroid"
  }

  /** Search an IVF index: score only vectors whose list is among the
    * query's `nProbe` nearest centroids. */
  /** The `nProbe` coarse lists nearest the query by centroid squared
    * distance — ONE definition shared by plain-IVF and IVF+PQ search so
    * the two paths can never probe different lists. */
  private def probeListsFor(centroids: Array[(Int, Seq[Double])],
      query: Seq[Float], nProbe: Int): Seq[Int] = {
    val qArr = query.map(_.toDouble)
    centroids
      .map { case (i, c) =>
        (i, c.zip(qArr).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy(_._2).take(nProbe).map(_._1).toSeq
  }

  def ivfSearch(index: IvfIndex, vecCol: String, idCol: String,
      query: Seq[Float], k: Int = 10, nProbe: Int = 4): DataFrame = {
    val probeLists = probeListsFor(index.centroids, query, nProbe)
    val q = array(query.map(v => lit(v)): _*).cast(ArrayType(FloatType))
    index.assigned
      .filter(col("_list").isin(probeLists.toIndexedSeq: _*))
      .select(col(idCol),
        CosineSim.fast_cosine(col(vecCol), q).as("similarity"))
      .orderBy(col("similarity").desc, col(idCol).asc)
      .limit(k)
  }

  /** Bucketed ANN: pre-bucket the corpus once (cheap projection), then join
    * query buckets to corpus buckets — shuffle on bucket id only, never a
    * full cross product. */
  def annJoin(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, dim: Int, nPlanes: Int = 8, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = corpus.withColumn("_bucket", lshBucket(col(vecCol), dim, nPlanes))
    val qb = queries.withColumn("_bucket", lshBucket(col(vecCol), dim, nPlanes))
      .select(col(idCol).as("query_id"), col(vecCol).as("_qvec"), col("_bucket"))
    val scored = qb.join(cb, Seq("_bucket"))
      .withColumn("similarity",
        CosineSim.fast_cosine(col("_qvec"), col(vecCol)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("similarity").desc, col(idCol).asc)
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("query_id"), col(idCol), col("similarity"))
  }

  // ---------------------------------------------------------------------
  // Product quantization — the memory-side scale path. IVF cuts how MUCH
  // of the corpus a query touches; PQ cuts how BIG each touched vector is:
  // m one-byte codes instead of dim floats (64-d float → 8 bytes, 32×),
  // which is what lets a 100 TB embedding column live in executor memory
  // as a few hundred GB of codes. Search uses the standard asymmetric
  // distance computation (ADC): one m×k lookup table per query, built on
  // the driver, and each candidate scores with m table lookups — no float
  // math per vector at scan time.
  // ---------------------------------------------------------------------

  /** Per-subspace codebooks: `codebooks(j)(c)` is the c-th codeword of
    * subspace j (length `dsub = dim / m`). */
  final case class PqModel(m: Int, dsub: Int,
      codebooks: Array[Array[Array[Double]]])

  /** Train m independent k-means codebooks over the vector subspaces.
    * Like [[ivfIndex]], training is a bounded driver-sample fit (k-means
    * over ≤`sample` subvectors is microseconds; the distributed work is
    * the encode scan); subspace j seeds with `seed + j` so codebooks are
    * deterministic but not identical. */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 8,
      codewords: Int = 16, seed: Long = 42L, sample: Int = 10000,
      iters: Int = 10): PqModel =
    pqTrainFromSample(sampleVecs(corpus, vecCol, sample),
      m, codewords, seed, iters)

  private def pqTrainFromSample(vecs: Array[Array[Double]], m: Int,
      codewords: Int, seed: Long, iters: Int): PqModel = {
    require(vecs.nonEmpty, "pqTrain needs a non-empty corpus")
    val dim = vecs(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      lloyds(vecs.map(_.slice(j * dsub, (j + 1) * dsub)),
        codewords, iters, seed + j)
    }
    PqModel(m, dsub, codebooks)
  }

  /** Attach the m-byte code array: one codegen'd argmin per subspace over
    * a slice of the vector — a pure projection scan, no shuffle. */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel,
      codesCol: String = "codes"): DataFrame =
    df.withColumn(codesCol, pqCodes(col(vecCol), model))

  private def pqCodes(vec: Column, model: PqModel): Column =
    array((0 until model.m).map { j =>
      nearestCentroid(
        slice(vec, j * model.dsub + 1, model.dsub),
        model.codebooks(j).zipWithIndex.map { case (c, i) => (i, c.toSeq) })
    }: _*)

  /** ADC top-k: squared-distance lookup table (m × codewords) computed
    * once on the driver from the query, inlined as literals; each encoded
    * row scores as the sum of m `element_at` lookups — whole-stage
    * codegen, no per-row float vector math, TakeOrdered cut. */
  def pqSearch(encoded: DataFrame, idCol: String, model: PqModel,
      query: Seq[Float], k: Int = 10,
      codesCol: String = "codes"): DataFrame = {
    val q = query.map(_.toDouble)
    require(q.length == model.m * model.dsub,
      s"query dim ${q.length} != ${model.m}×${model.dsub}")
    val lut = Array.tabulate(model.m) { j =>
      model.codebooks(j).map { c =>
        var d = 0.0; var t = 0
        while (t < model.dsub) {
          val x = q(j * model.dsub + t) - c(t); d += x * x; t += 1
        }
        d
      }
    }
    val adc = (0 until model.m).map { j =>
      element_at(array(lut(j).toIndexedSeq.map(lit): _*),
        col(codesCol)(j) + 1)
    }.reduce(_ + _)
    encoded.select(col(idCol), adc.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** IVF + PQ — the standard billion-vector recipe, composed: coarse
    * lists bound how much of the corpus a query touches, codes bound the
    * bytes per touched row. Build once (one k-means fit + one combined
    * assign/encode scan), search with list-pruned ADC. */
  final case class IvfPqIndex(encoded: DataFrame,
      centroids: Array[(Int, Seq[Double])], model: PqModel)

  def ivfPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
      nLists: Int = 16, m: Int = 8, codewords: Int = 64,
      seed: Long = 42L, sample: Int = 10000, iters: Int = 10): IvfPqIndex = {
    // ONE driver collect feeds both fits (coarse centroids + subspace
    // codebooks) — same sample rows, one scan, one transfer
    val vecs = sampleVecs(corpus, vecCol, sample)
    val ivf = ivfIndexFromSample(corpus, vecCol, vecs, nLists, seed, iters)
    val model = pqTrainFromSample(vecs, m, codewords, seed, iters)
    // one scan attaches BOTH the coarse list and the codes; dropping the
    // raw vector afterwards is what shrinks the resident index 32×
    val enc = pqEncode(ivf.assigned, vecCol, model)
      .select(col(idCol), col("_list"), col("codes"))
    IvfPqIndex(enc, ivf.centroids, model)
  }

  /** List-pruned ADC top-k: probe the `nProbe` nearest coarse lists, then
    * score only those rows by lookup table — per query, work is
    * (nProbe/nLists) of the corpus at one byte per subspace. */
  def ivfPqSearch(index: IvfPqIndex, idCol: String, query: Seq[Float],
      k: Int = 10, nProbe: Int = 4): DataFrame = {
    val probeLists = probeListsFor(index.centroids, query, nProbe)
    pqSearch(
      index.encoded.filter(col("_list").isin(probeLists.toIndexedSeq: _*)),
      idCol, index.model, query, k)
  }

  // ---------------------------------------------------------------------
  // Residual IVFADC — the accuracy refinement of IVF+PQ: codebooks are
  // trained on RESIDUALS (vector minus its coarse centroid), whose
  // variance is the within-list remainder rather than the full spread, so
  // the same code budget quantizes finer. The price: the ADC lookup table
  // becomes per-list (query residual differs per probed list), so scoring
  // goes through one codegen'd expression holding the table stack as a
  // plan reference object instead of literal arrays.
  // ---------------------------------------------------------------------

  final case class IvfAdcIndex(encoded: DataFrame,
      centroids: Array[(Int, Seq[Double])], model: PqModel)

  def ivfAdcIndex(corpus: DataFrame, vecCol: String, idCol: String,
      nLists: Int = 8, m: Int = 8, codewords: Int = 64,
      seed: Long = 42L, sample: Int = 10000, iters: Int = 10): IvfAdcIndex = {
    val vecs = sampleVecs(corpus, vecCol, sample)
    require(vecs.nonEmpty, "ivfAdcIndex needs a non-empty corpus")
    val centers = lloyds(vecs, nLists, iters, seed)
    val centroids = centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
    // sample residuals under each vector's own nearest centroid
    val residuals = vecs.map { v =>
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < centers.length) {
        var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - centers(c)(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val r = new Array[Double](v.length)
      var j = 0
      while (j < v.length) { r(j) = v(j) - centers(best)(j); j += 1 }
      r
    }
    val model = pqTrainFromSample(residuals, m, codewords, seed, iters)
    val assigned = corpus.withColumn("_list",
      nearestCentroid(col(vecCol), centroids))
    val enc = assigned
      .withColumn("codes",
        pqCodes(residualCol(col(vecCol), col("_list"), centroids), model))
      .select(col(idCol), col("_list"), col("codes"))
    IvfAdcIndex(enc, centroids, model)
  }

  /** vec − centroid[list], as a float array (one 2-D literal centroid
    * matrix indexed per row — nLists × dim literals, plan-bounded). */
  private def residualCol(vec: Column, listCol: Column,
      centroids: Array[(Int, Seq[Double])]): Column = {
    val mat = array(centroids.sortBy(_._1).map { case (_, c) =>
      array(c.map(v => lit(v.toFloat)): _*)
    }: _*)
    zip_with(vec, element_at(mat, listCol + 1), (a, b) => a - b)
      .cast(ArrayType(FloatType))
  }

  /** Residual ADC top-k: per probed list, the lookup table is built from
    * the QUERY'S residual under that list's centroid; candidates score
    * with one generated call indexing (list, codes) into the table
    * stack. */
  def ivfAdcSearch(index: IvfAdcIndex, idCol: String, query: Seq[Float],
      k: Int = 10, nProbe: Int = 4): DataFrame = {
    val q = query.map(_.toDouble).toArray
    val probeLists = probeListsFor(index.centroids, query, nProbe)
    val m = index.model.m; val dsub = index.model.dsub
    val byId = index.centroids.sortBy(_._1).map(_._2.toArray)
    val luts: Array[Array[Array[Double]]] = byId.map { ctr =>
      Array.tabulate(m) { j =>
        index.model.codebooks(j).map { c =>
          var d = 0.0; var t = 0
          while (t < dsub) {
            val x = (q(j * dsub + t) - ctr(j * dsub + t)) - c(t)
            d += x * x; t += 1
          }
          d
        }
      }
    }
    val adc = org.apache.spark.sql.GraftColumnBridge.column(AdcScoreExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(col("codes")),
      org.apache.spark.sql.GraftColumnBridge.expression(col("_list")),
      luts))
    index.encoded.filter(col("_list").isin(probeLists.toIndexedSeq: _*))
      .select(col(idCol), adc.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Two-stage search — the production IVFADC shape: ADC shortlists
    * `refine × k` candidates from codes alone, then ONLY the shortlist
    * re-ranks by exact distance against raw vectors (a broadcast semi-join
    * of shortlist ids into the corpus — float cost proportional to the
    * shortlist, not the probed lists). Near-exact recall at code-scan
    * prices. */
  def ivfAdcSearchRefined(index: IvfAdcIndex, corpus: DataFrame,
      vecCol: String, idCol: String, query: Seq[Float], k: Int = 10,
      nProbe: Int = 4, refine: Int = 4): DataFrame = {
    require(refine >= 1, "refine factor must be >= 1")
    val short = ivfAdcSearch(index, idCol, query, k * refine, nProbe)
      .select(col(idCol))
    val qd = array(query.map(v => lit(v.toDouble)): _*)
    val dist = aggregate(
      zip_with(col(vecCol).cast(ArrayType(DoubleType)), qd,
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    corpus.join(broadcast(short), Seq(idCol), "left_semi")
      .select(col(idCol), dist.as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Static entry the generated ADC code calls: Σⱼ lut(list)(j)(codeⱼ). */
  def adcScore(luts: Array[Array[Array[Double]]],
      codes: org.apache.spark.sql.catalyst.util.ArrayData, list: Int): Double = {
    val lut = luts(list)
    var s = 0.0; var j = 0
    while (j < lut.length) { s += lut(j)(codes.getInt(j)); j += 1 }
    s
  }

  /** Codegen'd (codes, list) → ADC distance; the per-list table stack
    * rides along as one plan reference object (same pattern as
    * [[NearestCentroidExpr]] — a literal-array spelling would rebuild
    * nLists×m×k nodes into the plan). */
  private[graft] case class AdcScoreExpr(
      left: org.apache.spark.sql.catalyst.expressions.Expression,
      right: org.apache.spark.sql.catalyst.expressions.Expression,
      luts: Array[Array[Array[Double]]])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: org.apache.spark.sql.types.DataType = DoubleType
    override def nullSafeEval(codes: Any, list: Any): Any =
      adcScore(luts,
        codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        list.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("adcLuts", luts, "double[][][]")
      defineCodeGen(ctx, ev, (c, l) =>
        s"graft.functions.Similarity.adcScore($ref, $c, $l)")
    }
    override protected def withNewChildrenInternal(
        newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
        newRight: org.apache.spark.sql.catalyst.expressions.Expression): AdcScoreExpr =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "adc_score"
  }

  /** Johnson–Lindenstrauss random projection with a ±1 sign matrix
    * (Achlioptas 2003: Rademacher entries preserve pairwise distances in
    * expectation exactly like Gaussian ones — and a sign matrix means
    * every projected component is a SIGNED SUM, which the decimal-exact
    * [[DecimalDot]] kernel evaluates order-independently). The matrix is
    * derived from md5(dim_outdim) parity, so BOTH engines can rebuild it
    * bit-for-bit — no RNG state to ship, replayable forever. The standard
    * dimensionality cut BEFORE an LSH/IVF index when raw embedding dims
    * are too wide to bucket. One codegen'd projection pass, no shuffle.
    * Returns long form: (idCol, o, proj) with o = 0..outDims-1. */
  def jlProject(df: DataFrame, vecCol: String, idCol: String,
      outDims: Int): DataFrame = {
    require(outDims >= 1, "outDims must be >= 1")
    // bounded construction-time peek: the embedding dimension isn't in
    // the schema (array<float>), and the sign matrix is built driver-side
    // from it — a LIMIT-1 scan reads ONE row, never the table. All rows
    // must share this dimension (the uniform-dim contract of every
    // embedding op here); rows of another length would silently project
    // over the wrong matrix width
    val firstRow = df.select(size(col(vecCol))).head(1)
    require(firstRow.nonEmpty,
      s"jlProject: input is empty — cannot infer embedding dim from '$vecCol'")
    val dim = firstRow(0).getInt(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, o: Int): Float = {
      val h = md.digest(s"${j}_${o}".getBytes("UTF-8"))
      val v = java.lang.Integer.toUnsignedLong(
        java.nio.ByteBuffer.wrap(h, 0, 4).getInt)
      if (v % 2 == 0) 1.0f else -1.0f
    }
    val projs = (0 until outDims).map { o =>
      val arr = array((0 until dim).map(j => lit(sign(j, o))): _*)
      DecimalDot.decimal_dot(col(vecCol), arr).as(s"_p$o")
    }
    // outDims decimal-exact dot products of `dim` floats PER ROW at the
    // scan — compute-dense (Rebalance doc)
    graft.core.Rebalance.computeDense(df).select(col(idCol) +: projs: _*)
      .select(col(idCol), posexplode(
        array((0 until outDims).map(o => col(s"_p$o")): _*))
        .as(Seq("o", "proj")))
  }
}
