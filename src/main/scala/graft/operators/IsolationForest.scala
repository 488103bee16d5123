package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic isolation forest (SURVEY §2.7 / §7.3): the reference wraps
  * sklearn's IsolationForest (contamination=0.1, n_estimators=100, seed 42,
  * nulls imputed with column mean — `anomaly_detector.py:265-324`).
  * Cross-library RNG parity is impossible, so this is a faithful independent
  * implementation of the iForest algorithm (Liu/Ting/Zhou 2008) with a
  * seeded, documented RNG — property-tested (outliers score high), excluded
  * from the hash-oracle gate like the reference's own variant would be.
  *
  * Scale design: trees are built on the DRIVER from a bounded sample
  * (ψ=256 rows/tree — the paper's default; sampling more doesn't help), then
  * shipped to executors as a broadcast-closure and evaluated per-row in one
  * partition-local pass. Scoring 100 TB is embarrassingly parallel; only the
  * tiny sample ever crosses to the driver.
  */
object IsolationForest {
  sealed trait Node
  final case class Leaf(size: Int) extends Node
  final case class Split(feature: Int, value: Double, lo: Node, hi: Node) extends Node

  final case class Model(trees: Seq[Node], psi: Int, means: Array[Double]) {
    /** Flattened trees for the scoring hot path — recomputed lazily per
      * executor after deserialization (cheap: one walk per tree). */
    @transient lazy val flat: Array[FlatTree] = trees.map(FlatTree.from).toArray
  }

  /** Pointer-free tree: node i is a split when `feature(i) >= 0` (branch to
    * `lo(i)`/`hi(i)`), else a leaf whose `leafVal(i)` is the PRECOMPUTED
    * depth + c(size) contribution. Scoring walks int indices over primitive
    * arrays — no per-node object dereference or virtual dispatch, which is
    * what the 100-trees-×-every-row pass spends its time on. */
  final case class FlatTree(feature: Array[Int], value: Array[Double],
      lo: Array[Int], hi: Array[Int], leafVal: Array[Double]) {
    def pathLen(row: Array[Double]): Double = {
      var i = 0
      while (feature(i) >= 0) i = if (row(feature(i)) < value(i)) lo(i) else hi(i)
      leafVal(i)
    }
  }

  object FlatTree {
    def from(root: Node): FlatTree = {
      val feature = scala.collection.mutable.ArrayBuffer.empty[Int]
      val value = scala.collection.mutable.ArrayBuffer.empty[Double]
      val lo = scala.collection.mutable.ArrayBuffer.empty[Int]
      val hi = scala.collection.mutable.ArrayBuffer.empty[Int]
      val leafVal = scala.collection.mutable.ArrayBuffer.empty[Double]
      def emit(n: Node, depth: Int): Int = n match {
        case Leaf(size) =>
          val i = feature.length
          feature += -1; value += 0.0; lo += -1; hi += -1
          leafVal += depth + cFactor(size)
          i
        case Split(f, v, l, h) =>
          val i = feature.length
          feature += f; value += v; lo += -1; hi += -1; leafVal += 0.0
          val li = emit(l, depth + 1); lo(i) = li
          val hii = emit(h, depth + 1); hi(i) = hii
          i
      }
      emit(root, 0)
      FlatTree(feature.toArray, value.toArray, lo.toArray, hi.toArray,
        leafVal.toArray)
    }
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** Average unsuccessful-search path length c(n) — the paper's normalizer. */
  def cFactor(n: Int): Double =
    if (n <= 1) 0.0
    else 2.0 * (math.log(n - 1.0) + 0.5772156649) - 2.0 * (n - 1.0) / n

  private def buildTree(data: Array[Array[Double]], rng: scala.util.Random,
      depth: Int, limit: Int): Node = {
    if (depth >= limit || data.length <= 1) Leaf(data.length)
    else {
      val f = rng.nextInt(data(0).length)
      val vals = data.map(_(f))
      val (mn, mx) = (vals.min, vals.max)
      if (mn == mx) Leaf(data.length)
      else {
        val split = mn + rng.nextDouble() * (mx - mn)
        val (lo, hi) = data.partition(_(f) < split)
        Split(f, split, buildTree(lo, rng, depth + 1, limit),
          buildTree(hi, rng, depth + 1, limit))
      }
    }
  }

  /** Anomaly score ∈ (0,1): s = 2^(−E[h]/c(ψ)); ≥0.5 ≈ anomalous.
    * Walks the flattened trees in tree order — bit-identical to a fold of
    * the recursive path length over the boxed trees (same summation order,
    * same precomputed depth+c(size) leaf values), asserted by spec. */
  def score(model: Model, row: Array[Double]): Double = {
    val ts = model.flat
    var s = 0.0; var t = 0
    while (t < ts.length) { s += ts(t).pathLen(row); t += 1 }
    math.pow(2.0, -(s / ts.length) / cFactor(model.psi))
  }

  /** Fit on a deterministic driver-side sample: rows ordered by a stable key
    * so the sample (and therefore the model) is identical across runs and
    * partitionings. */
  def fit(df: DataFrame, fields: Seq[String], orderCol: String,
      numTrees: Int = 100, psi: Int = 256, seed: Long = 42L,
      knownMeans: Option[Array[Double]] = None): Model = {
    val needed = numTrees * psi
    // impute nulls with column means, like the reference; callers that
    // already computed the stats row (AnomalyDetector.combined) pass them
    // in and skip this aggregate job
    val means = knownMeans.getOrElse {
      val meansRow = df.agg(avg(col(fields.head)),
        fields.tail.map(f => avg(col(f))): _*).head()
      fields.indices.map(i =>
        Option(meansRow.get(i)).fold(0.0)(_.toString.toDouble)).toArray
    }
    val sample = df.select((orderCol +: fields).map(col): _*)
      .orderBy(col(orderCol)).limit(needed).drop(orderCol)
      .collect().map(r => fields.indices.map(i =>
        Option(r.get(i)).fold(means(i))(_.toString.toDouble)).toArray)
    val rng = new scala.util.Random(seed)
    val limit = math.ceil(log2(psi.toDouble)).toInt
    val trees = (0 until numTrees).map { _ =>
      val treeSample =
        if (sample.length <= psi) sample
        else Array.fill(psi)(sample(rng.nextInt(sample.length)))
      buildTree(treeSample, rng, 0, limit)
    }
    Model(trees, math.min(psi, math.max(sample.length, 2)), means)
  }

  /** Static entry for generated code: impute nulls with the model's means,
    * then average path length over the trees. */
  def scoreArray(model: Model,
      a: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = a.numElements()
    val row = new Array[Double](n)
    var i = 0
    while (i < n) {
      row(i) = if (a.isNullAt(i)) model.means(i) else a.getDouble(i)
      i += 1
    }
    score(model, row)
  }

  /** Codegen'd scoring expression: the fitted model rides along as a
    * codegen reference object, each row scored in one call — no per-row
    * Seq boxing like a Scala UDF, and the projection stays inside
    * whole-stage codegen. */
  private[graft] case class ScoreExpr(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      model: Model)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: org.apache.spark.sql.types.DataType = DoubleType
    override def nullSafeEval(input: Any): Any =
      scoreArray(model,
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val modelRef = ctx.addReferenceObj("ifModel", model,
        classOf[Model].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.operators.IsolationForest.scoreArray($modelRef, $c)")
    }
    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression): ScoreExpr =
      copy(child = newChild)
    override def prettyName: String = "iforest_score"
  }

  /** Score + flag: one partition-local pass; the model travels as a plan
    * reference object. Flag = top `contamination` share by score, cutoff
    * from an exact percentile of the score column.
    *
    * `retainScored = true` caches the scored frame so the internal cutoff
    * job and every subsequent caller action share ONE scoring pass — but
    * the cache is then CALLER-OWNED: release it with
    * `spark.catalog.clearCache()` (the Verify-harness convention) when
    * done. The default (false) leaves nothing cached — each caller action
    * re-scores, and long-lived services leak nothing. */
  def detect(df: DataFrame, fields: Seq[String], orderCol: String,
      contamination: Double = 0.1, numTrees: Int = 100,
      seed: Long = 42L, knownMeans: Option[Array[Double]] = None,
      retainScored: Boolean = false): DataFrame = {
    val model = fit(df, fields, orderCol, numTrees, seed = seed,
      knownMeans = knownMeans)
    val featureArr = array(fields.map(f => col(f).cast(DoubleType)): _*)
    val scoreCol = org.apache.spark.sql.GraftColumnBridge.column(ScoreExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(featureArr), model))
    // scoring is numTrees tree-walks PER ROW — compute-dense, so it must
    // not inherit an under-split scan's task count (a one-row-group
    // parquet file would otherwise run the whole forest on one core)
    val scoredPlain = graft.core.Rebalance.computeDense(df)
      .withColumn("_iforest_score", scoreCol)
    val scored = if (retainScored) scoredPlain.persist() else scoredPlain
    val statsRow = scored.agg(
      expr(s"percentile(_iforest_score, ${1.0 - contamination})"),
      min(col("_iforest_score")), max(col("_iforest_score"))).head()
    val (cutoff, loS, hiS) =
      (statsRow.getDouble(0), statsRow.getDouble(1), statsRow.getDouble(2))
    // degenerate data (all scores equal) must flag nothing, not everything
    val flag =
      if (hiS == loS) lit(false) else col("_iforest_score") >= cutoff
    scored
      .withColumn("_meta_is_anomaly", flag)
      .withColumn("_meta_anomaly_method",
        when(col("_meta_is_anomaly"), lit("isolation_forest")))
  }
}
