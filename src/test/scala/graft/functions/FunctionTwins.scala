package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Reference spellings of the codegen'd function kernels: the Column-tree
  * and two-step forms each kernel replaced. Nothing in the engine calls
  * them; specs pin every kernel bit-equal to its twin here. */
object FunctionTwins {
  /** The split + [[BpeApply]] spelling `Bpe.encode` fused away. */
  private[graft] def encodeSplitForm(text: Column, merges: Seq[Bpe.Merge]): Column =
    BpeApply.bpe_apply(
      split(trim(regexp_replace(lower(text), "\\s+", " ")), ""),
      merges.map(m => (m.left, m.right)))

  /** The M-chained-`aggregate` Column spelling `Bpe.encode` replaced —
    * O(M·n²) interpreted folds. */
  private[graft] def encodeTreeForm(text: Column, merges: Seq[Bpe.Merge]): Column =
    merges.foldLeft(split(trim(regexp_replace(lower(text), "\\s+", " ")), "")
        .as("syms")) {
      (syms, m) => Bpe.applyMerge(syms, m.left, m.right)
    }

  /** The nPlanes × dim Column-tree form `Similarity.lshBucket` replaced. */
  private[graft] def lshBucketTreeForm(vec: Column, dim: Int,
      nPlanes: Int = 16): Column = {
    val bits = (0 until nPlanes).map { p =>
      // plane component j = centered unit hash of (p, j): deterministic
      val prod = (0 until dim).map { j =>
        val h = (scala.util.hashing.MurmurHash3.productHash((p, j)) /
                 Int.MaxValue.toDouble)
        element_at(vec, j + 1).cast(DoubleType) * lit(h)
      }.reduce(_ + _)
      when(prod >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The nLists × dim Column-tree form `Similarity.nearestCentroid`
    * replaced (same left-to-right double accumulation, same lowest-index
    * tie rule). */
  private[graft] def nearestCentroidTreeForm(vec: Column,
      centroids: Array[(Int, Seq[Double])]): Column = {
    val scored = centroids.map { case (i, c) =>
      val cArr = array(c.map(lit): _*)
      struct(
        aggregate(zip_with(vec, cArr, (x, y) => {
          val d = x.cast(DoubleType) - y
          d * d
        }), lit(0.0), (acc, v) => acc + v).as("d"),
        lit(i).as("i"))
    }
    // argmin via array_min over (distance, id) structs: each distance is
    // evaluated exactly once. A when-chain reduce re-evaluates operand
    // structs at every nesting level — exponential re-computation.
    array_min(array(scored.toIndexedSeq: _*)).getField("i")
  }

  /** The interpreted-HOF spelling `TextFunctions.filterLinesArr`
    * replaced. */
  private[graft] def filterLinesArrTreeForm(lines: Column, minWords: Int = 3,
      maxUpperRatio: Double = 0.6,
      boilerplate: Seq[String] = TextFunctions.boilerplateLines): Column = {
    val upperScaled = math.round(maxUpperRatio * 10000).toInt
    filter(lines, l => {
      val collapsed = trim(regexp_replace(l, "\\s+", " "))
      val wc = when(length(collapsed) === 0, lit(0))
        .otherwise(length(collapsed)
          - length(regexp_replace(collapsed, " ", "")) + lit(1))
      val up = length(regexp_replace(l, "[^A-Z]", ""))
      val alpha = length(regexp_replace(l, "[^A-Za-z]", ""))
      val tooUpper = alpha > 0 && up * lit(10000) > alpha * lit(upperScaled)
      val boiler = lower(trim(l)).isin(boilerplate: _*)
      wc >= minWords && !tooUpper && !boiler
    })
  }

  /** The per-window slice+aggregate Column spelling
    * `TextFunctions.windowHashes` replaced — O(n·k) interpreted HOF folds. */
  private[graft] def windowHashesTreeForm(words: Column, k: Int): Column = {
    def rotl1(x: Column): Column =
      shiftleft(x, 1).bitwiseOR(shiftrightunsigned(x, 63))
    val hashed = transform(words, w => xxhash64(w))
    val nWin = size(words) - lit(k) + lit(1)
    // sequence(1, 0) throws under ANSI — guard the shorter-than-k case
    when(nWin >= 1,
      transform(sequence(lit(1), nWin, lit(1)), i =>
        aggregate(slice(hashed, i, lit(k)), lit(0L),
          (acc, x) => rotl1(acc).bitwiseXOR(x))))
      .otherwise(array().cast(ArrayType(LongType)))
  }

  /** The regex spelling `TextFunctions.tokenCount` replaced with the
    * [[TokenCount]] kernel: count of separator runs + 1 on trimmed text. */
  private[graft] def tokenCountRegex(text: Column): Column = {
    val t = trim(regexp_replace(text, "\\s+", " "))
    when(length(t) === 0, 0)
      .otherwise(length(t) - length(replace(t, lit(" "), lit(""))) + 1)
  }

  /** The interpreted-HOF spelling `TextFunctions.fingerprint` replaced. */
  private[graft] def fingerprintTreeForm(text: Column): Column = {
    val norm = regexp_replace(trim(lower(text)), "\\s+", " ")
    aggregate(split(norm, " "), lit(0L), (acc, w) => xxhash64(acc, w))
  }

  /** The `zip_with` + `aggregate` cosine the [[CosineSim]] kernel replaced
    * (same left-to-right double accumulation). */
  private[graft] def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  private[graft] def norm(a: Column): Column = sqrt(dot(a, a))

  private[graft] def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, 0.0).otherwise(dot(a, b) / d)
  }
}

/** All BPE merge passes over a symbol array in one call — the kernel the
  * fused [[BpeSegments]] replaced, kept as its regression twin
  * (R14OperatorSpec) and as the codegen regression case (CodegenHealthSpec).
  * Pass-for-pass equivalent to [[FunctionTwins.encodeTreeForm]]'s fold: a
  * greedy left-to-right (a,b)→ab scan (a merged token can never re-merge
  * within its own pass, since a+b == a would need an empty b).
  */
case class BpeApply(child: Expression, merges: Array[Array[String]])
    extends UnaryExpression {
  // null symbols pass through unmerged (like the fold twin, whose
  // null-valued merge condition falls to the append branch)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_apply needs array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    BpeApply.applyMerges(input.asInstanceOf[ArrayData], merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", merges,
      "java.lang.String[][]")
    // NOT named `apply`: the case class inherits TreeNode.apply(Int), which
    // suppresses the companion's static forwarder — Janino would then only
    // see apply(int) and fail to compile, silently dropping the whole stage
    // to interpreted mode.
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeApply.applyMerges($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)

  override def prettyName: String = "bpe_apply"
}

object BpeApply {
  /** Called from generated code — must stay a static-forwardable method
    * (and must NOT be named `apply`; see doGenCode). */
  def applyMerges(syms: ArrayData, merges: Array[Array[String]]):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    var n = syms.numElements()
    var cur = new Array[String](n)
    var i = 0
    while (i < n) {
      val s = syms.getUTF8String(i)
      cur(i) = if (s == null) null else s.toString
      i += 1
    }
    var m = 0
    while (m < merges.length) {
      val a = merges(m)(0); val b = merges(m)(1); val ab = a + b
      var r = 0; var w = 0
      while (r < n) {
        if (r + 1 < n && cur(r) == a && cur(r + 1) == b) {
          cur(w) = ab; r += 2
        } else { cur(w) = cur(r); r += 1 }
        w += 1
      }
      n = w
      m += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (cur(i) == null) null else UTF8String.fromString(cur(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def bpe_apply(syms: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(BpeApply(
      org.apache.spark.sql.GraftColumnBridge.expression(syms),
      merges.map(p => Array(p._1, p._2)).toArray))
}
