package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The whitespace class and word tokenizer the text kernels share, so
  * MinHash, SimHash, shingles and fingerprints split a document into the
  * same words. Only kernel Scala bodies call these; generated Java calls
  * each kernel's own static entry. */
private[functions] object Words {
  private val Space = UTF8String.fromString(" ")

  /** Java regex `\s`: space, tab, newline, CR, form feed, vertical tab.
    * Byte tests are exact on UTF-8: every byte of a multi-byte codepoint
    * is >= 0x80. */
  def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  /** The maximal non-`isSpace` byte runs of the lowercased text — exactly
    * a `\s+` split of the trimmed text, never an empty token. Tokens are
    * slices of one lowercased buffer, not copies. */
  def lowerWords(text: UTF8String): ArrayBuffer[UTF8String] = {
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val words = new ArrayBuffer[UTF8String]()
    var i = 0
    var start = -1
    while (i <= n) {
      val ws = i == n || isSpace(bytes(i))
      if (!ws && start < 0) start = i
      else if (ws && start >= 0) {
        words += UTF8String.fromBytes(bytes, start, i - start)
        start = -1
      }
      i += 1
    }
    words
  }

  /** The `parts.length` words from `s` on, joined by single spaces: one
    * shingle. `parts` is caller-owned scratch space. */
  def shingle(words: ArrayBuffer[UTF8String], s: Int,
      parts: Array[UTF8String]): UTF8String = {
    var j = 0
    while (j < parts.length) { parts(j) = words(s + j); j += 1 }
    UTF8String.concatWs(Space, parts: _*)
  }
}

/** The one place the engine drops below `functions._`: a custom Catalyst
  * `Expression` with real codegen. SURVEY §7.3 concluded built-ins cover
  * parity, so this exists for the hot path where expression plumbing is
  * measurably the cost: token counting over 100 TB of documents. The
  * regex spelling it replaced (`FunctionTwins.tokenCountRegex`) walks the
  * string three times through two regex engines; this is a single UTF-8
  * byte scan, fully inside whole-stage codegen, no allocation.
  *
  * Semantics match the regex spelling: count of maximal non-whitespace
  * runs (ASCII `\s` class, [[Words.isSpace]]). Every kernel below builds
  * its Column directly through `GraftColumnBridge`; SQL names come only
  * from [[graft.GraftExtensions]].
  */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_count needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TokenCount.countTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenCount.countTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)

  override def prettyName: String = "fast_token_count"
}

object TokenCount {
  /** Single pass over UTF-8 bytes; `\s`-equivalent ASCII whitespace.
    * Called from generated code — must stay a static-forwardable method. */
  def countTokens(s: UTF8String): Int = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    var count = 0
    var inToken = false
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, offset + i)
      val ws = Words.isSpace(b)
      if (!ws && !inToken) { count += 1; inToken = true }
      else if (ws) inToken = false
      i += 1
    }
    count
  }

  def token_count(c: Column): Column = column(TokenCount(expression(c)))
}

/** Count of MAXIMAL RUNS of characters from an ASCII class — the codegen
  * replacement for `size(regexp_extract_all(text, "[class]+", 0))` on the
  * per-document hot paths (readability's sentence runs `[.!?]+` and
  * vowel-group syllable proxy `[aeiouy]+`). The regex spelling walks the
  * string through the regex engine AND materializes an array of every
  * matched substring per row just to take its length; this kernel is one
  * UTF-8 byte scan against a 128-slot membership table, allocation-free,
  * fully inside whole-stage codegen.
  *
  * Byte-level membership is EXACTLY codepoint-level for ASCII-only
  * classes: every byte of a multi-byte UTF-8 codepoint is >= 0x80, never a
  * member, so non-ASCII codepoints break runs precisely like any
  * non-member ASCII char does under the regex. Constructor rejects
  * non-ASCII classes, so the equivalence is total. Parity with
  * `size(regexp_extract_all(_, "[members]+", 0))` is spec-pinned and was
  * validated corpus-wide (0 mismatches at sf1) for both readability
  * patterns before the swap. */
case class CharClassRuns(child: Expression, members: String)
    extends UnaryExpression {
  require(members.nonEmpty && members.forall(_ < 0x80),
    s"char class must be non-empty ASCII, got: '$members'")
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_class_runs needs a string, got ${child.dataType}")

  @transient private lazy val table: Array[Boolean] =
    CharClassRuns.buildTable(members)

  override def nullSafeEval(input: Any): Any =
    CharClassRuns.countRuns(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the table rides as a reference object (a boolean[] literal can't be
    // spelled inline in generated Java without a per-row rebuild)
    val tbl = ctx.addReferenceObj("charClassTable", table, "boolean[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CharClassRuns.countRuns($c, $tbl)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharClassRuns = copy(child = newChild)

  override def prettyName: String = "char_class_runs"
}

object CharClassRuns {
  private[graft] def buildTable(members: String): Array[Boolean] = {
    val t = new Array[Boolean](128)
    members.foreach(c => t(c.toInt) = true)
    t
  }

  /** Called from generated code — must stay a static-forwardable method.
    * Signed-byte trick: UTF-8 continuation/lead bytes are >= 0x80, i.e.
    * negative as a JVM byte, so `b >= 0 && table(b)` is the full
    * membership test with no masking. */
  def countRuns(s: UTF8String, table: Array[Boolean]): Int = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    var count = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, offset + i)
      val member = b >= 0 && table(b)
      if (member && !inRun) { count += 1; inRun = true }
      else if (!member) inRun = false
      i += 1
    }
    count
  }

  def char_class_runs(c: Column, members: String): Column =
    column(CharClassRuns(expression(c), members))
}

/** Cosine similarity between two float-array columns as one codegen'd
  * primitive loop — the hot inner kernel of every similarity-search scan.
  * The `zip_with`+`aggregate` HOF form allocates an intermediate array and
  * walks both inputs three times (dot, ‖a‖, ‖b‖) through interpreted lambda
  * dispatch; this reads each element once, accumulates dot and both norms
  * together, and inlines into whole-stage codegen. Accumulation order and
  * arithmetic (left-to-right doubles) match the HOF spelling
  * (`FunctionTwins.cosine`), so the two forms agree bit-for-bit. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  private def isFloatArray(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fast_cosine needs two array<float>, got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineSim.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "fast_cosine"
}

object CosineSim {
  /** Called from generated code — must stay a static-forwardable method. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  def fast_cosine(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
}

/** Decimal-exact dot product of two float arrays, as one codegen'd loop.
  *
  * The oracle-gated similarity queries need reduction-order-independent
  * sums: each element product is quantized to DECIMAL(38,18) and summed
  * exactly, so Spark and any other engine agree bit-for-bit regardless of
  * aggregation order. The relational spelling of that contract —
  * explode the products, hash-aggregate a decimal SUM — pays an explode,
  * a 64×-wider stream, and non-codegen decimal aggregation; the HOF
  * spelling (`aggregate` over `zip_with`) is worse still, interpreted
  * per element. This expression keeps the exact same quantize-then-
  * exact-sum semantics (BigDecimal.valueOf = Spark's double→decimal cast,
  * HALF_UP at scale 18; exact BigDecimal addition = decimal SUM) inside
  * one whole-stage-codegen'd pass. Returns the sum as double, like
  * `SUM(...decimal...)::double`. */
case class DecimalDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  private def isFloatArray(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"decimal_dot needs two array<float>, got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DecimalDot.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "decimal_dot"
}

/** Exact intersection size of two SORTED long-array set columns as one
  * codegen'd merge walk — the verification kernel of the exact set-sim
  * join. `size(array_intersect(a, b))` builds a hash set of one side and
  * MATERIALIZES the intersection array per candidate pair only to take its
  * length; over the ~10×-output candidate volume a prefix join emits on a
  * near-dup-heavy corpus, that per-pair allocation is the verification
  * stage's cost. This kernel merge-walks the two sorted arrays instead —
  * allocation-free, one pass, inside whole-stage codegen. Equal runs are
  * advanced past on BOTH sides, so the count keeps array_intersect's SET
  * semantics even if an encoding collision ever produced a duplicate
  * element. CONTRACT: both arrays ascending-sorted with non-null elements
  * (the set-sim join sorts at encode time); unsorted input gives an
  * undercount, so callers own the ordering invariant. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  private def isLongArray(t: DataType) = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count needs two array<bigint>, got " +
        s"${left.dataType}, ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {
  /** Called from generated code — must stay a static-forwardable method. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) {
        c += 1
        while (i < na && a.getLong(i) == x) i += 1
        while (j < nb && b.getLong(j) == x) j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}

/** Distinct word k-gram shingles as one codegen'd pass — the shared front
  * end of the whole text-dedup family (MinHash, SimHash, n-gram Jaccard,
  * decontamination). The Column spelling (lower → regex split → k-1
  * zip_with chains → null-filter → array_distinct) walks interpreted HOFs
  * and materializes every intermediate array; this kernel tokenizes the
  * lowercased text in one byte scan (ASCII `\s` classes, like the regex)
  * and emits first-occurrence-ordered distinct k-grams joined by single
  * spaces — the identical value set and order. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    WordShingles.shingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordShingles.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  /** Called from generated code — must stay a static-forwardable method. */
  def shingles(text: UTF8String,
      k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = Words.lowerWords(text)
    val out = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](k)
    var s = 0
    while (s + k <= words.length) {
      out.add(Words.shingle(words, s, parts))
      s += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = it.next(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  def word_shingles(text: Column, k: Int): Column =
    column(WordShingles(expression(text), k))
}

/** Full MinHash signature in one codegen'd pass — replaces the
  * explode-shingles → 64-column min hash-aggregate (a corpus-sized shuffle
  * of exploded shingles) with a pure projection. Two exactness facts make
  * this the identical value: (1) the per-seed min over DISTINCT shingles
  * equals the min over all shingle windows (duplicates never change a
  * min), so no dedup pass is needed; (2) `xxhash64(sh, seed)` factors as
  * `hashInt(seed, hashUnsafeBytes(sh, 42))` — the string is hashed ONCE
  * per shingle and each seed adds one integer fold, versus 64 full string
  * hashes in the relational form. Documents with fewer than k words get
  * `hashInt(seed, 42)` per seed — exactly the aggregate form's value for
  * its single explode_outer NULL row (XxHash64 SKIPS null children, so the
  * null shingle contributes nothing and the seed folds over the raw 42
  * seed; all shingle-less docs therefore share one signature). */
case class MinHashSig(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    MinHashSig.sig(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashSig.sig($c, $k, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** Called from generated code — must stay a static-forwardable method. */
  def sig(text: UTF8String, k: Int,
      numHashes: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = Words.lowerWords(text)
    if (words.length < k) {
      val empty = new Array[Any](numHashes)
      var e = 0
      while (e < numHashes) { empty(e) = XXH64.hashInt(e, 42L); e += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(empty)
    }
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val parts = new Array[UTF8String](k)
    var s = 0
    while (s + k <= words.length) {
      val sh = Words.shingle(words, s, parts)
      val base = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset,
        sh.numBytes, 42L)
      var seed = 0
      while (seed < numHashes) {
        val h = XXH64.hashInt(seed, base)
        if (h < mins(seed)) mins(seed) = h
        seed += 1
      }
      s += 1
    }
    val out = new Array[Any](numHashes)
    var o = 0
    while (o < numHashes) { out(o) = mins(o); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def minhash_sig(text: Column, k: Int, numHashes: Int): Column =
    column(MinHashSig(expression(text), k, numHashes))
}

/** SimHash signature in one codegen'd pass — replaces simhashTable's
  * explode-shingles → 64-vote hash-aggregate (corpus-sized shuffle) with a
  * pure projection. Unlike MinHash, votes run over DISTINCT shingles
  * (a duplicate would double-vote), so the kernel carries the dedup set.
  * Per distinct shingle: h = xxhash64(sh) = hashUnsafeBytes(sh, 42); bit b
  * votes +1 if (h >> b) & 1 else −1; signature bit b set iff its vote sum
  * is positive. Sub-k-word docs: the aggregate form's single explode_outer
  * NULL row hashes to the raw seed (xxhash64 skips null children → 42), so
  * that one row's sign votes ARE the bits of 42 — the shared signature for
  * all shingle-less docs is 42 masked to `bits`. */
case class SimHashSig(child: Expression, k: Int, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_sig needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    SimHashSig.sig(input.asInstanceOf[UTF8String], k, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHashSig.sig($c, $k, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)

  override def prettyName: String = "simhash_sig"
}

object SimHashSig {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** Called from generated code — must stay a static-forwardable method. */
  def sig(text: UTF8String, k: Int, bits: Int): Long = {
    val words = Words.lowerWords(text)
    if (words.length < k) // the single NULL row's hash is the seed itself
      return 42L & (if (bits >= 64) -1L else (1L << bits) - 1)
    val votes = new Array[Long](bits)
    val seen = new java.util.HashSet[UTF8String]()
    val parts = new Array[UTF8String](k)
    var s = 0
    while (s + k <= words.length) {
      val sh = Words.shingle(words, s, parts)
      if (seen.add(sh)) {
        val h = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset,
          sh.numBytes, 42L)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      s += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simhash_sig(text: Column, k: Int, bits: Int): Column =
    column(SimHashSig(expression(text), k, bits))
}

/** Order-sensitive rolling document fingerprint as one codegen'd scan —
  * the kernel form of `TextFunctions.fingerprint`'s interpreted fold
  * (`aggregate(split(norm), 0L, (acc, w) => xxhash64(acc, w))`). Each step
  * replays Spark's own XxHash64 semantics exactly: hash = seed 42 →
  * hashLong(acc) → hashUnsafeBytes(word), so values are bit-identical to
  * the HOF spelling. Whitespace-only input hashes a single empty token,
  * like `split` on a collapsed-empty string. */
case class RollingFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_fingerprint needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    RollingFingerprint.fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingFingerprint.fingerprint($c)")

  override protected def withNewChildInternal(
      newChild: Expression): RollingFingerprint = copy(child = newChild)

  override def prettyName: String = "rolling_fingerprint"
}

object RollingFingerprint {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** One xxhash64(acc, word) step, exactly XxHash64's child fold. */
  private def step(acc: Long, w: UTF8String): Long =
    XXH64.hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes,
      XXH64.hashLong(acc, 42L))

  /** Called from generated code — must stay a static-forwardable method. */
  def fingerprint(text: UTF8String): Long = {
    val words = Words.lowerWords(text)
    // split("") → one empty token
    if (words.isEmpty) step(0L, UTF8String.EMPTY_UTF8)
    else words.foldLeft(0L)(step)
  }

  def rolling_fingerprint(text: Column): Column =
    column(RollingFingerprint(expression(text)))
}

/** Random-hyperplane LSH bucket id as one codegen'd loop. The Column
  * spelling in [[Similarity.lshBucket]] is a `nPlanes × dim` tree of
  * `element_at` + multiply + add nodes (512 nodes for 8×64) — evaluated per
  * row through expression dispatch. This kernel computes the identical
  * bits (same seeded hash planes, same left-to-right double accumulation,
  * same `>= 0` sign rule) from a cached plane matrix. */
case class LshBucket(child: Expression, nPlanes: Int, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket needs array<float>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    LshBucket.bucket(input.asInstanceOf[ArrayData], nPlanes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LshBucket.bucket($c, $nPlanes, $dim)")

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)

  override def prettyName: String = "lsh_bucket"
}

object LshBucket {
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[Array[Double]]]()

  /** Plane component (p, j) = centered unit hash — identical to the Column
    * form's seeded MurmurHash3 planes. */
  def planes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nPlanes.toLong << 32) | dim,
      _ => Array.tabulate(nPlanes, dim) { (p, j) =>
        scala.util.hashing.MurmurHash3.productHash((p, j)) /
          Int.MaxValue.toDouble
      })

  /** Called from generated code — must stay a static-forwardable method. */
  def bucket(a: ArrayData, nPlanes: Int, dim: Int): Long = {
    val pl = planes(nPlanes, dim)
    val n = math.min(dim, a.numElements())
    var bits = 0L
    var p = 0
    while (p < nPlanes) {
      val row = pl(p)
      var dot = 0.0
      var j = 0
      while (j < n) {
        dot += a.getFloat(j).toDouble * row(j)
        j += 1
      }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  def lsh_bucket(vec: Column, nPlanes: Int, dim: Int): Column =
    column(LshBucket(expression(vec), nPlanes, dim))
}

object DecimalDot {
  /** Called from generated code — must stay a static-forwardable method. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      val p = a.getFloat(i).toDouble * b.getFloat(i).toDouble
      // valueOf = shortest decimal repr of the double, exactly Spark's
      // CAST(double AS DECIMAL); setScale(18, HALF_UP) = changePrecision
      sum = sum.add(java.math.BigDecimal.valueOf(p)
        .setScale(18, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    sum.doubleValue()
  }

  def decimal_dot(a: Column, b: Column): Column =
    column(DecimalDot(expression(a), expression(b)))
}

/** Quantized cosine over two int8-quantized vectors, each packed as
  * `struct<q8: array<tinyint>, scale: float, norm: float>` (see
  * [[Quantize.quantize]]). One integer-accumulating pass:
  * cos ≈ (Σ qa·qb)·sa·sb / (‖a‖·‖b‖). The int dot runs on 4× smaller data
  * than float32 — the memory/IO-bound regime of 100 TB similarity search —
  * and inlines into whole-stage codegen. */
case class CosineQ8(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: DataType = DoubleType
  private def isQVec(t: DataType): Boolean = t match {
    case StructType(Array(
      StructField(_, ArrayType(ByteType, _), _, _),
      StructField(_, FloatType, _, _),
      StructField(_, FloatType, _, _))) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isQVec(left.dataType) && isQVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_q8 needs two struct<array<tinyint>,float,float>, got " +
        s"${left.dataType}, ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineQ8.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
      b.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.CosineQ8.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineQ8 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_q8"
}

object CosineQ8 {
  /** Called from generated code — must stay a static-forwardable method. */
  def cosine(a: org.apache.spark.sql.catalyst.InternalRow,
      b: org.apache.spark.sql.catalyst.InternalRow): Double = {
    val qa = a.getArray(0)
    val qb = b.getArray(0)
    val n = math.min(qa.numElements(), qb.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += qa.getByte(i).toLong * qb.getByte(i).toLong
      i += 1
    }
    val d = a.getFloat(2).toDouble * b.getFloat(2).toDouble
    if (d == 0.0) 0.0
    else dot * a.getFloat(1).toDouble * b.getFloat(1).toDouble / d
  }

  def cosine_q8(a: Column, b: Column): Column =
    column(CosineQ8(expression(a), expression(b)))
}

/** All k-word-window Buzhash values of a word array in ONE O(n) pass —
  * the scan kernel behind exact-substring dedup (`SubstrDedup`). The
  * Column spelling (`TextFunctions.windowHashes`: per-window
  * slice+aggregate through interpreted HOFs) recomputes every window from
  * scratch — O(n·k) hash folds; the cyclic polynomial rolls in O(1) per
  * step (rotl1(H) ⊕ rotl_k(h_out) ⊕ h_in), so this kernel is O(n) with
  * one word-hash each. Bit-identical to the Column form (same xxhash64
  * seed-42 word hashes, same rotate-XOR fold; rotation counts reduce mod
  * 64 in both spellings), asserted by FastExprAndIvfSpec.
  */
case class WindowHashes(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"window_hashes needs array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    WindowHashes.hashes(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WindowHashes.hashes($c, $k)")

  override protected def withNewChildInternal(
      newChild: Expression): WindowHashes = copy(child = newChild)

  override def prettyName: String = "window_hashes"
}

object WindowHashes {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** Called from generated code — must stay a static-forwardable method. */
  def hashes(words: ArrayData, k: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = words.numElements()
    val m = n - k + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val h = new Array[Long](n)
    var j = 0
    while (j < n) {
      val s = words.getUTF8String(j)
      // null word → the raw seed, exactly xxhash64(NULL) (null children
      // leave the running hash untouched) — matches the tree form
      h(j) = if (s == null) 42L
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
      j += 1
    }
    val out = new Array[Long](m)
    var acc = 0L
    j = 0
    while (j < k) { acc = java.lang.Long.rotateLeft(acc, 1) ^ h(j); j += 1 }
    out(0) = acc
    var i = 1
    while (i < m) {
      acc = java.lang.Long.rotateLeft(acc, 1) ^
        java.lang.Long.rotateLeft(h(i - 1), k) ^ h(i + k - 1)
      out(i) = acc
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def window_hashes(words: Column, k: Int): Column =
    column(WindowHashes(expression(words), k))
}

/** Fused `split(text, "") → bpe merge passes → token array` in ONE kernel —
  * the r14 replacement for the split + [[BpeApply]] pipeline under
  * `Bpe.encode`. The two-step spelling materializes one UTF8String PER
  * CHARACTER (the split), converts each to a java String, walks the merge
  * passes over String equality, then re-encodes every surviving token.
  * This kernel never materializes the character array: BPE merges only
  * ever concatenate ADJACENT tokens, so every token is a contiguous byte
  * range of the input — the whole computation is a boundary-offset array
  * walked in place, and output tokens are byte SLICES of the input.
  *
  * Equivalence to split+BpeApply (spec-pinned in R14OperatorSpec on
  * multibyte/emoji/empty/adversarial-merge corpora):
  *  - the initial boundaries replay `UTF8String.split`'s empty-pattern
  *    fast path verbatim (n = numChars tokens, each sized by
  *    numBytesForFirstByte, the LAST token absorbing any remaining bytes;
  *    empty input → [""], the regex path's behavior — both read from the
  *    4.1.2 bytecode and pinned empirically);
  *  - each merge pass is the same greedy left-to-right (a,b)→ab scan,
  *    with token equality as UTF-8 byte equality — identical to String
  *    equality on valid UTF-8 (byte-faithful on invalid sequences, where
  *    the old path degraded them to replacement characters; no table in
  *    this engine stores invalid UTF-8).
  */
case class BpeSegments(child: Expression, merges: Array[Array[String]])
    extends UnaryExpression {
  // same element type the replaced BpeApply subtree exposed downstream
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_segments needs a string, got $t")
  }

  // merge symbols as UTF-8 bytes, once per expression: slot 2m = left,
  // 2m+1 = right
  private lazy val mergeBytes: Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](merges.length * 2)
    var m = 0
    while (m < merges.length) {
      out(2 * m) = merges(m)(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out(2 * m + 1) = merges(m)(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      m += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    BpeSegments.segments(input.asInstanceOf[UTF8String], mergeBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMergeBytes", mergeBytes, "byte[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeSegments.segments($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSegments =
    copy(child = newChild)

  override def prettyName: String = "bpe_segments"
}

object BpeSegments {
  /** Called from generated code — static-forwardable, not named `apply`
    * (a case class inherits TreeNode.apply(Int), which suppresses the
    * companion's static forwarder — Janino would then fail to compile). */
  def segments(str: UTF8String, mergeBytes: Array[Array[Byte]]):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val total = str.numBytes()
    if (total == 0) // split("", "") == [""] (regex path, pinned empirically)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.EMPTY_UTF8))
    val bytes = str.getBytes()
    // initial boundaries: UTF8String.split's empty-pattern walk — token i
    // of n-1 sized by its first byte, the last token takes the remainder
    var n = str.numChars()
    val starts = new Array[Int](n + 1)
    var i = 0
    while (i < n - 1) {
      starts(i + 1) = starts(i) +
        UTF8String.numBytesForFirstByte(bytes(starts(i)))
      i += 1
    }
    starts(n) = total
    @inline def tokEq(t: Int, sym: Array[Byte]): Boolean = {
      val s = starts(t)
      if (starts(t + 1) - s != sym.length) false
      else {
        var k = 0
        while (k < sym.length && bytes(s + k) == sym(k)) k += 1
        k == sym.length
      }
    }
    var m = 0
    while (m < mergeBytes.length) {
      val a = mergeBytes(m); val b = mergeBytes(m + 1)
      var r = 0; var w = 0
      while (r < n) {
        starts(w) = starts(r) // w <= r: reads at r/r+1/r+2 stay intact
        if (r + 1 < n && tokEq(r, a) && tokEq(r + 1, b)) r += 2 else r += 1
        w += 1
      }
      starts(w) = total
      n = w
      m += 2
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = UTF8String.fromBytes(bytes, starts(i), starts(i + 1) - starts(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def bpe_segments(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeSegments(expression(text),
      merges.map(p => Array(p._1, p._2)).toArray))
}

/** Unicode accent folding — NFD-decompose then drop every combining mark,
  * the `strip_accents` every crawl-normalization pass runs before
  * tokenization ("café" → "cafe"). Java's `Normalizer` NFD + mark removal
  * produces byte-identical output to utf8proc-based engines for
  * decomposable Latin text (cross-checked against the DuckDB oracle by
  * `q_doc_accent_fold`). Pure-ASCII inputs short-circuit without
  * allocating — at corpus scale most documents never pay the
  * normalization cost. */
case class AccentFold(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"accent_fold needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    AccentFold.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AccentFold.fold($c)")

  override protected def withNewChildInternal(newChild: Expression): AccentFold =
    copy(child = newChild)

  override def prettyName: String = "accent_fold"
}

object AccentFold {
  private val Marks = java.util.regex.Pattern.compile("\\p{M}+")

  /** Called from generated code — must stay a static-forwardable method
    * (no overload sharing the name, see the BpeApply round-2 lesson). */
  def fold(s: UTF8String): UTF8String = {
    // ASCII fast path: NFD is identity and no marks exist — return the
    // input buffer untouched
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if ((org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0x80) != 0)
        ascii = false
      i += 1
    }
    if (ascii) s
    else {
      val d = java.text.Normalizer.normalize(s.toString,
        java.text.Normalizer.Form.NFD)
      UTF8String.fromString(Marks.matcher(d).replaceAll(""))
    }
  }

  def accent_fold(c: Column): Column = column(AccentFold(expression(c)))
}

/** Kept-lines filter as ONE codegen kernel — the replacement for the
  * interpreted `filter(lines, l => ...)` HOF in
  * [[TextFunctions.filterLinesArr]], whose per-line lambda ran FOUR regex
  * passes (`\s+` collapse, space strip, `[^A-Z]` strip, `[^A-Za-z]` strip)
  * through interpreted expression dispatch per line. This kernel makes one
  * byte scan per line for the three counts and touches the boilerplate set
  * only for lines that survive the cheap tests.
  *
  * Exact-equivalence argument, predicate by predicate (parity is
  * spec-pinned against the HOF spelling in R13OperatorSpec):
  *  - word count: `trim(regexp_replace(l, "\\s+", " "))` then
  *    spaces+1 (0 when empty) ≡ the number of maximal non-`\s` runs —
  *    counted exactly like [[TokenCount]] (same ASCII `\s` class; every
  *    byte of a multi-byte codepoint is ≥ 0x80, never whitespace).
  *  - upper/alpha counts: `length(regexp_replace(l, "[^A-Z]", ""))` counts
  *    remaining CHARS; bytes in [A-Z] are exactly those chars (no UTF-8
  *    continuation/lead byte falls in an ASCII letter range).
  *  - the ratio test replays `up·10⁴ > alpha·upperScaledE4` in long
  *    arithmetic (the Column spelling's int multiply would ANSI-overflow
  *    first on a ≥215k-upper-char line; no real line is within 1000× of
  *    that).
  *  - boilerplate: `lower(trim(l)).isin(...)` ≡ set membership of
  *    `l.trim().toLowerCase()` — the SAME UTF8String trim (0x20 only) and
  *    full-Unicode lowercase the built-ins call.
  * A null line element makes the HOF's predicate null, which `filter`
  * drops; the kernel skips null slots identically. */
case class KeptLines(child: Expression, minWords: Int, upperScaledE4: Int,
    boilerplate: Seq[String]) extends UnaryExpression {
  require(minWords >= 0 && upperScaledE4 >= 0, "bounds must be >= 0")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"kept_lines needs array<string>, got $t")
  }

  @transient private lazy val boilerSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    boilerplate.foreach(b => s.add(UTF8String.fromString(b)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    KeptLines.kept(input.asInstanceOf[ArrayData], minWords, upperScaledE4,
      boilerSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("keptLinesBoiler", boilerSet,
      "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.KeptLines.kept($c, $minWords, $upperScaledE4, $set)")
  }

  override protected def withNewChildInternal(newChild: Expression): KeptLines =
    copy(child = newChild)

  override def prettyName: String = "kept_lines"
}

object KeptLines {
  /** Called from generated code — must stay a static-forwardable method. */
  def kept(lines: ArrayData, minWords: Int, upperScaledE4: Int,
      boiler: java.util.HashSet[UTF8String]): ArrayData = {
    val n = lines.numElements()
    val out = new Array[Any](n)
    var m = 0
    var idx = 0
    while (idx < n) {
      if (!lines.isNullAt(idx)) {
        val l = lines.getUTF8String(idx)
        val nb = l.numBytes()
        val base = l.getBaseObject
        val off = l.getBaseOffset
        var words = 0
        var inTok = false
        var up = 0L
        var alpha = 0L
        var i = 0
        while (i < nb) {
          val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
          val ws = Words.isSpace(b)
          if (!ws && !inTok) { words += 1; inTok = true }
          else if (ws) inTok = false
          if (b >= 'A' && b <= 'Z') { up += 1; alpha += 1 }
          else if (b >= 'a' && b <= 'z') alpha += 1
          i += 1
        }
        val keep = words >= minWords &&
          !(alpha > 0 && up * 10000L > alpha * upperScaledE4) &&
          !boiler.contains(l.trim().toLowerCase())
        if (keep) { out(m) = l; m += 1 }
      }
      idx += 1
    }
    val trimmed = if (m == n) out else java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], m).asInstanceOf[Array[Any]]
    new org.apache.spark.sql.catalyst.util.GenericArrayData(trimmed)
  }

  def kept_lines(c: Column, minWords: Int, upperScaledE4: Int,
      boilerplate: Seq[String]): Column =
    column(KeptLines(expression(c), minWords, upperScaledE4, boilerplate))
}
