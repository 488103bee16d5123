package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  Add, AttributeReference, BinaryExpression, BitwiseAnd, BitwiseNot,
  BitwiseOr, EvalMode, Expression, GetStructField, If, IsNotNull, IsNull,
  Literal, Or, ShiftRightUnsigned, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Exact 128-bit decimal-sum kernel — the allocation-free replacement for
  * `sum(cast(x as decimal(38,10)))` on the hot aggregate paths
  * ([[graft.core.Semantics.exactSum]]/[[graft.core.Semantics.exactAvg]],
  * [[graft.operators.Correlation.matrix]]'s moment pass).
  *
  * Why: the built-in spelling pays, PER ROW, `Double.toString` → BigDecimal
  * parse → `setScale(10, HALF_UP)` → a heap `Decimal` → a BigDecimal add
  * into the buffer (r13 probe: the identical aggregate with plain double
  * sums is 13× faster — the entire gap is this conversion+add machinery).
  * This kernel converts each value to the SAME scaled-by-10¹⁰ integer the
  * cast produces, as a two-long int128, and accumulates with three
  * primitive ops into two mutable LongType buffer slots — a
  * [[DeclarativeAggregate]], so the whole update stays inside whole-stage
  * codegen (an ImperativeAggregate would disable WSCG for the aggregate:
  * `AggregateCodegenSupport.supportCodegen` rejects them).
  *
  * Bit-parity argument (spec-pinned in Dec128Spec against the cast
  * spelling on adversarial inputs):
  *  - `cast(double as decimal(38,10))` is
  *    `BigDecimal(Double.toString(d)).setScale(10, HALF_UP)`, nulled when
  *    the result needs > 38 digits (non-ANSI cast overflow). [[Dec128]]
  *    parses the SAME shortest-repr string (≤ 17 significant digits, fits
  *    a long) and replays setScale digit-exactly: appending `shift` zeros
  *    when the scaled value gains digits, or dropping `-shift` digits with
  *    first-dropped-digit ≥ 5 rounding — exactly HALF_UP, because the
  *    dropped remainder `d·10ᵏ⁻¹ + rest` (rest < 10ᵏ⁻¹) is ≥ half iff
  *    d ≥ 5. NaN/±Inf → null like the cast; -0.0 → 0 like BigDecimal.
  *  - integral casts are exactly `v · 10¹⁰` (never > 29 digits): one
  *    signed 64×64→128 multiply (`Math.multiplyHigh`).
  *  - float casts widen to double first (`Cast` calls
  *    `Decimal(f.toDouble)`), so the double path applies verbatim.
  *  - the sum: 128-bit two's-complement addition is associative and wraps
  *    mod 2¹²⁸, so any intermediate excursion above 38 digits that returns
  *    into range yields the exact sum, matching Spark's unbounded
  *    BigDecimal buffer; the final value nulls when |sum| ≥ 10³⁸ exactly
  *    like `CheckOverflowInSum` (nullOnOverflow). Sole divergence: a TRUE
  *    sum beyond ±2¹²⁷ (≈1.7·10³⁸) aliases mod 2¹²⁸ instead of nulling —
  *    reachable only past ~10²³ rows of near-max-magnitude values, i.e.
  *    outside any physical dataset (Spark itself nulls from 10³⁸).
  *  - the result Decimal carries the identical (unscaled BigInteger,
  *    scale 10) pair the built-in sum serializes, so every downstream cast
  *    (`.cast(double)` in exactSum/exactAvg/Correlation) sees identical
  *    bits.
  */
object Dec128 {
  val structType: StructType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  private val POW10L: Array[Long] = {
    val a = new Array[Long](19)
    a(0) = 1L
    var i = 1
    while (i < 19) { a(i) = a(i - 1) * 10L; i += 1 }
    a
  }
  // 10^0 .. 10^38 as unsigned int128 halves (38 digits is the precision cap)
  private val (pow10Hi, pow10Lo): (Array[Long], Array[Long]) = {
    val hi = new Array[Long](39)
    val lo = new Array[Long](39)
    var i = 0
    var v = java.math.BigInteger.ONE
    while (i < 39) {
      hi(i) = v.shiftRight(64).longValue()
      lo(i) = v.longValue()
      v = v.multiply(java.math.BigInteger.TEN)
      i += 1
    }
    (hi, lo)
  }
  private val TEN_POW_38 = java.math.BigInteger.TEN.pow(38)

  /** High 64 bits of the unsigned 64×64 product where `a >= 0`. */
  @inline private def umulHiNonNegA(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + ((b >> 63) & a)

  private def row(hi: Long, lo: Long): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](hi, lo))

  private def overflowError(v: java.math.BigDecimal): ArithmeticException =
    org.apache.spark.sql.GraftErrorsBridge.decimalOverflow(Decimal(v), 38, 10)

  /** Per-thread direct-mapped memo of completed double→int128 conversions,
    * one 1024-slot table per scale (a row may mix scale-10 and scale-18
    * sums). Analytics columns are low-cardinality (discounts, quantities,
    * bucketed scores), so identical bit patterns recur millions of times;
    * a hit returns the PREVIOUSLY COMPUTED result for the same bits —
    * parity-safe by construction, no re-derivation to get wrong. Slot
    * layout: 3 longs (rawBits key, hi, lo); key 0 = empty is unambiguous
    * because ±0.0 never reaches the cache (handled before it). Tasks are
    * single-threaded, so the thread-local table is race-free. */
  private val convCache = new ThreadLocal[Array[Array[Long]]]() {
    override def initialValue(): Array[Array[Long]] = new Array[Array[Long]](19)
  }

  /** `round(shortestRepr(d) · 10ˢᶜᵃˡᵉ, HALF_UP)` as int128; NaN/Inf → null
    * (the cast's behavior in BOTH eval modes); > 38 digits → null with
    * `ansi=false`, the cast's NUMERIC_VALUE_OUT_OF_RANGE with `ansi=true`.
    * Called from generated code — must stay a static-forwardable method. */
  def fromDouble(d: Double, scale: Int, ansi: Boolean): InternalRow = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return null
    if (d == 0.0) return row(0L, 0L) // covers -0.0 (BigDecimal has no -0)
    // integral fast path: |d| < 10⁷ and integral → the exact binary
    // expansion terminates at the decimal point, so EVERY round-tripping
    // repr Double.toString can emit ("N.0") has exactly the value N and
    // the cast yields N·10ˢᶜᵃˡᵉ — no string needed (≤ 10²⁵, fits int128).
    if (d == Math.rint(d) && Math.abs(d) < 1e7) return fromLong(d.toLong, scale)
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val caches = convCache.get()
    var cache = caches(scale)
    if (cache == null) { cache = new Array[Long](3 * 1024); caches(scale) = cache }
    val slot = 3 * ((bits * -7046029254386353131L) >>> 54).toInt
    if (cache(slot) == bits) return row(cache(slot + 1), cache(slot + 2))
    val r = fromDoubleSlow(d, scale, ansi)
    if (r != null) {
      cache(slot) = bits
      cache(slot + 1) = r.getLong(0)
      cache(slot + 2) = r.getLong(1)
    }
    r
  }

  private def fromDoubleSlow(d: Double, scale: Int, ansi: Boolean): InternalRow = {
    val s = java.lang.Double.toString(d) // the string the cast parses
    val n = s.length
    var i = 0
    var neg = false
    if (s.charAt(0) == '-') { neg = true; i = 1 }
    var mant = 0L // significant digits as an integer (≤ 17 digits for Ryu)
    var nd = 0    // count of those digits
    var frac = 0  // digits after the '.'
    var exp = 0
    var seenDot = false
    var ok = true
    while (i < n && ok) {
      val c = s.charAt(i)
      if (c == '.') seenDot = true
      else if (c == 'E' || c == 'e') {
        i += 1
        var esign = 1
        if (s.charAt(i) == '-') { esign = -1; i += 1 }
        else if (s.charAt(i) == '+') i += 1
        var e = 0
        while (i < n) { e = e * 10 + (s.charAt(i) - '0'); i += 1 }
        exp = esign * e
        i = n
      } else {
        if (mant != 0L || c != '0') {
          if (nd >= 18) ok = false // defensive: exotic repr → exact slow path
          else { mant = mant * 10L + (c - '0'); nd += 1 }
        }
        if (seenDot) frac += 1
      }
      i += 1
    }
    if (!ok) return fromBigDecimalString(s, scale, ansi)
    if (mant == 0L) return row(0L, 0L)
    val shift = exp - frac + scale
    var hi = 0L
    var lo = 0L
    if (shift >= 0) {
      if (nd + shift > 38) { // cast overflow
        if (ansi) throw overflowError(new java.math.BigDecimal(s))
        return null
      }
      hi = mant * pow10Hi(shift) + umulHiNonNegA(mant, pow10Lo(shift))
      lo = mant * pow10Lo(shift)
    } else {
      val drop = -shift
      var kept = 0L
      if (drop <= 18) {
        kept = mant / POW10L(drop)
        if ((mant / POW10L(drop - 1)) % 10L >= 5L) kept += 1L // HALF_UP
      } // drop > 18 with ≤ 18-digit mant → 0 (first dropped digit is 0)
      lo = kept
    }
    if (neg) { lo = -lo; hi = ~hi + (if (lo == 0L) 1L else 0L) }
    row(hi, lo)
  }

  /** Exact fallback mirroring the cast literally — unreachable for JDK
    * `Double.toString` output (≤ 17 significant digits); kept so a future
    * repr change degrades to slow-but-identical instead of wrong. */
  private def fromBigDecimalString(s: String, scale: Int,
      ansi: Boolean): InternalRow = {
    val bd = new java.math.BigDecimal(s)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
    val unscaled = bd.unscaledValue()
    if (unscaled.abs().compareTo(TEN_POW_38) >= 0) {
      if (ansi) throw overflowError(new java.math.BigDecimal(s))
      return null
    }
    row(unscaled.shiftRight(64).longValue(), unscaled.longValue())
  }

  /** `cast(long as decimal(38,scale))` — exactly `v · 10ˢᶜᵃˡᵉ`, never
    * overflows 38 digits (19 + 18 ≤ 37). Called from generated code. */
  def fromLong(v: Long, scale: Int): InternalRow =
    row(Math.multiplyHigh(v, POW10L(scale)), v * POW10L(scale))

  /** Final (hi, lo) → Decimal(38,scale); |unscaled| ≥ 10³⁸ follows the
    * CheckOverflowInSum contract (null non-ANSI, throw ANSI). Once per
    * group — clarity over speed. */
  def toDecimal(hi: Long, lo: Long, scale: Int, ansi: Boolean): Decimal = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(i + 8) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    val unscaled = new java.math.BigInteger(bytes)
    if (unscaled.abs().compareTo(TEN_POW_38) >= 0) {
      if (ansi) throw org.apache.spark.sql.GraftErrorsBridge
        .decimalSumOverflow() // CheckOverflowInSum's ARITHMETIC_OVERFLOW
      null
    } else Decimal(new java.math.BigDecimal(unscaled, scale), 38, scale)
  }

  /** Column form of the aggregate (library path, no registry round-trip).
    * `scale` picks the decimal(38, scale) accumulation the call site used
    * to spell as a cast — 10 for amounts, 0 for exact long products, 18
    * for log-scores. */
  def sumExact(c: Column, scale: Int = 10): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      Dec128Sum(org.apache.spark.sql.GraftColumnBridge.expression(c), scale)
        .toAggregateExpression())

  private[functions] def acceptsType(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | LongType | IntegerType | ShortType |
         ByteType => true
    case _ => false
  }
}

/** Scalar conversion: numeric value → struct<hi,lo> int128 of the scaled
  * decimal; mirrors the cast's null/throw contract per eval mode (`ansi`
  * captured at construction, exactly like `Cast`). One evaluation per row
  * (the aggregate's update expressions share it via codegen subexpression
  * elimination). */
case class Dec128Conv(child: Expression, scale: Int,
    ansi: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends UnaryExpression {
  require(scale >= 0 && scale <= 18, s"scale must be in [0, 18], got $scale")
  override def dataType: DataType = Dec128.structType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (Dec128.acceptsType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dec128_conv needs double/float/integral input, got ${child.dataType}" +
        " (decimal/string callers keep the cast spelling)")

  override def nullSafeEval(input: Any): Any = child.dataType match {
    case DoubleType =>
      Dec128.fromDouble(input.asInstanceOf[Double], scale, ansi)
    case FloatType =>
      Dec128.fromDouble(input.asInstanceOf[Float].toDouble, scale, ansi)
    case LongType => Dec128.fromLong(input.asInstanceOf[Long], scale)
    case IntegerType => Dec128.fromLong(input.asInstanceOf[Int].toLong, scale)
    case ShortType => Dec128.fromLong(input.asInstanceOf[Short].toLong, scale)
    case ByteType => Dec128.fromLong(input.asInstanceOf[Byte].toLong, scale)
    case t => throw new IllegalStateException(s"unreachable: $t")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = child.dataType match {
      case DoubleType =>
        (c: String) => s"graft.functions.Dec128.fromDouble($c, $scale, $ansi)"
      case FloatType =>
        (c: String) =>
          s"graft.functions.Dec128.fromDouble((double) $c, $scale, $ansi)"
      case _ =>
        (c: String) => s"graft.functions.Dec128.fromLong((long) $c, $scale)"
    }
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = ${call(c)};
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Dec128Conv =
    copy(child = newChild)

  override def prettyName: String = "dec128_conv"
}

/** Final conversion: buffer (hi, lo) → Decimal(38,10); 38-digit overflow
  * nulls (non-ANSI) or throws (ANSI) per the CheckOverflowInSum contract. */
case class Dec128ToDec(left: Expression, right: Expression, scale: Int,
    ansi: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends BinaryExpression {
  require(scale >= 0 && scale <= 18, s"scale must be in [0, 18], got $scale")
  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("dec128_to_dec needs (long, long)")

  override def nullSafeEval(hi: Any, lo: Any): Any =
    Dec128.toDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long], scale, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) => s"""
      ${ev.value} = graft.functions.Dec128.toDecimal($h, $l, $scale, $ansi);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dec128ToDec =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dec128_to_dec"
}

/** The aggregate: `sum(cast(child as decimal(38,10)))` with a two-long
  * int128 buffer. Declarative so the update stays in whole-stage codegen;
  * adds are EvalMode.LEGACY (java wrapping) because the low word is an
  * unsigned 64-bit chunk whose wrap IS the carry arithmetic. */
case class Dec128Sum(child: Expression, scale: Int = 10)
    extends DeclarativeAggregate {
  require(scale >= 0 && scale <= 18, s"scale must be in [0, 18], got $scale")
  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = true
  override def dataType: DataType = DecimalType(38, scale)
  override def checkInputDataTypes(): TypeCheckResult =
    if (Dec128.acceptsType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dec128_sum needs double/float/integral input, got ${child.dataType}")

  private lazy val hi = AttributeReference("dec128_hi", LongType,
    nullable = false)()
  private lazy val lo = AttributeReference("dec128_lo", LongType,
    nullable = false)()
  private lazy val seen = AttributeReference("dec128_seen", BooleanType,
    nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  @inline private def addLegacy(l: Expression, r: Expression): Expression =
    Add(l, r, EvalMode.LEGACY)
  /** carry-out of the unsigned 64-bit add `a + b = s`:
    * `((a & b) | ((a | b) & ~s)) >>> 63`. */
  private def carry(a: Expression, b: Expression, s: Expression): Expression =
    ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(a, b), BitwiseAnd(BitwiseOr(a, b), BitwiseNot(s))),
      Literal(63))

  override lazy val updateExpressions: Seq[Expression] = {
    val v = Dec128Conv(child, scale)
    val vhi = GetStructField(v, 0, Some("hi"))
    val vlo = GetStructField(v, 1, Some("lo"))
    val sumLo = addLegacy(lo, vlo)
    val sumHi = addLegacy(addLegacy(hi, vhi), carry(lo, vlo, sumLo))
    Seq(
      If(IsNull(v), hi, sumHi),
      If(IsNull(v), lo, sumLo),
      Or(seen, IsNotNull(v)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val sumLo = addLegacy(lo.left, lo.right)
    Seq(
      addLegacy(addLegacy(hi.left, hi.right), carry(lo.left, lo.right, sumLo)),
      sumLo,
      Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    If(seen, Dec128ToDec(hi, lo, scale), Literal(null, DecimalType(38, scale)))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Dec128Sum =
    copy(child = newChildren.head)

  override def prettyName: String = "dec128_sum"
}
