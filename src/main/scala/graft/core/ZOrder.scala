package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-order (Morton-curve) clustering — the multi-column data-layout tool
  * behind min/max data skipping: rows close on the curve are close in BOTH
  * key dimensions, so range-partitioning + sorting by the curve value gives
  * every parquet file a tight bounding box in each column and scans with
  * predicates on EITHER column prune most files. A single-column sort gets
  * skipping on that column only; Z-order buys it on all curve columns at
  * once. The curve value is pure bit arithmetic — engine-portable and
  * oracle-replayable, unlike hash-based clustering.
  */
object ZOrder {

  /** 2-D Morton value: interleave the low `bits` bits of two non-negative
    * integer columns (x gets the even bit positions, y the odd ones).
    * `bits ≤ 31` keeps the result inside a signed 64-bit long. Callers
    * quantize real-valued keys to non-negative ints first (floor offsets /
    * fixed-point), which also pins the semantic the oracle replays. */
  def zValue2(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]: $bits")
    val xl = x.cast(LongType); val yl = y.cast(LongType)
    (0 until bits).map { b =>
      shiftleft(shiftrightunsigned(xl, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(yl, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce((a, c) => a.bitwiseOR(c))
  }

  /** N-dimensional Morton value: bit i of column j lands at position
    * `i·n + j`. `bits·n ≤ 63` keeps the value in a signed long — at 3
    * columns that's 21 bits (2M distinct quantized values) per dimension,
    * plenty for file-level skipping. Same portable bit arithmetic as
    * [[zValue2]]. */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, "need at least two columns")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits*cols must fit a signed long: $bits*${cols.size}")
    val n = cols.size
    val parts = for {
      (c, j) <- cols.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(
      shiftrightunsigned(c.cast(LongType), b).bitwiseAND(lit(1L)),
      b * n + j)
    parts.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Re-layout `df` for two-dimensional data skipping: range-partition on
    * the curve value (one shuffle — the same cost a plain sort pays), sort
    * within partitions, drop the helper column. Write the result with any
    * sink; each output file then covers a tight (xCol, yCol) rectangle. */
  def clusterBy2(df: DataFrame, xCol: String, yCol: String,
      numPartitions: Int, bits: Int = 21): DataFrame = {
    val z = Names.fresh("_zorder", df.columns)
    df.withColumn(z, zValue2(col(xCol), col(yCol), bits))
      .repartitionByRange(numPartitions, col(z))
      .sortWithinPartitions(col(z))
      .drop(z)
  }
}

/** Hilbert-curve clustering — Z-order's stronger sibling. The Morton curve
  * takes long diagonal jumps at power-of-two boundaries (cell 0b0111→0b1000
  * teleports across the grid), so a file of consecutive Morton values can
  * still span a wide bounding box there; the Hilbert curve is CONTINUOUS —
  * every consecutive pair of curve positions is grid-ADJACENT (Manhattan
  * distance exactly 1), which is precisely why Delta/Iceberg grew
  * `OPTIMIZE ... HILBERT`: tighter per-file boxes ⇒ more files skipped per
  * range predicate. The price: the index is a bit-level state machine
  * (quadrant rotations), not a pure bit-interleave — implemented here as a
  * codegen'd expression (a tight `bits`-step loop, no allocation), with
  * the same quantize-first contract as [[ZOrder]]. The curve's adjacency +
  * bijection properties give the oracle a complete structural replay. */
object Hilbert {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}

  /** xy → curve position on the 2^bits × 2^bits grid (the classic
    * rotate-and-accumulate walk from coarsest bit to finest; Hamilton's
    * formulation). Static so generated code can call it directly. */
  def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the sub-quadrant so the walk stays continuous
      if (ry == 0L) {
        if (rx == 1L) {
          val n = 1L << bits
          x = n - 1 - x
          y = n - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Curve position for two quantized non-negative integer columns;
    * `bits` per dimension (`2·bits ≤ 62`). Codegen'd — one static call
    * per row, no boxing. */
  def hValue2(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]: $bits")
    org.apache.spark.sql.GraftColumnBridge.column(HilbertExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(x.cast(LongType)),
      org.apache.spark.sql.GraftColumnBridge.expression(y.cast(LongType)),
      bits))
  }

  /** Range-partition + sort by the Hilbert value — drop-in for
    * [[ZOrder.clusterBy2]] where range-scan locality matters most. */
  def clusterBy2(df: DataFrame, xCol: String, yCol: String,
      numPartitions: Int, bits: Int = 21): DataFrame = {
    val h = Names.fresh("_hilbert", df.columns)
    df.withColumn(h, hValue2(col(xCol), col(yCol), bits))
      .repartitionByRange(numPartitions, col(h))
      .sortWithinPartitions(col(h))
      .drop(h)
  }

  private[graft] case class HilbertExpr(left: Expression, right: Expression,
      bits: Int) extends BinaryExpression {
    override def dataType: org.apache.spark.sql.types.DataType = LongType
    override def nullSafeEval(x: Any, y: Any): Any =
      xy2d(bits, x.asInstanceOf[Long], y.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (x, y) => s"graft.core.Hilbert.xy2d($bits, $x, $y)")
    override protected def withNewChildrenInternal(newLeft: Expression,
        newRight: Expression): HilbertExpr =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "hilbert_xy2d"
  }
}
