package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AccentFold, CosineQ8, CosineSim, DecimalDot, TokenCount, WindowHashes}

/** The only way to graft's codegen kernels by SQL name: with
  * `spark.sql.extensions=graft.GraftExtensions` (cluster conf — static, so
  * it must be set before the SparkContext exists) or
  * `SparkSession.builder.withExtensions(new GraftExtensions()(_))`
  * (library route), `fast_token_count`, `fast_cosine`, `decimal_dot`,
  * `cosine_q8`, `window_hashes` and `accent_fold` resolve by name in SQL
  * and `expr`. Scala code needs none of this: each kernel object
  * builds its Column directly (`TokenCount.token_count`, ...). The
  * idiomatic way a library ships Catalyst extensions (the same hook used
  * for custom rules/strategies, which graft does not need — built-in
  * operators cover parity; SURVEY §4.2).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("fast_token_count"),
      info("fast_token_count", "_FUNC_(text) - whitespace token count, single byte scan"),
      (exprs: Seq[Expression]) => TokenCount(exprs.head)))
    ext.injectFunction((FunctionIdentifier("fast_cosine"),
      info("fast_cosine", "_FUNC_(a, b) - one-pass cosine over two array<float>"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("decimal_dot"),
      info("decimal_dot", "_FUNC_(a, b) - decimal-exact dot product of two array<float>"),
      (exprs: Seq[Expression]) => DecimalDot(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("cosine_q8"),
      info("cosine_q8", "_FUNC_(a, b) - cosine of two int8-quantized vector structs"),
      (exprs: Seq[Expression]) => CosineQ8(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("accent_fold"),
      info("accent_fold", "_FUNC_(text) - NFD-decompose and drop combining marks"),
      (exprs: Seq[Expression]) => AccentFold(exprs.head)))
    ext.injectFunction((FunctionIdentifier("window_hashes"),
      info("window_hashes", "_FUNC_(words, k) - Buzhash of every k-word window, one O(n) pass"),
      (exprs: Seq[Expression]) => {
        if (!exprs(1).foldable)
          throw new IllegalArgumentException(
            "window_hashes: k must be a literal")
        val k = exprs(1).eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"window_hashes: integer k required, got $other")
        }
        require(k >= 2 && k <= 512, s"window_hashes: k in [2, 512], got $k")
        WindowHashes(exprs.head, k)
      }))
  }
}
