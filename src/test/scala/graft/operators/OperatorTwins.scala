package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference spellings of operator hot paths: the forms each fast path
  * replaced. Nothing in the engine calls them; specs pin every fast path
  * equal to its twin here. */
object OperatorTwins {
  /** The interpreted-HOF spelling `MinHashDedup.shingles` replaced. */
  private[graft] def shinglesTreeForm(text: Column, k: Int = 3): Column = {
    val words = split(lower(trim(text)), "\\s+")
    val n = size(words)
    val joined = (1 until k).foldLeft(words) { (acc, j) =>
      val shifted = slice(words, lit(j + 1), greatest(n - j, lit(0)))
      zip_with(acc, shifted, (a, b) =>
        when(a.isNotNull && b.isNotNull, concat(a, lit(" "), b)))
    }
    array_distinct(filter(joined, _.isNotNull))
  }

  /** The explode + vote-aggregate spelling `SimHash.simhashTable`
    * replaced. */
  private[graft] def simhashTableAggForm(df: DataFrame, idCol: String,
      textCol: String, k: Int = 3, bits: Int = 64): DataFrame = {
    val ex = graft.core.Rebalance.computeDense(df)
      .select(col(idCol), explode_outer(MinHashDedup.shingles(col(textCol), k)).as("_sh"))
      .withColumn("_h", xxhash64(col("_sh"))) // hashed once, reused by all bits
    val votes = (0 until bits).map { b =>
      sum(when(col("_h").isNull, -1L)
        .when(shiftright(col("_h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"_v$b")
    }
    val agged = ex.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sig = (0 until bits)
      .map(b => when(col(s"_v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    agged.select(col(idCol), sig.as("simhash"))
  }

  /** The boxed-tree spelling `IsolationForest.score` replaced. */
  private[graft] def scoreBoxed(model: IsolationForest.Model,
      row: Array[Double]): Double = {
    val avg = model.trees.map(t => pathLength(row, t)).sum / model.trees.size
    math.pow(2.0, -avg / IsolationForest.cFactor(model.psi))
  }

  /** Recursive path length over a boxed tree. */
  private[graft] def pathLength(row: Array[Double], node: IsolationForest.Node,
      depth: Int = 0): Double =
    node match {
      case IsolationForest.Leaf(size) =>
        depth + IsolationForest.cFactor(size)
      case IsolationForest.Split(f, v, lo, hi) =>
        if (row(f) < v) pathLength(row, lo, depth + 1)
        else pathLength(row, hi, depth + 1)
    }
}
