package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry's shape, checked without a SparkSession: every gate is
  * declared once, with its oracle, and the two derived maps agree. */
class RegistrySpec extends AnyFunSuite {

  test("gate names are unique across the declared list") {
    // counted on the list: the derived maps would silently keep one of two
    // gates declared under the same name
    val dups = SparkEntry.gates.groupBy(_.name).collect {
      case (name, gs) if gs.size > 1 => name
    }
    assert(dups.isEmpty, s"declared more than once: ${dups.toSeq.sorted}")
  }

  test("queries and oracleSql share one key set of 328 gates") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 328)
    assert(SparkEntry.oracleSql.size == 328)
  }

  test("the streaming HLL twin is checked by the batch replay's oracle") {
    assert(SparkEntry.oracleSql("q_hll_stream_twin") ==
      SparkEntry.oracleSql("q_hll_replay"))
  }
}
