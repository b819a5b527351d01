package graft

import org.scalatest.funsuite.AnyFunSuite

/** The three string-keyed query registries agree with each other: every
  * bench and oracle name is a query name, no name repeats, and the sizes
  * are pinned so a silently dropped entry shows. */
class RegistrySpec extends AnyFunSuite {

  test("benchQueries names each query once") {
    val repeated = SparkEntry.benchQueries.groupBy(identity).collect {
      case (k, vs) if vs.size > 1 => k
    }
    assert(repeated.isEmpty, s"repeated bench names: $repeated")
  }

  test("bench and oracle names are all query names") {
    assert(SparkEntry.benchQueries.filterNot(SparkEntry.queries.contains).isEmpty)
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("registry sizes: 173 queries, 158 oracles, 76 bench keys") {
    assert(SparkEntry.queries.size === 173)
    assert(SparkEntry.oracleSql.size === 158)
    assert(SparkEntry.benchQueries.size === 76)
  }

  test("a repeated registry name fails loudly, naming it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry("a" -> 1, "b" -> 2, "a" -> 3, "c" -> 4, "b" -> 5)
    }
    assert(e.getMessage.contains("a, b"), e.getMessage)
    assert(SparkEntry.registry("a" -> 1, "b" -> 2) === Map("a" -> 1, "b" -> 2))
  }
}
