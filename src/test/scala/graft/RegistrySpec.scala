package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry assembly behind the driver contract (`SparkEntry.all`). */
class RegistrySpec extends AnyFunSuite {

  test("registered names are distinct across families and every oracle names a query") {
    // queries and oracleSql are built with .toMap: a name defined in two
    // family objects would silently keep only the last definition
    val names = SparkEntry.all.map(_._1)
    val repeated = names.diff(names.distinct).distinct
    assert(repeated.isEmpty, s"registered more than once: $repeated")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a registered query: $orphans")
  }
}
