package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupQueries, LmQueries, MultimodalQueries, QualityQueries, RetrievalQueries}

/** The entry registry, checked without a Spark session: `SparkEntry.queries`
  * is a `.toMap`, so two entries with one name would silently keep the last.
  */
class RegistrySpec extends AnyFunSuite {

  private val families = Seq(DedupQueries.all, RetrievalQueries.all, LmQueries.all,
    QualityQueries.all, MultimodalQueries.all)

  test("entry names are unique across SparkEntry.allDefs") {
    val dups = SparkEntry.allDefs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    assert(dups.isEmpty, s"registered more than once: ${dups.mkString(", ")}")
  }

  test("the five LLM families are disjoint, hold 81 entries and are all registered") {
    val names = families.flatMap(_.map(_.name))
    assert(names.size == 81)
    assert(names.distinct.size == names.size)
    assert(names.toSet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every oracle statement belongs to a registered entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without an entry: ${orphans.mkString(", ")}")
  }
}
