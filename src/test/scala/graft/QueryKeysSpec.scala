package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every query key has exactly one query function and one DuckDB oracle.
  * No Spark job runs: the maps hold functions and strings. The per-file
  * sums catch a key declared in two files, which `Map ++` would silently
  * collapse. */
class QueryKeysSpec extends AnyFunSuite {

  test("queries and oracles declare the same keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries without an oracle: ${q.diff(o).toSeq.sorted}")
    assert(o.diff(q).isEmpty, s"oracles without a query: ${o.diff(q).toSeq.sorted}")
  }

  test("no key is declared in two query files or two oracle files") {
    val n = SparkEntry.queries.size
    assert(Seq(EntryA.aQueries, EntryB.bQueries, EntryC.cQueries, EntryC2.cQueries2)
      .map(_.size).sum == n)
    assert(Seq(OraclesA.aOracles, OraclesB.bOracles, OraclesC.cOracles, OraclesC2.cOracles2)
      .map(_.size).sum == n)
  }
}
