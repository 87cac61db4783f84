package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract the benchmark's `batch_sql` workload reads from the
  * program: `Bench.headline` names 27 distinct catalog queries, each with
  * both a Spark implementation and a DuckDB oracle. Starts no Spark
  * session; it only reads the catalog maps.
  */
class HeadlineContractSpec extends AnyFunSuite {

  test("every headline query has a catalog entry and an oracle, 27 distinct names") {
    val names = Bench.headline
    assert(names.size == 27)
    assert(names.distinct.size == 27, s"duplicates: ${names.diff(names.distinct)}")
    val noQuery = names.filterNot(SparkEntry.queries.contains)
    assert(noQuery.isEmpty, s"headline names without a catalog entry: $noQuery")
    val noOracle = names.filterNot(SparkEntry.oracleSql.contains)
    assert(noOracle.isEmpty, s"headline names without an oracle: $noOracle")
  }
}
