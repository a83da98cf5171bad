package graft.driver

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The driver contract's shape, checked without a Spark session: every
  * query is declared once, as one [[Case]], and both driver maps come out
  * of the same case lists.
  */
class DriverContractSpec extends AnyFunSuite {

  test("case names are unique across all families, and there are 150") {
    val names = Case.all.map(_.name)
    // toMap keeps the last of two equal keys: a duplicate would silently
    // drop a query from both maps
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate case names: ${dups.toSeq.sorted.mkString(", ")}")
    assert(names.size == 150)
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every oracle is non-blank") {
    // a shared oracle val read before its object initialized it is null
    val blank = Case.all.filter(c => c.oracle == null || c.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: ${blank.mkString(", ")}")
  }

  test("building oracleSql runs the derived-oracle checks") {
    // q_dedup_incremental/q_dedup_incr_store derive from q_dedup_minhash and
    // q_ccnet_threshold from q_lm_likelihood; their requires run here
    val oracles = SparkEntry.oracleSql
    assert(oracles("q_dedup_incremental") == oracles("q_dedup_incr_store"))
    assert(oracles("q_dedup_incremental") != oracles("q_dedup_minhash"))
    assert(oracles("q_ccnet_threshold") != oracles("q_lm_likelihood"))
  }
}
