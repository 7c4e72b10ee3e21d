package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract between `SparkEntry.oracleSql` and `SparkEntry.queries`:
  * Verify keeps only the oracles whose key names a selected query, so a
  * mistyped or renamed key would drop its oracle without any error. Pure
  * registry check — no Spark session.
  */
class OracleRegistrySpec extends AnyFunSuite {

  test("every oracleSql key is a registered query and no oracle SQL is blank") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty,
      s"oracle keys with no registered query: ${unknown.toSeq.sorted.mkString(", ")}")
    val blank = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.toSeq.sorted.mkString(", ")}")
  }
}
