package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry table behind `SparkEntry.queries` and
  * `SparkEntry.oracleSql`: every registered name appears once, so no entry
  * can silently replace another, and the oracle count pins how many
  * entries Verify replays in DuckDB. Pure registry check — no Spark
  * session.
  */
class OracleRegistrySpec extends AnyFunSuite {

  test("registry holds 275 distinct names, 256 with oracle SQL, none of it blank") {
    val names = SparkEntry.registry.map(_._1)
    assert(names.size == 275)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.registry.count(_._2.oracle.isDefined) == 256)
    val blank = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.toSeq.sorted.mkString(", ")}")
  }
}
