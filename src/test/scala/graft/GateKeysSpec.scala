package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every gate has oracle SQL and every oracle a gate. The local selfcheck
  * scores a gate without oracle SQL as a rows-only pass, so a dropped or
  * misspelled oracle key would otherwise pass unnoticed. */
class GateKeysSpec extends AnyFunSuite {
  test("oracleSql and queries name the same 242 gates") {
    val gates = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(gates -- oracles === Set.empty[String], "gates without oracle SQL")
    assert(oracles -- gates === Set.empty[String], "oracle SQL without a gate")
    assert(gates.size === 242)
  }
}
