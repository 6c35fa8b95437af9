package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every gate has oracle SQL and every oracle a gate. The local selfcheck
  * scores a gate without oracle SQL as a rows-only pass, so a dropped or
  * misspelled oracle key would otherwise pass unnoticed. A paged gate and
  * its oracle sort totally, so both engines keep the same page. */
class GateKeysSpec extends AnyFunSuite {
  test("oracleSql and queries name the same 242 gates") {
    val gates = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(gates -- oracles === Set.empty[String], "gates without oracle SQL")
    assert(oracles -- gates === Set.empty[String], "oracle SQL without a gate")
    assert(gates.size === 242)
  }

  test("the six paged gates and their oracles sort on every output column") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    Seq("p11_mql_channel", "p19_channel_mem_cursor", "p_dsl_range_sort_page",
        "s23_wire_cursor", "s26_wire_deflate", "s27_wire_binary").foreach { g =>
      val df = SparkEntry.queries(g)(SparkTestSession.spark, SparkTestSession.sfDir)
      df.collect()
      // a LIMIT/OFFSET page is deterministic only under a total order
      val sorts = helper.collect(df.queryExecution.executedPlan) {
        case t: TakeOrderedAndProjectExec => t.sortOrder
        case s: SortExec => s.sortOrder
      }.map(_.map(_.child match { case a: Attribute => a.name; case e => e.sql }))
      assert(sorts.nonEmpty, s"$g executed no sort")
      sorts.foreach(keys => assert(keys === df.columns.toSeq, s"$g sort keys"))
      val oracleOrder = "ORDER BY (.*?) LIMIT".r
        .findFirstMatchIn(SparkEntry.oracleSql(g)).get.group(1)
      assert(oracleOrder.split(",").map(_.trim).toSeq === df.columns.toSeq, s"$g oracle")
    }
  }
}
