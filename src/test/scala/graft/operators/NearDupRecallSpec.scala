package graft.operators

import graft.SparkSpec

/** q39's scale shape: the physical plan must contain no
  * BroadcastNestedLoopJoin / CartesianProduct — candidate generation is
  * equi-join only (VERDICT r1 item 3; now a cell-equi self-join).
  */
class NearDupRecallSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q39 plan has no nested-loop or cartesian join") {
    val plan = graft.SparkEntry.queries("q39_cosine_neardup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q39 must not BNLJ")
    assert(!plan.contains("CartesianProduct"), "q39 must not cartesian")
  }
}
