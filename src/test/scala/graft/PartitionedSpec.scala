package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Partitioned
import graft.util.CorpusMemo

/** The partitioned layout must actually prune: literal filters as
  * PartitionFilters, join-derived filters as dynamic pruning subqueries. */
class PartitionedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  test("literal lang filter prunes partitions statically") {
    val df = Partitioned.partitionedScan(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition filter in plan:\n$plan")
    assert(df.count() > 0)
  }

  test("join-derived lang filter prunes partitions dynamically") {
    val df = Partitioned.dppJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic pruning subquery in plan:\n$plan")
    assert(df.count() > 0)
  }

  test("the layout is memoized per (session, corpus) and leaves the session conf as found") {
    // a fresh session, so no earlier spec has built its layout; tuned
    // first, as every declared query tunes its session
    val s = Engine.tune(spark.newSession())
    try {
      val conf0 = s.conf.getAll
      Seq("q_partitioned_scan", "q_dpp_join")
        .foreach(q => SparkEntry.queries(q)(s, sf).collect())
      assert(s.conf.getAll === conf0)
      val path = Partitioned.layout(s, sf)
      assert(Partitioned.layout(s, sf) === path, "a second call reuses the layout")
    } finally CorpusMemo.invalidate(s, sf)
  }
}
