package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ExchangeCensus

/** The plan tool's contract: one row per named query that pastes into
  * PlanGuardSpec's shuffle budgets and agrees with the static census, one
  * plan file per query holding the initial and the final adaptive plan, a
  * FAILED row for a query that cannot run, and the caller's session left
  * running. Neither real query builds a per-corpus memo, so running them
  * here does not warm anything PlanGuardSpec replays. */
class ExchangeCensusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  private val Row = """\s*"(\w+)" -> (\d+), // \+(\d+) broadcast, (\d+) unproven hints""".r

  test("run writes each query's plans and returns census rows PlanGuardSpec can paste") {
    val out = Files.createTempDirectory("graft_census")
    val real = Seq("q_wordcount", "q_tpch_q5")
    val rows = ExchangeCensus.run(spark, sf, out.toString, real :+ "q_no_such_query")
    assert(rows.size === 3, rows)
    assert(rows.exists(_.startsWith("    // q_no_such_query FAILED")), rows)
    real.foreach { q =>
      val (s, b, n) = rows.collectFirst {
        case Row(`q`, s, b, n) => (s.toInt, b.toInt, n.toInt)
      }.getOrElse(fail(s"no census row for $q in $rows"))
      val fresh = SparkEntry.queries(q)(spark, sf)
      assert((s, b) === ExchangeCensus.exchangeCounts(fresh.queryExecution.executedPlan), q)
      assert(n === 0, q)
      val text = Files.readString(out.resolve(s"$q.txt"))
      val Array(initial, fin) = text.split("== Final adaptive plan ==\n", 2)
      assert(initial.startsWith("== Initial plan ==\n") && initial.contains("isFinalPlan=false"), q)
      assert(fin.contains("isFinalPlan=true"), q)
    }
    assert(!spark.sparkContext.isStopped)
  }
}
