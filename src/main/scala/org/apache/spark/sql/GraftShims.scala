package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters, needed to
  * expose custom Catalyst expressions (graft.functions.FoldDotProduct) as
  * user-facing Columns on Spark 4's ColumnNode API. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `AbstractDataType` is `private[sql]` on Spark 4; expressions outside
    * the spark package need this alias to declare `inputTypes`. */
  type AbsDataType = org.apache.spark.sql.types.AbstractDataType

  /** Register each custom expression the session's function registry
    * does not already hold as a SQL-callable temp function
    * (sessionState is private[sql]). */
  def registerMissingFunctions(spark: SparkSession,
      builders: Seq[(String, Seq[Expression] => Expression)]): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Create Spark's JVM-wide cache of compiled generated classes (the
    * Janino LRU in `CodeGenerator`) with capacity `entries(explicit)`,
    * where `explicit` is the session's explicitly set
    * `spark.sql.codegen.cache.maxEntries`. That static conf is read only
    * by the `CodeGenerator` object's initializer, so the object is
    * initialized here under a clone of the session conf carrying the
    * capacity; the session's own conf is never written. If code
    * generation already ran in this JVM the cache keeps its size. */
  def sizeCodegenCache(spark: SparkSession, entries: Option[Int] => Int): Unit = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
    val conf = spark.sessionState.conf
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
    val explicit = if (conf.contains(key.key)) Some(conf.getConf(key)) else None
    val sized = conf.clone()
    sized.setConf(key, entries(explicit))
    // any member access runs the object's initializer
    SQLConf.withExistingConf(sized)(CodeGenerator.compileTime)
  }

  /** Whether `spark`'s jobs run on their own executor class loader
    * (`spark.sql.artifact.isolation.enabled`). Spark reads the key once
    * per session, at this call or the session's first job, whichever
    * comes first, and keeps the answer for the session's lifetime. */
  def isolatedJobs(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].artifactManager.state != null

  /** Presentation-sort elision at the declared-query seam (optimization
    * round 17, guide §2.4 "an orderBy used only to make output
    * deterministic").
    *
    * The engine's output contract is ORDER-INSENSITIVE (SURVEY §1: "The
    * Spark engine may emit any row order; correctness is order-insensitive"
    * — the reference harness sorts output before comparing, and the
    * driver's oracle hash row-sorts the same way, tools/compare.py). Yet
    * nearly every declared query ended with a cosmetic `orderBy`, and a
    * global sort is the single most expensive no-op Spark can plan: the
    * range exchange first runs a SEPARATE boundary-sampling job that
    * RE-EXECUTES the entire child plan (RangePartitioner.sketch over
    * child.execute()), then shuffles and sorts every output row. At sf0.1
    * that roughly doubles a small query; at 100 TB it is a full extra pass
    * plus a full-output shuffle, purely to order rows a consumer is free
    * to receive in any order.
    *
    * This helper removes exactly the presentation sorts and nothing else:
    * starting at the ROOT of the analyzed plan it walks down through
    * row-wise order-agnostic nodes only (Project / Filter with
    * deterministic expressions, SubqueryAlias) and splices out any
    * GLOBAL Sort found on that chain. Everything order-SIGNIFICANT is
    * structurally out of reach:
    *  - `orderBy(...).limit(k)` top-k: the root is GlobalLimit, which the
    *    walk does not descend through, so the sort that selects WHICH k
    *    rows survive is untouched;
    *  - window / aggregation / join-internal sorts: below non-chain nodes;
    *  - `sortWithinPartitions`: global=false, never matched.
    * The result is the identical row multiset with the terminal
    * rangepartitioning Exchange + Sort (and its hidden sampling pass)
    * gone. Queries whose OPERATOR is the sort itself (q_sort_docs, the
    * reference's sort-by-key) bypass this seam — see SparkEntry.qSorted. */
  def stripRootSort(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter, LogicalPlan, Project, Sort, SubqueryAlias, WithCTE}
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case s: Sort if s.global => strip(s.child)
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        pr.copy(child = strip(pr.child))
      case f: Filter if f.condition.deterministic =>
        f.copy(child = strip(f.child))
      case a: SubqueryAlias => a.copy(child = strip(a.child))
      // a SQL query with CTEs roots at WithCTE whose `plan` is the main
      // query — the presentation ORDER BY of a recursive-CTE query (and
      // its boundary-sampling re-execution of the whole recursion) lives
      // one level down (round 17); the definitions are untouched
      case w: WithCTE => w.copy(plan = strip(w.plan))
      case other => other
    }
    val analyzed = ds.queryExecution.analyzed
    val stripped = strip(analyzed)
    if (stripped.fastEquals(analyzed)) df
    else classic.Dataset.ofRows(ds.sparkSession, stripped)
  }
}
