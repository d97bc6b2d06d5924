package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.CorpusMemo

/** Hive-style partitioned layout: documents written `partitionBy(lang)` so
  * language-filtered scans touch only their directories. Static partition
  * pruning (literal filter → PartitionFilters) and dynamic partition
  * pruning (join-derived filter → runtime subquery on the scan) are both
  * declared queries, with the plan shapes asserted in `PartitionedSpec`.
  * The layout is built once per (session, corpus dir) — an investment
  * reused across queries.
  */
object Partitioned {

  private val layouts = CorpusMemo[String]()

  private[graft] def layout(s: SparkSession, dir: String): String =
    layouts(s, dir) {
      val docs = s"${graft.util.TempDirs.create("graft_part")}/docs"
      Tables.documents(s, dir)
        .write.partitionBy("lang").mode("overwrite").parquet(docs)
      docs
    }

  /** Static partition pruning: a literal `lang = 'en'` reaches the scan as
    * a PartitionFilter, so only the en/ directory is read. */
  def partitionedScan(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(layout(s, dir))
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("source")

  /** Dynamic partition pruning: the langs come from a join against a
    * dimension derived at runtime (languages present among docs 0..9), so
    * the fact scan is pruned by a runtime subquery instead of a literal —
    * the mechanism that keeps a 100 TB partitioned fact table from being
    * scanned in full when the dimension filter is only known at run time. */
  def dppJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.documents(s, dir)
      .filter(col("doc_id") < 10).select(col("lang")).distinct()
    s.read.parquet(layout(s, dir))
      .join(broadcast(dim), Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }
}
