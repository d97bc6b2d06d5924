package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.{CorpusMemo, GenStore}

/** Bucketed-table layout: pre-shuffling a join's both sides into the same
  * bucket scheme eliminates the join-time exchange entirely — the layout
  * investment that pays for itself on every subsequent co-located join of
  * a 100 TB fact table. The query-time plan is SortMergeJoin over two
  * bucketed scans with NO Exchange on the join key (asserted in
  * `BucketedSpec`).
  */
object Bucketed {

  /** Write both sides bucketed by the join key (external tables under a
    * temp path — the registration is per-session, the files are the
    * layout), then join without a shuffle and roll up per segment. The
    * writes are the operator's semantics (storage layout), mirrored
    * nowhere in the oracle — DuckDB answers the logical query. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // build the layout once per (session, source dir) — a layout is an
    // investment reused across queries, not a per-query side effect
    layout(s, dir) {
      val tmp = graft.util.TempDirs.create("graft_bucketed").toString
      s.sql(s"DROP TABLE IF EXISTS ${ordersTable(dir)}")
      s.sql(s"DROP TABLE IF EXISTS ${customerTable(dir)}")
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$tmp/orders").saveAsTable(ordersTable(dir))
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$tmp/customer").saveAsTable(customerTable(dir))
    }
    s.table(ordersTable(dir)).hint("merge")
      .join(s.table(customerTable(dir)).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
           graft.functions.Fns.sumD2(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  private val layout = CorpusMemo[Unit]()

  // catalog names are per corpus: the catalog is shared by every corpus
  // a session reads, so one name would serve corpus B's layout to a
  // memoized corpus A after A→B→A
  private[graft] def ordersTable(dir: String): String = s"graft_orders_b_${GenStore.sha8(dir)}"
  private[graft] def customerTable(dir: String): String = s"graft_customer_b_${GenStore.sha8(dir)}"
}
