package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bucketed
import graft.util.CorpusMemo

/** The point of bucketing: the co-located join has NO exchange on the
  * join key — both scans come pre-partitioned from the bucket layout. */
class BucketedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  test("bucketed join plans without a join-key shuffle") {
    val df = Bucketed.bucketedJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
      s"join-key exchange present:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(c_custkey"),
      s"join-key exchange present:\n$plan")
    // correctness vs the straightforward plan
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = graft.operators.Relational.joinAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) === want.map(t => (t._1, t._2)))
  }

  test("bucket pruning: an equality filter on the bucket key reads 1 of 8 buckets") {
    Bucketed.bucketedJoin(spark, sf).count() // ensure the layout exists
    // autoBucketedScan turns bucketed reading off when no operator needs
    // the distribution; pin it on so the pruning path is exercised (the
    // scan-only shape a point-lookup job runs)
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val one = spark.table(Bucketed.ordersTable(sf)).filter(org.apache.spark.sql
        .functions.col("o_custkey") === 42L)
      val scan = one.queryExecution.executedPlan.toString
      // only the single bucket that can hold o_custkey=42 is read — at
      // 100 TB this is one file group instead of the whole table
      assert(scan.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected bucket pruning in:\n$scan")
    } finally spark.conf.set(conf, prev)
  }

  test("the layout is memoized per (session, corpus) and leaves the session conf as found") {
    // corpus B: A's customers, and only A's even-keyed orders, so B's
    // per-segment order counts differ from A's
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed_b")
    val b = tmp.toString
    val s = Engine.tune(spark.newSession())
    // the declared query's root sort is stripped: compare sorted rows
    def rows(dir: String) = SparkEntry.queries("q_bucketed_join")(s, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    try {
      Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_custkey") % 2 === 0)
        .write.parquet(s"$b/orders.parquet")
      Tables.customer(spark, sf).write.parquet(s"$b/customer.parquet")
      val conf0 = s.conf.getAll
      val a1 = rows(sf)
      assert(s.conf.getAll === conf0)
      val b1 = rows(b)
      assert(b1 !== a1, "corpus B must answer with its own rows")
      assert(rows(sf) === a1, "A after B must return A's rows")
      assert(s.conf.getAll === conf0)
    } finally {
      CorpusMemo.invalidate(s, sf)
      CorpusMemo.invalidate(s, b)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }
}
