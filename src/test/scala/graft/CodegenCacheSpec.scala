package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Spark's JVM-wide cache of compiled generated classes is sized to the
  * declared query surface ([[Engine.sizeCodegenCache]]): a query list
  * that ran once does not recompile its code on the next run, the
  * session conf is never written to do so, and a capacity the deployment
  * set explicitly wins. A stream drained again compiles nothing either:
  * [[graft.streaming.Streams]] starts it without a per-run class loader. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  private val CacheKey = "spark.sql.codegen.cache.maxEntries"

  // the TPC-H star-join list: about 127 generated classes per run, more
  // than Spark's default capacity of 100
  private val starJoin = Seq("q_tpch_q1", "q_tpch_q3", "q_tpch_q5",
    "q_tpch_q6", "q_tpch_q10", "q_tpch_q18", "q_skew_audit", "q_bloom_join")

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def runStarJoin(): Unit = starJoin.foreach { q =>
    SparkEntry.queries(q)(spark, sf).write.mode("overwrite").format("noop").save()
  }

  test("a second run of the star-join list compiles no generated class") {
    val first = compiles(runStarJoin())
    val second = compiles(runStarJoin())
    assert(second === 0, s"recompiled $second classes (first run compiled $first)")
  }

  test("a second drain of every declared stream compiles no generated class") {
    // streams plan without AQE, so their generated code does not vary
    // with stage order between runs
    val streams = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
    assert(streams.size === 21)
    def drainAll(): Seq[Long] = streams.map { q =>
      compiles(SparkEntry.queries(q)(spark, sf).write.mode("overwrite").format("noop").save())
    }
    val first = drainAll()
    val second = streams.zip(drainAll()).filter(_._2 > 0)
    assert(second.isEmpty, s"recompiled $second (first run compiled ${first.sum})")
  }

  test("tune on a tuned session leaves the session conf as it was") {
    Engine.tune(spark)
    val before = spark.conf.getAll
    Engine.tune(spark)
    // the shim itself, past the once-per-JVM guard, writes nothing either
    GraftShims.sizeCodegenCache(spark, Engine.codegenCacheEntries)
    val after = spark.conf.getAll
    assert(after === before)
    assert(!before.contains(CacheKey) && !after.contains(CacheKey))
  }

  test("the capacity is the surface constant unless the deployment set one") {
    assert(Engine.codegenCacheEntries(None) === Engine.CodegenCacheEntries)
    assert(Engine.codegenCacheEntries(Some(0)) === 0) // unbounded in Spark 4.1
    assert(Engine.codegenCacheEntries(Some(250)) === 250)
  }

  test("the shim reads the capacity a session was built with") {
    def explicitOf(s: SparkSession): Option[Int] = {
      var seen: Option[Option[Int]] = None
      GraftShims.sizeCodegenCache(s, e => { seen = Some(e); Engine.codegenCacheEntries(e) })
      seen.get
    }
    val base = spark
    assert(explicitOf(base) === None)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().config(CacheKey, "250").getOrCreate()
      assert(s2 ne base)
      assert(explicitOf(s2) === Some(250))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
