package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.GraftExtensions` deployment path: a
  * session built with the extension resolves the engine's SQL functions
  * with no imperative registration call. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions registers SQL functions at session build") {
    val base = SparkTestSession.spark // ensures the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the conf route (spark.sql.extensions=graft.GraftExtensions) is a
      // static conf applied at SparkContext start; on the shared test
      // context the programmatic builder route loads the same class
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne base) // a genuinely new session, not the cached one
      val row = s2.sql(
        """SELECT poly_hash('abc') AS h,
          |       fold_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       fnv1a32('abc') AS f""".stripMargin).head()
      // poly_hash = left fold (h*31 + char) mod 1e9+7 starting at 0
      val want = "abc".foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
      assert(row.getLong(0) === want)
      assert(row.getDouble(1) === 1.0 * 3.0 + 2.0 * 4.0)
      assert(!row.isNullAt(2))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("Engine.tune registers every builder on a fresh session and writes no marker into its conf") {
    val s = SparkTestSession.spark.newSession()
    val names = GraftFunctions.builders.map(_._1)
    assert(names.size === 11)
    assert(names.forall(n => !s.catalog.functionExists(n)),
      "a fresh session starts without the engine's functions")
    Engine.tune(s)
    Engine.tune(s)
    assert(names.filterNot(s.catalog.functionExists) === Nil)
    val row = s.sql(
      """SELECT poly_hash('abc') AS h,
        |       sorted_intersect_count(array(1L, 2L, 5L), array(2L, 5L, 7L)) AS n""".stripMargin).head()
    assert(row.getLong(0) === "abc".foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L))
    assert(row.get(1).toString.toLong === 2L)
    assert(!s.conf.getAll.contains("graft.registered"),
      "the function registry, not a conf flag, says what is registered")
  }

  test("Engine.tune routes file: FileContext through graft's LocalFs unless a value is already set") {
    import graft.util.LocalFs
    val base = SparkTestSession.spark
    val fresh = base.newSession()
    assert(!fresh.conf.getAll.contains(LocalFs.ImplKey))
    Engine.tune(fresh)
    assert(fresh.conf.get(LocalFs.ImplKey) === classOf[LocalFs].getName)
    val conf = fresh.conf.getAll
    Engine.tune(fresh)
    assert(fresh.conf.getAll === conf, "a second tune changes nothing")
    // the deployment wins: a value already in the session conf is kept ...
    val pinned = base.newSession()
    pinned.conf.set(LocalFs.ImplKey, LocalFs.HadoopDefault)
    Engine.tune(pinned)
    assert(pinned.conf.get(LocalFs.ImplKey) === LocalFs.HadoopDefault)
    // ... and so is a non-default one in the SparkContext's Hadoop conf
    val hadoop = base.sparkContext.hadoopConfiguration
    val prev = hadoop.get(LocalFs.ImplKey)
    assert(prev === LocalFs.HadoopDefault)
    hadoop.set(LocalFs.ImplKey, "example.DeploymentFs")
    try assert(!Engine.tune(base.newSession()).conf.getAll.contains(LocalFs.ImplKey))
    finally hadoop.set(LocalFs.ImplKey, prev)
  }

  test("levenshtein length-gap guard fires, preserves results, stays idempotent") {
    import org.apache.spark.sql.functions._
    val spark = SparkTestSession.spark
    val df = graft.Tables.customer(graft.Engine.tune(spark), SparkTestSession.Sf)
      .filter(levenshtein(col("c_name"), lit("Customer#000000042")) <= 2)
      .select("c_custkey")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("abs("), s"guard not injected:\n$opt")
    assert(opt.sliding("abs(".length).count(_ == "abs(") === 1,
      "guard added exactly once (idempotent under fixpoint batches)")
    // semantics unchanged: equals a driver-side recompute of the filter
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = graft.Tables.customer(spark, SparkTestSession.Sf).collect()
      .filter(r => lev(r.getString(1), "Customer#000000042") <= 2)
      .map(_.getLong(0)).toSet
    assert(df.collect().map(_.getLong(0)).toSet === want)
  }

  test("length guard does NOT fire on the thresholded (-1-sentinel) levenshtein") {
    import org.apache.spark.sql.functions._
    val spark = SparkTestSession.spark
    graft.Engine.tune(spark)
    // levenshtein(a, b, t) returns -1 when distance > t, so `<= k`
    // accepts arbitrarily distant rows — guarding it would drop them
    val df = graft.Tables.customer(spark, SparkTestSession.Sf)
      .filter(levenshtein(col("c_name"), lit("zz"), 2) <= 2)
    assert(!df.queryExecution.optimizedPlan.toString.contains("abs("),
      "guard must not be injected for the thresholded form")
    // every name is far from "zz": the -1 sentinel keeps ALL rows
    assert(df.count() === graft.Tables.customer(spark, SparkTestSession.Sf).count())
  }
}
