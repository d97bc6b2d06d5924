package graft

import java.util.concurrent.{Callable, CountDownLatch, ExecutionException, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.util.Try

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.util.CorpusMemo

/** The memo contract (see [[CorpusMemo]]): one build per key however
  * many callers race for it, builds outside the map's lock, and failed
  * builds not cached. Builds here are plain values, so no Spark job runs;
  * the session is only the key's first half. The store handle
  * ([[CorpusMemo.Store]]) cases below run small Spark jobs. */
class CorpusMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def dir(name: String): String = s"corpus-memo-spec/$name"

  private def withPool[T](threads: Int)(f: java.util.concurrent.ExecutorService => T): T = {
    val pool = Executors.newFixedThreadPool(threads)
    try f(pool) finally pool.shutdownNow()
  }

  private def async[T](pool: java.util.concurrent.ExecutorService)(f: => T): Future[T] =
    pool.submit(new Callable[T] { def call(): T = f })

  test("concurrent callers for one key run the build once and share its value") {
    val memo = CorpusMemo[Object]()
    val d = dir("shared")
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    try withPool(8) { pool =>
      val calls = (1 to 8).map(_ => async(pool) {
        go.await()
        memo(spark, d) { builds.incrementAndGet(); Thread.sleep(200); new Object }
      })
      go.countDown()
      val got = calls.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(got.forall(_ eq got.head))
    } finally CorpusMemo.invalidate(spark, d)
  }

  test("a build in progress blocks no other key of the same memo") {
    val memo = CorpusMemo[String]()
    val slow = dir("slow")
    val others = (0 until 32).map(i => dir(s"other-$i"))
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    try withPool(2) { pool =>
      val slowCall = async(pool)(memo(spark, slow) {
        inBuild.countDown(); release.await(); "slow"
      })
      assert(inBuild.await(10, TimeUnit.SECONDS))
      val rest = async(pool)(others.map(d => memo(spark, d)(d)))
      assert(rest.get(10, TimeUnit.SECONDS) === others)
      release.countDown()
      assert(slowCall.get(10, TimeUnit.SECONDS) === "slow")
    } finally {
      release.countDown()
      (slow +: others).foreach(CorpusMemo.invalidate(spark, _))
    }
  }

  test("a build may read the same memo for other corpora, but not its own entry") {
    val memo = CorpusMemo[String]()
    val outer = dir("outer")
    val inner = (0 until 32).map(i => dir(s"inner-$i"))
    try {
      assert(memo(spark, outer)(inner.map(d => memo(spark, d)(d)).mkString(","))
        === inner.mkString(","))
      val self = dir("self")
      val live0 = CorpusMemo.liveEntries
      intercept[IllegalStateException](memo(spark, self)(memo(spark, self)("x")))
      assert(CorpusMemo.liveEntries === live0)
    } finally (outer +: dir("self") +: inner).foreach(CorpusMemo.invalidate(spark, _))
  }

  test("a failed build is not cached: its waiters get its exception and the next call rebuilds") {
    val memo = CorpusMemo[String]()
    val d = dir("failing")
    val live0 = CorpusMemo.liveEntries
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    try withPool(1) { pool =>
      val builder = async(pool)(memo(spark, d) {
        inBuild.countDown(); release.await()
        throw new IllegalArgumentException("boom")
      })
      assert(inBuild.await(10, TimeUnit.SECONDS))
      var waited: Try[String] = null
      val waiter = new Thread(() => waited = Try(memo(spark, d)("not built")))
      waiter.start()
      // parked on the builder's cell, not yet returned
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (waiter.getState != Thread.State.WAITING && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(waiter.getState === Thread.State.WAITING)
      release.countDown()
      val e = intercept[ExecutionException](builder.get(10, TimeUnit.SECONDS))
      assert(e.getCause.getMessage === "boom")
      waiter.join(10000)
      assert(waited.failed.get.getMessage === "boom")
      assert(CorpusMemo.liveEntries === live0)
      assert(memo(spark, d)("rebuilt") === "rebuilt")
      assert(CorpusMemo.liveEntries === live0 + 1)
    } finally {
      release.countDown()
      CorpusMemo.invalidate(spark, d)
    }
  }
  private val StoreKey = "spark.graft.test.corpusMemoStorePath"

  private def genDirs(p: String): Seq[String] =
    Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
      .map(_.getName).toSeq.sorted

  /** Table `a` is 0..9; table `b` doubles `a` through its lookup, and
    * throws while `fail` is set. `calls` counts formula calls. */
  private def twoTables(calls: AtomicInteger,
                        fail: AtomicBoolean = new AtomicBoolean(false)) =
    CorpusMemo.Store(StoreKey, Some("sub"), (_, d) => s"corpus-memo-spec|$d")(
      ("a", (s, _, _) => { calls.incrementAndGet(); s.range(0, 10).toDF("x") }),
      ("b", (_, _, t) => {
        calls.incrementAndGet()
        if (fail.get) throw new IllegalStateException("formula failed")
        t("a").select((col("x") * 2).as("y"))
      }))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  private def withStoreRoot[T](f: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft-memo-store").toString
    try f(root)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a store with its key unset checkpoints each table in the session and never creates the store path") {
    withStoreRoot { root =>
      val s = spark.newSession()
      val d = dir("store-session")
      val store = twoTables(new AtomicInteger)
      try {
        val b = store(s, d, "b")
        val leaves = b.queryExecution.logical.collectLeaves()
        assert(leaves.size === 1 && leaves.head.isInstanceOf[LogicalRDD], leaves)
        assert(rows(b) === (0 until 10).map(_ * 2L))
        assert(store.gen(s, d).isEmpty)
        assert(store(s, d, "b") eq b)
        assert(new java.io.File(root).list().isEmpty)
      } finally CorpusMemo.invalidate(s, d)
    }
  }

  test("a store with its key set commits one generation holding every table, and adopts it after invalidate") {
    withStoreRoot { root =>
      val inSession = spark.newSession()
      val s = spark.newSession()
      s.conf.set(StoreKey, root)
      val d = dir("store-persisted")
      val calls = new AtomicInteger
      val store = twoTables(calls)
      try {
        val expected = rows(store(inSession, d, "b"))
        calls.set(0)
        assert(rows(store(s, d, "b")) === expected)
        val gens = genDirs(s"$root/sub")
        assert(gens.size === 1, gens)
        Seq("a", "b").foreach(t =>
          assert(new java.io.File(s"$root/sub/${gens.head}/$t/_SUCCESS").exists(), t))
        assert(store.gen(s, d).map(_.getName) === Some(gens.head))
        assert(calls.get === 2, "each formula ran once, in the build")
        CorpusMemo.invalidate(s, d)
        assert(rows(store(s, d, "b")) === expected)
        assert(rows(store(s, d, "a")) === (0L until 10L))
        assert(genDirs(s"$root/sub") === gens, "the next call adopts")
        assert(calls.get === 2, "adoption calls no formula")
      } finally {
        CorpusMemo.invalidate(inSession, d)
        CorpusMemo.invalidate(s, d)
      }
    }
  }

  test("a throwing formula leaves no committed generation and caches nothing; the next call builds") {
    withStoreRoot { root =>
      val s = spark.newSession()
      s.conf.set(StoreKey, root)
      val d = dir("store-failing")
      val fail = new AtomicBoolean(true)
      val store = twoTables(new AtomicInteger, fail)
      val live0 = CorpusMemo.liveEntries
      try {
        val e = intercept[IllegalStateException](store(s, d, "b"))
        assert(e.getMessage === "formula failed")
        assert(genDirs(s"$root/sub").isEmpty)
        assert(CorpusMemo.liveEntries === live0)
        fail.set(false)
        assert(rows(store(s, d, "b")) === (0 until 10).map(_ * 2L))
        assert(genDirs(s"$root/sub").size === 1)
      } finally CorpusMemo.invalidate(s, d)
    }
  }
}
