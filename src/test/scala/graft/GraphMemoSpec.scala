package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph
import graft.util.CorpusMemo

/** Persisted graph memos (round 15, VERDICT r14 #3): with
  * `spark.graft.graph.memoPath` set, the basket-graph investments
  * (pairs/degrees/oriented/adj) persist per corpus fingerprint and a
  * later session ADOPTS the stored generation instead of rebuilding —
  * results hash-identical to the default in-session path, rebuild
  * guarded by the corpus fingerprint, default-off. */
class GraphMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  private val Knob = "spark.graft.graph.memoPath"

  private def genDirs(p: String): Seq[String] =
    Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
      .map(_.getName).toSeq.sorted

  private def withMemoPath[T](p: String)(f: => T): T = {
    // drop the in-session memos so the knob is consulted (the memo
    // caches are the unit the knob redirects), and again after so later
    // suites see the default path
    CorpusMemo.invalidate(spark, sf)
    spark.conf.set(Knob, p)
    try f finally {
      spark.conf.unset(Knob)
      CorpusMemo.invalidate(spark, sf)
    }
  }

  test("persisted memos are hash-identical to the in-session path, and a second session adopts without rebuilding") {
    val root = java.nio.file.Files.createTempDirectory("graft-gm").toString
    try {
      val expectedTri = Graph.triangleCount(spark, sf).collect().map(_.toString)
      val expectedJac = Graph.edgeJaccard(spark, sf).collect().map(_.toString)
      val expectedHist = Graph.degreeHist(spark, sf).collect().map(_.toString)
      val firstGens = withMemoPath(root) {
        val tri = Graph.triangleCount(spark, sf).collect().map(_.toString)
        val jac = Graph.edgeJaccard(spark, sf).collect().map(_.toString)
        val hist = Graph.degreeHist(spark, sf).collect().map(_.toString)
        assert(tri.toSeq === expectedTri.toSeq)
        assert(jac.toSeq === expectedJac.toSeq)
        assert(hist.toSeq === expectedHist.toSeq)
        genDirs(root)
      }
      assert(firstGens.size === 1, s"one committed generation: $firstGens")
      assert(new java.io.File(root, "_GRAFT_CURRENT").exists())
      // "second session": the session memos are gone (invalidate inside
      // withMemoPath), so the resolve path runs again — it must ADOPT
      // the committed generation, not rebuild
      withMemoPath(root) {
        val tri = Graph.triangleCount(spark, sf).collect().map(_.toString)
        assert(tri.toSeq === expectedTri.toSeq)
        assert(genDirs(root) === firstGens, "warm resolve must not rebuild")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("components labels and pagerank edges persist LAZILY in their own stores, hash-identical, adopting on a second session") {
    val root = java.nio.file.Files.createTempDirectory("graft-gm-cp").toString
    try {
      val expectedComp = Graph.components(spark, sf).collect().map(_.toString)
      val expectedPr = Graph.pageRank(spark, sf).collect().map(_.toString)
      withMemoPath(root) {
        assert(Graph.components(spark, sf).collect().map(_.toString).toSeq
          === expectedComp.toSeq)
        assert(genDirs(s"$root/components").size === 1)
        // LAZY: running components must not have built the pagerank store
        assert(genDirs(s"$root/predges").isEmpty,
          "a components-only session must not pay the pagerank derive")
        assert(Graph.pageRank(spark, sf).collect().map(_.toString).toSeq
          === expectedPr.toSeq)
        assert(genDirs(s"$root/predges").size === 1)
      }
      val gens = (genDirs(s"$root/components"), genDirs(s"$root/predges"))
      withMemoPath(root) {
        assert(Graph.components(spark, sf).collect().map(_.toString).toSeq
          === expectedComp.toSeq)
        assert(Graph.pageRank(spark, sf).collect().map(_.toString).toSeq
          === expectedPr.toSeq)
        assert((genDirs(s"$root/components"), genDirs(s"$root/predges"))
          === gens, "second session must adopt both stores, not rebuild")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("invalidate drops every persisted-path graph memo, the sized join and contraction widths included") {
    val root = java.nio.file.Files.createTempDirectory("graft-gm-inv").toString
    // a fresh session, so entries an earlier test left cannot hide a leak
    val s = spark.newSession()
    s.conf.set(Knob, root)
    val live0 = CorpusMemo.liveEntries
    try {
      Graph.triangleCount(s, sf).collect()
      Graph.components(s, sf).collect()
      assert(CorpusMemo.liveEntries > live0)
      CorpusMemo.invalidate(s, sf)
      assert(CorpusMemo.liveEntries === live0,
        "every memo entry the two kernels built is keyed (session, corpus)")
    } finally {
      CorpusMemo.invalidate(s, sf)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("the array-SMJ partition bound widens with table bytes, never narrows the session default, and is result-neutral") {
    // pure sizing rule (round 16, VERDICT r15 #2): 8 GB heap / 32 cores
    // gives a 64 MB per-task budget; 2 GB of persisted array tables at
    // the 6x expansion need ~192 tasks — the honest-100x shape
    val g8 = 8L << 30
    assert(Graph.arrayJoinPartitions(32, 32, g8, 2L << 30) === 193)
    // small tables never narrow the session default
    assert(Graph.arrayJoinPartitions(32, 32, g8, 1L << 20) === 32)
    assert(Graph.arrayJoinPartitions(200, 32, g8, 1L << 20) === 200)
    // runaway inputs are capped — but the cap never NARROWS a session
    // default that is already wider (round-16 review: the old
    // cap-after-floor order silently shrank a 9000-partition session)
    assert(Graph.arrayJoinPartitions(32, 32, g8, 10L << 40) === 4000)
    assert(Graph.arrayJoinPartitions(9000, 32, g8, 10L << 40) === 9000)
    assert(Graph.unionFindPartitions(9000, 32, g8, 1L << 20) === 9000)
    // and the floor keeps a tiny heap from exploding the count
    assert(Graph.arrayJoinPartitions(32, 32, 256L << 20, 1L << 30) ===
      ((6L << 30) / (32L << 20) + 1).toInt)
    // the union-find contraction sibling: ~36x in-heap expansion of the
    // pairs parquet — 733 MB of pairs at 8 GB/32 cores needs ~413 tasks
    // (the honest-100x shape where 32 was a coin flip)
    assert(Graph.unionFindPartitions(32, 32, g8, 733L << 20) === 413)
    assert(Graph.unionFindPartitions(32, 32, g8, 1L << 20) === 32)
    assert(Graph.unionFindPartitions(32, 32, g8, 10L << 40) === 8000)
    // result-neutral: an explicit override must reproduce the default
    // path's census, jaccard and components rows exactly (wider
    // shuffle/contraction, same data)
    val expectedTri = Graph.triangleCount(spark, sf).collect().map(_.toString)
    val expectedJac = Graph.edgeJaccard(spark, sf).collect().map(_.toString)
    val expectedComp = Graph.components(spark, sf).collect().map(_.toString)
    spark.conf.set("spark.graft.graph.joinPartitions", "7")
    try {
      CorpusMemo.invalidate(spark, sf)
      assert(Graph.triangleCount(spark, sf).collect().map(_.toString).toSeq
        === expectedTri.toSeq)
      assert(Graph.edgeJaccard(spark, sf).collect().map(_.toString).toSeq
        === expectedJac.toSeq)
      assert(Graph.components(spark, sf).collect().map(_.toString).toSeq
        === expectedComp.toSeq)
    } finally {
      spark.conf.unset("spark.graft.graph.joinPartitions")
      CorpusMemo.invalidate(spark, sf)
    }
  }

  test("cluster budget inputs resolve every unknown toward WIDER, never narrower (VERDICT r16 #1, ADVICE r16)") {
    // spark.executor.memory unset on a cluster → Spark's 1 GiB executor
    // default, NOT the (possibly huge) driver heap: with a 64 GB driver
    // the old fallback gave each task a 512 MB budget and 32 partitions
    // where the honest bound needs ~8 MB/task widths
    assert(Graph.clusterBudgetInputs(None, Some("4"), 64, 16)
      === ((1L << 30), 4))
    // unitless executor.memory means MiB in Spark's own convention —
    // "4096" is 4 GiB, not 4096 bytes collapsing to the 32 MB floor
    assert(Graph.clusterBudgetInputs(Some("4096"), Some("4"), 64, 16)
      === ((4L << 30), 4))
    assert(Graph.clusterBudgetInputs(Some("8g"), Some("4"), 64, 16)
      === ((8L << 30), 4))
    // executor.cores unset (standalone: executor takes ALL worker cores)
    // → estimate cores/executor from total parallelism over live
    // executors instead of assuming 1 (which would overestimate the
    // per-task share cores-fold)
    assert(Graph.clusterBudgetInputs(Some("8g"), None, 64, 4)
      === ((8L << 30), 16))
    // degenerate executor listing (0 rows seen yet) still floors at 1
    assert(Graph.clusterBudgetInputs(Some("8g"), None, 64, 0)
      === ((8L << 30), 64))
    // the widened inputs flow through the sizing rule in the widening
    // direction: 1 GiB heap / 16-core estimate floors at the 32 MB/task
    // budget → 2 GB of array tables at 6x expansion need ~385 tasks,
    // not the session default the old driver-heap/1-core fallback kept
    // on a 16 GB driver (4 GiB/task budget → "32 is plenty")
    val (h, c) = Graph.clusterBudgetInputs(None, None, 64, 4)
    assert(Graph.arrayJoinPartitions(32, c, h, 2L << 30) >
      Graph.arrayJoinPartitions(32, 1, 16L << 30, 2L << 30))
  }

  test("corpus fingerprint mismatch rebuilds and serves the new corpus; flipping back adopts the retained generation") {
    val root = java.nio.file.Files.createTempDirectory("graft-gm-fp").toString
    val corpus2 = java.nio.file.Files.createTempDirectory("graft-gm-c2").toString
    try {
      withMemoPath(root) { Graph.degreeHist(spark, sf).collect() }
      val gen1 = genDirs(root)
      // a DIFFERENT corpus: every other lineitem row — same dir layout
      Tables.lineitem(spark, sf).filter(col("l_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(s"$corpus2/lineitem.parquet")
      val expected2 = Graph.degreeHist(spark, corpus2).collect().map(_.toString)
      CorpusMemo.invalidate(spark, corpus2)
      val got2 = withMemoPath(root) {
        CorpusMemo.invalidate(spark, corpus2)
        try Graph.degreeHist(spark, corpus2).collect().map(_.toString)
        finally CorpusMemo.invalidate(spark, corpus2)
      }
      assert(got2.toSeq === expected2.toSeq,
        "rebuilt memo must serve the new corpus exactly")
      val gen2 = genDirs(root)
      assert(gen2 !== gen1, "fingerprint mismatch must publish a new generation")
      assert(gen2.size === 2,
        s"newest-per-fingerprint retention keeps BOTH corpora's generations: $gen2")
      // flipping back to the original corpus adopts its RETAINED
      // generation (the ADVICE r14 alternating-corpora case): no new gen
      withMemoPath(root) {
        Graph.degreeHist(spark, sf).collect()
        assert(genDirs(root) === gen2, "alternation must adopt, not rebuild")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpus2))
    }
  }
}
