package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.util.GenStore

/** Protocol-level tests for the shared generational store (round 15):
  * publish/adopt/refuse/retain behaviors the consumer specs
  * (ZoneMapManifestSpec, GraphMemoSpec, AnnModelSpec) exercise only
  * end-to-end. */
class GenStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def genDirs(p: String): Seq[String] =
    Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
      .map(_.getName).toSeq.sorted

  private def writeTables(tmp: Path, tables: Seq[String]): Unit =
    tables.foreach { t =>
      spark.range(3).toDF("id").write.mode("overwrite")
        .parquet(new Path(tmp, t).toString)
    }

  test("build publishes a committed generation; same-fingerprint resolves adopt without rebuilding") {
    val root = Files.createTempDirectory("graft-gs").toString
    try {
      var builds = 0
      def resolve() = GenStore.resolveOrBuild(spark, root, "fpA",
        Seq("t1", "t2")) { tmp => builds += 1; writeTables(tmp, Seq("t1", "t2")) }
      val g1 = resolve()
      assert(builds === 1)
      assert(genDirs(root).size === 1)
      assert(Files.exists(Paths.get(root, "_GRAFT_CURRENT")))
      assert(Files.readString(Paths.get(root, g1.getName,
        "_GRAFT_FINGERPRINT")).trim === "fpA")
      assert(spark.read.parquet(new Path(g1, "t1").toString).count() === 3)
      val g2 = resolve()
      assert(builds === 1, "warm resolve must not rebuild")
      assert(g2.getName === g1.getName)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a build that leaves a table uncommitted is refused whole, and a later correct build succeeds") {
    val root = Files.createTempDirectory("graft-gs-bad").toString
    try {
      val e = intercept[IllegalStateException] {
        GenStore.resolveOrBuild(spark, root, "fpA", Seq("t1", "t2")) { tmp =>
          writeTables(tmp, Seq("t1")) // t2 missing
        }
      }
      assert(e.getMessage.contains("t2"))
      assert(genDirs(root).isEmpty, "nothing may be published")
      val g = GenStore.resolveOrBuild(spark, root, "fpA", Seq("t1", "t2")) {
        tmp => writeTables(tmp, Seq("t1", "t2"))
      }
      assert(genDirs(root) === Seq(g.getName))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("fingerprint change publishes a new generation; per-fingerprint retention lets alternation adopt both ways") {
    val root = Files.createTempDirectory("graft-gs-fp").toString
    try {
      var builds = 0
      def resolve(fp: String) = GenStore.resolveOrBuild(spark, root, fp,
        Seq("t")) { tmp => builds += 1; writeTables(tmp, Seq("t")) }
      val gA = resolve("fpA")
      val gB = resolve("fpB")
      assert(builds === 2)
      assert(gB.getName !== gA.getName)
      assert(genDirs(root).size === 2,
        "newest-per-fingerprint retention keeps both")
      assert(Files.readString(Paths.get(root, "_GRAFT_CURRENT")).trim
        === gB.getName)
      // alternate: both directions must adopt the retained generation
      assert(resolve("fpA").getName === gA.getName)
      assert(resolve("fpB").getName === gB.getName)
      assert(builds === 2, "alternation must adopt, not rebuild")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a build that loses the publish race adopts the winner and discards its own product") {
    val root = Files.createTempDirectory("graft-gs-race").toString
    try {
      var outerRan = false
      var inner: Path = null
      // the outer build simulates a concurrent session finishing FIRST:
      // its closure runs a full resolveOrBuild for the same fingerprint
      // before the outer build's rename can happen — the outer must
      // then adopt the committed winner and delete its own temp
      val got = GenStore.resolveOrBuild(spark, root, "fpA", Seq("t")) { tmp =>
        inner = GenStore.resolveOrBuild(spark, root, "fpA", Seq("t")) {
          tmp2 => writeTables(tmp2, Seq("t"))
        }
        outerRan = true
        writeTables(tmp, Seq("t"))
      }
      assert(outerRan)
      assert(got.getName === inner.getName,
        "the race loser must serve the winner's generation")
      assert(genDirs(root) === Seq(inner.getName),
        "the loser's product must not be published")
      assert(Option(new java.io.File(root).listFiles()).get
        .forall(!_.getName.contains("._build-")),
        "the loser's temp dir must be cleaned up")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a crash between rename and repoint (no pointer file) recovers by adoption, not rebuild") {
    val root = Files.createTempDirectory("graft-gs-crash").toString
    try {
      var builds = 0
      def resolve() = GenStore.resolveOrBuild(spark, root, "fpA", Seq("t")) {
        tmp => builds += 1; writeTables(tmp, Seq("t"))
      }
      val g1 = resolve()
      // simulate the crash window: generation committed, pointer never
      // written (or lost)
      Files.delete(Paths.get(root, "_GRAFT_CURRENT"))
      val g2 = resolve()
      assert(builds === 1, "a committed generation must be adopted, not rebuilt")
      assert(g2.getName === g1.getName)
      assert(Files.readString(Paths.get(root, "_GRAFT_CURRENT")).trim
        === g1.getName, "the repoint must be repaired")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a torn generation (all table _SUCCESS present, commit marker absent) is never adopted — resolver builds") {
    val root = Files.createTempDirectory("graft-gs-torn").toString
    try {
      var builds = 0
      def resolve() = GenStore.resolveOrBuild(spark, root, "fpA",
        Seq("t1", "t2")) { tmp => builds += 1; writeTables(tmp, Seq("t1", "t2")) }
      val g1 = resolve()
      assert(builds === 1)
      // simulate an object-store torn rename observed mid-copy: a gen
      // dir whose per-table _SUCCESS files and provenance have landed
      // but whose generation-level _GRAFT_COMMITTED has not (on S3A the
      // marker is only PUT after the whole copy loop returns) — and the
      // pointer (also copied early) already names it
      val torn = new java.io.File(root, "gen=ffffffff-torn")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root, g1.getName), torn)
      Files.delete(torn.toPath.resolve("_GRAFT_COMMITTED"))
      Files.writeString(Paths.get(root, "_GRAFT_CURRENT"), torn.getName)
      val g2 = resolve()
      assert(g2.getName !== torn.getName,
        "a markerless generation must never be served")
      assert(g2.getName === g1.getName,
        "the committed generation must be adopted instead")
      assert(builds === 1, "adoption, not rebuild, when a committed gen exists")
      // with NO committed alternative, the resolver must rebuild
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root, g1.getName))
      Files.writeString(Paths.get(root, "_GRAFT_CURRENT"), torn.getName)
      val g3 = resolve()
      assert(builds === 2, "a torn-only store must trigger a fresh build")
      assert(g3.getName !== torn.getName)
      assert(Files.exists(Paths.get(root, g3.getName, "_GRAFT_COMMITTED")))
      // debris sweep: the torn dir survives while inside the 10-min
      // grace (could be a racing build's rename→marker window)...
      assert(torn.exists(), "an in-grace markerless dir must not be swept")
      // ...and is deleted by the next resolve once past it — a crashed
      // or pre-marker-protocol generation must not leak forever on a
      // store whose pointer never moves again. Age is the NEWEST FILE
      // inside the dir (dir mtimes are synthetic on object stores and a
      // mid-copy publish keeps landing fresh files), grace 60 min
      val old = System.currentTimeMillis() - 90 * 60 * 1000L
      Files.walk(torn.toPath).forEach(p => p.toFile.setLastModified(old))
      resolve()
      assert(!torn.exists(), "a stale markerless dir must be swept")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("two writers racing alternating fingerprints: every resolve returns a committed generation of ITS fingerprint") {
    // VERDICT r15 #6: the lost-race and crashed-repoint branches have
    // targeted specs; this is the true interleaved stress. Two threads
    // hammer one store path with ALTERNATING fingerprints (the nastiest
    // schedule: every resolve may race a repoint + GC of the other
    // fingerprint), 20 rounds each. Invariants per resolve: the returned
    // generation carries the caller's fingerprint, is fully committed
    // (marker + every table _SUCCESS), and its data files are readable
    // right after resolve (GC's grace window must protect a
    // just-committed build from the other thread's concurrent sweep).
    val root = Files.createTempDirectory("graft-gs-stress").toString
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def worker(id: Int): Thread = new Thread(() => {
        try {
          for (i <- 0 until 20) {
            val fp = if ((i + id) % 2 == 0) "fpA" else "fpB"
            val g = GenStore.resolveOrBuild(spark, root, fp, Seq("t")) {
              tmp => writeTables(tmp, Seq("t"))
            }
            val gotFp = Files.readString(
              Paths.get(root, g.getName, "_GRAFT_FINGERPRINT")).trim
            if (gotFp != fp)
              errs.add(s"thread $id round $i: wanted $fp got $gotFp")
            if (!Files.exists(Paths.get(root, g.getName, "_GRAFT_COMMITTED")))
              errs.add(s"thread $id round $i: uncommitted generation served")
            val n = spark.read.parquet(new Path(g, "t").toString).count()
            if (n != 3)
              errs.add(s"thread $id round $i: torn read, count=$n")
          }
        } catch {
          case e: Throwable => errs.add(s"thread $id: ${e.toString.take(300)}")
        }
      })
      val ts = Seq(worker(0), worker(1))
      ts.foreach(_.start()); ts.foreach(_.join(300000))
      // a hang IS the regression class this spec exists to catch — a
      // timed-out join with empty errs must not pass vacuously (and the
      // finally-block delete must not race still-running workers)
      assert(ts.forall(!_.isAlive),
        "a worker is still running after the join timeout — publish hang")
      assert(errs.isEmpty, errs.toArray.mkString("; "))
      // steady state: at most one retained generation per fingerprint
      // plus anything inside the grace window — here everything is
      // inside grace, so just sanity-bound growth (2 fps × ≤ builds)
      assert(genDirs(root).nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("GC deletes a superseded same-fingerprint generation past the grace window, keeps newest-per-fingerprint") {
    val root = Files.createTempDirectory("graft-gs-gc").toString
    try {
      val gA = GenStore.resolveOrBuild(spark, root, "fpA", Seq("t")) {
        tmp => writeTables(tmp, Seq("t"))
      }
      // hand-craft an OLDER committed duplicate generation for fpA (the
      // kind a crashed-before-GC history leaves behind): same contents,
      // name sorts earlier, modification time past the 10-min grace
      val dup = new java.io.File(root, "gen=0000dup")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root, gA.getName), dup)
      val old = System.currentTimeMillis() - 20 * 60 * 1000L
      Files.walk(dup.toPath).forEach(p => p.toFile.setLastModified(old))
      assert(genDirs(root).size === 2)
      // a pointer move (new fingerprint) triggers GC: the duplicate is
      // neither current, nor previous pointer target, nor its
      // fingerprint's newest committed generation, and it is past grace
      GenStore.resolveOrBuild(spark, root, "fpB", Seq("t")) {
        tmp => writeTables(tmp, Seq("t"))
      }
      val left = genDirs(root)
      assert(!left.contains("gen=0000dup"), s"duplicate must be GC'd: $left")
      assert(left.contains(gA.getName),
        "fpA's newest generation must survive the fpB repoint")
      assert(left.size === 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("resolve: a committed pointer target wins, else the newest committed generation by (mtime, name) the predicate accepts") {
    val root = Files.createTempDirectory("graft-gs-resolve").toString
    try {
      def build(fp: String) = GenStore.resolveOrBuild(spark, root, fp, Seq("t")) {
        tmp => writeTables(tmp, Seq("t"))
      }.getName
      def resolve(fpOk: String => Boolean) =
        GenStore.resolve(spark, root, Seq("t"))(fpOk).map(_.getName)
      val isA = (fp: String) => fp.startsWith("corpus|a|")
      val gA1 = build("corpus|a|n=1")
      val gB = build("corpus|b|n=1")
      val gA2 = build("corpus|a|n=2")
      val now = System.currentTimeMillis()
      def mtime(g: String, t: Long) = assert(new java.io.File(root, g).setLastModified(t))
      val hp = new Path(root)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def point(g: String) = graft.util.MetaFiles.write(fs, new Path(hp, "_GRAFT_CURRENT"), g)
      // the pointer names gA2: it wins although gA1 is newer by mtime
      mtime(gA1, now - 60000L); mtime(gA2, now - 120000L)
      assert(resolve(isA) === Some(gA2))
      // a pointer the predicate rejects falls through to the newest
      // accepted generation by mtime, then by name at equal mtimes
      point(gB)
      assert(resolve(isA) === Some(gA1))
      mtime(gA2, now - 30000L)
      assert(resolve(isA) === Some(gA2))
      mtime(gA1, now - 30000L)
      assert(resolve(isA) === Some(Seq(gA1, gA2).max))
      // a torn generation (every table _SUCCESS, no commit marker) is
      // never returned: not as the pointer target, not as the newest
      val torn = new java.io.File(root, "gen=ffffffff-torn")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(root, gA1), torn)
      Files.delete(torn.toPath.resolve("_GRAFT_COMMITTED"))
      point(torn.getName)
      assert(resolve(isA) === Some(Seq(gA1, gA2).max))
      // a predicate no generation satisfies: None, and nothing is built
      val before = new java.io.File(root).list().toSet
      assert(resolve(_.startsWith("corpus|c|")) === None)
      assert(new java.io.File(root).list().toSet === before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("MetaFiles: a stale-crc wreck is overwritten readably, and crc temp sidecars are swept (ADVICE r16)") {
    val root = Files.createTempDirectory("graft-mf-crc").toString
    try {
      val p = new Path(new java.io.File(root, "ptr").getAbsolutePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.util.MetaFiles.write(fs, p, "v1")
      assert(graft.util.MetaFiles.read(fs, p).contains("v1"))
      // simulate the crc-leg wreck ADVICE r16 describes: the destination
      // data file is fine but its checksum sidecar is stale garbage, so
      // every verified read fails and degrades to None
      Files.write(Paths.get(root, ".ptr.crc"),
        Array[Byte](0x63, 0x72, 0x63, 0x00, 0, 0, 0, 99, 1, 2, 3, 4))
      if (graft.util.MetaFiles.read(fs, p).isEmpty) {
        // a re-publish over the wreck must land a READABLE value (the
        // recovery branch re-drives the publish through a fresh temp
        // when the destination stays unreadable)
        graft.util.MetaFiles.write(fs, p, "v2")
        assert(graft.util.MetaFiles.read(fs, p).contains("v2"),
          "publish over a stale-crc destination must leave it readable")
      } // (a raw, non-checksum scheme never sees the wreck — vacuous there)
      // the temp's own crc sidecar ("..ptr.tmp-<nonce>.crc") must be
      // inside the debris sweep's name match — the old startsWith
      // prefix missed the extra leading dot and leaked it forever
      val deadTmp = Paths.get(root, ".ptr.tmp-deadbeef")
      val deadCrc = Paths.get(root, "..ptr.tmp-deadbeef.crc")
      Files.writeString(deadTmp, "x")
      Files.writeString(deadCrc, "x")
      val old = System.currentTimeMillis() - 20 * 60 * 1000L
      deadTmp.toFile.setLastModified(old)
      deadCrc.toFile.setLastModified(old)
      graft.util.MetaFiles.write(fs, p, "v3")
      assert(!Files.exists(deadTmp), "aged temp debris must be swept")
      assert(!Files.exists(deadCrc),
        "the temp's crc sidecar must be swept with it")
      assert(graft.util.MetaFiles.read(fs, p).contains("v3"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}
