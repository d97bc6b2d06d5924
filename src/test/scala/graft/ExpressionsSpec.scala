package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Fns, VectorExpressions}

/** Unit tests for the custom Catalyst expressions: they must be
  * bit-identical to the interpreted higher-order-function compositions
  * they replaced (which is what the DuckDB oracles mirror). */
class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // the kernels' inputs, shared by their own cases and the generated-path case
  private def dotFrame = Seq(
      (Seq(1.0, 2.5, -3.0), Seq(0.5, -1.0, 2.0)),
      (Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)),
      (Seq.empty[Double], Seq.empty[Double])
    ).toDF("a", "b")
  private def hashFrame = Seq("the fast key", "abc", "").toDF("s")
  private def fnvFrame = Seq("", "a", "foobar").toDF("s")
  private def sortedSetsFrame = {
    val rnd = new scala.util.Random(7)
    Seq.fill(200)((
      rnd.shuffle((0L to 50L).toList).take(rnd.nextInt(20)).sorted,
      rnd.shuffle((0L to 50L).toList).take(rnd.nextInt(20)).sorted))
      .toDF("a", "b")
  }
  private def intersectFrame = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(7L), Seq(7L))).toDF("a", "b")
  private val cdcAscii = Seq.tabulate(400)(i => ('a' + i % 26).toChar).mkString
  private val cdcAstral = cdcAscii.map(c => new String(
    Character.toChars(c.toInt + 0x1D400 - 'a'.toInt))).mkString
  private def namePairsFrame = {
    val rnd = new scala.util.Random(11)
    def name() = "Entity#" + Seq.fill(9)(rnd.nextInt(10)).mkString
    def mutate(s: String): String = {
      val ops = rnd.nextInt(9)
      (0 until ops).foldLeft(s) { (t, _) =>
        val i = rnd.nextInt(t.length)
        rnd.nextInt(3) match {
          case 0 => t.updated(i, ('a' + rnd.nextInt(26)).toChar).mkString // sub
          case 1 => t.take(i) + ('0' + rnd.nextInt(10)).toChar + t.drop(i) // ins
          case _ => t.take(i) + t.drop(i + 1)                              // del
        }
      }
    }
    Seq.fill(300)((name(), if (rnd.nextBoolean()) name() else null))
      .map { case (a, b) => (a, if (b == null) mutate(a) else b) }
      .toDF("a", "b")
  }
  private def shinglesFrame = Seq(
      Seq("a b c", "b c d", "c d e"),
      Seq("x y z"),
      Seq("a b c", "a b c"), // duplicates: minima are multiplicity-blind
      Seq.empty[String]
    ).toDF("shs")

  test("FoldDotProduct == aggregate(zip_with(...)) bitwise") {
    val df = dotFrame
    val rows = df.select(
      Fns.dotD(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (s, v) => s + v).as("slow")
    ).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("FoldDotProduct known value and fold order") {
    val got = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .select(Fns.dotD(col("a"), col("b"))).as[Double].head()
    assert(got === 32.0)
  }

  test("PolyHashExpr matches the character fold and differs across bases") {
    // regression: two instances with different base/mod in ONE projection
    // must not share a generated helper method
    val rows = hashFrame.select(
      Fns.polyHash(col("s")).as("h1"),
      Fns.polyHash2(col("s")).as("h2"),
      aggregate(split(col("s"), ""), lit(0L),
        (h, c) => (h * lit(31L) + ascii(c)) % lit(1000000007L)).as("ref1"),
      aggregate(split(col("s"), ""), lit(0L),
        (h, c) => (h * lit(131L) + ascii(c)) % lit(1000000009L)).as("ref2")
    ).collect()
    rows.foreach { r =>
      assert(r.getLong(0) === r.getLong(2), "base-31 hash mismatch")
      assert(r.getLong(1) === r.getLong(3), "base-131 hash mismatch")
    }
    assert(rows(0).getLong(0) !== rows(0).getLong(1), "hash families must differ")
  }

  test("polyHash known value: 'ab' -> (97*31 + 98) % p") {
    val got = Seq("ab").toDF("s").select(Fns.polyHash(col("s"))).as[Long].head()
    assert(got === (97L * 31 + 98) % 1000000007L)
  }

  test("Fnv1aExpr matches the published FNV-1a 32 test vectors") {
    // "" -> offset basis; "a" -> 0xe40c292c; "foobar" -> 0xbf9cf968
    val got = fnvFrame
      .select(VectorExpressions.fnv1a(col("s"))).as[Long].collect()
    assert(got.toSeq === Seq(2166136261L, 0xe40c292cL, 0xbf9cf968L))
  }

  test("SortedIntersectCount == size(array_intersect) on random sorted sets") {
    sortedSetsFrame.select(
        VectorExpressions.sortedIntersectCount(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("slow"))
      .collect()
      .foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // empty and null inputs
    val edge = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
    assert(edge.select(VectorExpressions.sortedIntersectCount(col("a"), col("b")))
      .collect().head.getLong(0) === 0L)
    assert(edge.select(VectorExpressions.sortedIntersectCount(lit(null).cast("array<bigint>"), col("b")))
      .collect().head.isNullAt(0))
  }

  test("sorted_intersect elements equal array_intersect on sorted sets") {
    intersectFrame
      .select(
        VectorExpressions.sortedIntersect(col("a"), col("b")).as("fast"),
        array_intersect(col("a"), col("b")).as("slow"))
      .collect()
      .foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    val nul = Seq((Seq(1L), Seq(1L))).toDF("a", "b")
      .select(VectorExpressions.sortedIntersect(
        lit(null).cast("array<bigint>"), col("b")))
    assert(nul.collect().head.isNullAt(0))
    // SQL registration
    graft.Engine.tune(spark)
    Seq((Seq(1L, 4L, 6L), Seq(4L, 6L, 9L))).toDF("a", "b")
      .createOrReplaceTempView("si_ok")
    assert(spark.sql("SELECT sorted_intersect(a, b) FROM si_ok")
      .collect().head.getSeq[Long](0) === Seq(4L, 6L))
  }

  test("sorted_intersect_count rejects non-bigint arrays at analysis time") {
    graft.Engine.tune(spark)
    Seq((Seq("a", "b"), Seq("b", "c"))).toDF("a", "b")
      .createOrReplaceTempView("sic_bad")
    // before ExpectsInputTypes this ClassCastException'd inside codegen
    // (or read garbage through getLong); now it's an analysis error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sorted_intersect_count(a, b) FROM sic_bad").collect()
    }
    assert(e.getMessage.toLowerCase.contains("sorted_intersect_count"))
    // int arrays don't silently alias to bigint either
    Seq((Seq(1, 2), Seq(2, 3))).toDF("a", "b").createOrReplaceTempView("sic_int")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sorted_intersect_count(a, b) FROM sic_int").collect()
    }
  }

  test("cdc_boundaries positions are codepoints: ASCII == multibyte twin") {
    // the same codepoint sequence shifted into multibyte space must yield
    // IDENTICAL boundary positions iff hashes fold codepoints (they differ
    // under byte-rolling: é is two UTF-8 bytes)
    val (ascii, astral) = (cdcAscii, cdcAstral)
    val got = Seq((1L, ascii)).toDF("id", "s")
      .select(Fns.cdcBoundaries(col("s"))).collect().head.getSeq[Int](0)
    assert(got.nonEmpty, "fixture string produced no boundaries; lengthen it")
    assert(got.forall(b => b >= 16 && b <= 400))
    // positional sanity on genuinely multibyte text: every boundary must
    // be a valid codepoint offset (≤ codepoint count, not byte count)
    val gotAstral = Seq((1L, astral)).toDF("id", "s")
      .select(Fns.cdcBoundaries(col("s"))).collect().head.getSeq[Int](0)
    val cps = astral.codePointCount(0, astral.length)
    assert(cps === 400)
    assert(gotAstral.forall(b => b >= 16 && b <= cps))
  }

  test("bag_distance is a lossless lower bound on levenshtein") {
    val rows = namePairsFrame
      .select(
        graft.functions.VectorExpressions.bagDistance(
          graft.functions.VectorExpressions.charHist(col("a")),
          graft.functions.VectorExpressions.charHist(col("b"))).as("bag"),
        levenshtein(col("a"), col("b")).cast("long").as("lev"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) <= r.getLong(1),
        s"bag ${r.getLong(0)} must lower-bound lev ${r.getLong(1)}")
    }
    // so a bag<=k screen can never drop a lev<=k pair — the fuzzy-join
    // prefilter is exact, not approximate
    assert(rows.forall(r => r.getLong(1) > 6 || r.getLong(0) <= 6))
  }

  test("MinhashSigExpr == the interpreted HOF composition, empty -> null") {
    val df = shinglesFrame
    val slow = transform(sequence(lit(0), lit(63)), i =>
      array_min(zip_with(
        transform(col("shs"), sh => Fns.polyHash(sh)),
        transform(col("shs"), sh => Fns.polyHash2(sh)),
        (a, b) => pmod(a + i.cast("long") * b, lit(2147483647L)))))
    val rows = df.select(
      VectorExpressions.minhashSig(col("shs")).as("fast"),
      when(size(col("shs")) > 0, slow).as("slow")).collect()
    rows.foreach { r => assert(r.get(0) === r.get(1)) }
    assert(rows.last.isNullAt(0))
    // the dup row equals its deduped twin
    assert(rows(2).getSeq[Long](0) ===
      df.limit(3).select(VectorExpressions.minhashSig(array(lit("a b c")))).collect()(2).getSeq[Long](0))
    // SQL-registered name works
    Engine.tune(spark)
    assert(spark.sql("SELECT minhash_sig(array('a b c'))[0] IS NOT NULL")
      .collect()(0).getBoolean(0))
  }

  test("every kernel's generated code returns its interpreted rows") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val sqRnd = new scala.util.Random(7)
    val sqFrame = Seq.fill(20)(
      (Array.fill(64)(sqRnd.nextLong() % 4000000L),
       Array.fill(64)(sqRnd.nextLong() % 4000000L))).toDF("a", "b")
    val (a, b, s) = (col("a"), col("b"), col("s"))
    val nullLongs = lit(null).cast("array<bigint>")
    val cases: Seq[(String, DataFrame, Seq[Column])] = Seq(
      ("fold_dot_product", dotFrame, Seq(Fns.dotD(a, b))),
      ("fold_sq_diff", sqFrame, Seq(Fns.sqDistL(a, b))),
      ("poly_hash", hashFrame, Seq(Fns.polyHash(s), Fns.polyHash2(s))),
      ("fnv1a32", fnvFrame, Seq(VectorExpressions.fnv1a(s))),
      ("sorted_intersect_count", sortedSetsFrame,
        Seq(VectorExpressions.sortedIntersectCount(a, b),
          VectorExpressions.sortedIntersectCount(nullLongs, b))),
      ("sorted_intersect", intersectFrame,
        Seq(VectorExpressions.sortedIntersect(a, b),
          VectorExpressions.sortedIntersect(nullLongs, b))),
      ("cdc_boundaries", Seq(cdcAscii, cdcAstral).toDF("s"), Seq(Fns.cdcBoundaries(s))),
      ("char_hist", namePairsFrame, Seq(VectorExpressions.charHist(a))),
      ("bag_distance", namePairsFrame, Seq(VectorExpressions.bagDistance(
        VectorExpressions.charHist(a), VectorExpressions.charHist(b)))),
      ("minhash_sig", shinglesFrame, Seq(VectorExpressions.minhashSig(col("shs")))))
    // doubles compared by their bits; arrays as lists
    def cells(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case xs: scala.collection.Seq[_] => xs.toList
      case x => x
    })
    val keys = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    cases.foreach { case (name, frame, kernels) =>
      // over a local relation, ConvertToLocalRelation evaluates the
      // projection with the interpreted projection while it optimizes
      val interpreted = frame.select(kernels: _*)
      assert(interpreted.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], name)
      val want = cells(interpreted.collect())
      // the same rows as a scan: the projection runs in generated code, and
      // a generated class that fails to compile fails the case
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      try {
        val generated = frame.localCheckpoint().select(kernels: _*)
        val got = cells(generated.collect())
        val inCodegen = generated.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec => w.collect { case p: ProjectExec => p }
        }.flatten
        assert(inCodegen.exists(_.projectList.exists(_.exists(_.prettyName == name))),
          s"$name: no ProjectExec running the kernel inside WholeStageCodegenExec")
        assert(got === want, name)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("cosine of identical vectors is 1.0") {
    val got = Seq((Seq(0.5, -0.25, 3.0), Seq(0.5, -0.25, 3.0))).toDF("a", "b")
      .select(Fns.cosineD(col("a"), col("b"))).as[Double].head()
    assert(math.abs(got - 1.0) < 1e-15)
  }

  test("explode_ngrams generator: exact stream, short/null inputs empty") {
    graft.Engine.tune(spark)
    Seq((1L, "the quick brown fox"), (2L, "ab"), (3L, null.asInstanceOf[String]))
      .toDF("id", "txt").createOrReplaceTempView("gen_t")
    val rows = spark.sql(
      """SELECT id, ng FROM gen_t LATERAL VIEW explode_ngrams(txt, 3) t AS ng
        |ORDER BY id, ng""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq(
      (1L, "quick brown fox"), (1L, "the quick brown")))
    // n larger than the token count and null text both generate nothing ✓
  }

  test("BoundedTopK: buffer never exceeds K, merge order never matters") {
    import graft.functions.{BoundedTopK, Prioritized, TopKBuf}
    val agg = new BoundedTopK(5)
    val rnd = new scala.util.Random(7)
    val items = Seq.fill(200)(
      Prioritized(rnd.nextInt(40).toDouble, rnd.nextInt(1000).toLong))
    val expect = items.distinct.sortBy(e => (e.pr, e.doc_id)).take(5)
    // sequential fold, buffer stays bounded at every step
    val folded = items.foldLeft(agg.zero) { (b, v) =>
      val n = agg.reduce(b, v); assert(n.items.length <= 5); n
    }
    assert(folded.items === expect)
    // any partitioning + any merge order gives the same result
    Seq(1, 3, 7, 50).foreach { parts =>
      val bufs = items.grouped(parts).toSeq
        .map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(bufs).foldLeft(agg.zero)(agg.merge)
      assert(merged.items === expect, s"parts=$parts")
    }
    // duplicates collapse (collect_set semantics)
    val dup = Prioritized(1.0, 1L)
    val b2 = agg.reduce(agg.reduce(agg.zero, dup), dup)
    assert(b2 === TopKBuf(Vector(dup)))
  }
}
