package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pipeline

/** Behavior tests for the LLM-pipeline operators on the sf0.001 fixture. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  test("dedup_exact: all-distinct corpus -> one group per doc, n_copies=1") {
    val rows = Pipeline.dedupExact(spark, sf).collect()
    assert(rows.length === 500)
    assert(rows.forall(_.getLong(2) === 1L))
  }

  test("dedup_ngram: pairs are ordered, jaccard in (0,1]") {
    val rows = Pipeline.dedupNgram(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.2 && j <= 1.0)
    }
  }

  test("vocab_prune: unk_frac bounded, per-lang counts reconcile with the token stream") {
    val rows = Pipeline.vocabPrune(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, nUnk, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nUnk >= 0L && nUnk <= nTok)
      assert(frac >= 0.0 && frac <= 1.0)
      assert(frac === nUnk.toDouble / nTok.toDouble)
    }
    // vocab_size is a single global value and total tokens match the corpus
    assert(rows.map(_.getLong(4)).toSet.size === 1)
    val totalTokens = Tables.documents(spark, sf)
      .select(explode(split(col("text"), "[^a-zA-Z]+")).as("w"))
      .filter(col("w") =!= "").count()
    assert(rows.map(_.getLong(1)).sum === totalTokens)
  }

  test("novelty: earliest doc fully novel, totals equal distinct shingles") {
    val rows = Pipeline.novelty(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, novel, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(novel >= 0L && novel <= n)
      assert(frac === novel.toDouble / n.toDouble)
    }
    // the minimum doc_id owns every one of its shingles by definition
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(2) === first.getLong(1))
    // every distinct shingle hash is novel in exactly one document, so the
    // novel counts partition the global distinct-shingle-hash universe
    val globalDistinct = Tables.documents(spark, sf)
      .select(filter(split(col("text"), "[^a-zA-Z]+"), w => w =!= lit("")).as("t"))
      .select(explode(when(size(col("t")) >= 3,
          org.apache.spark.sql.functions.transform(
            sequence(lit(0), size(col("t")) - 3),
            i => concat_ws(" ", element_at(col("t"), i + 1),
              element_at(col("t"), i + 2), element_at(col("t"), i + 3))))
        .otherwise(array().cast("array<string>"))).as("sh"))
      .select(graft.functions.Fns.polyHash(col("sh")).as("h"))
      .distinct().count()
    assert(rows.map(_.getLong(2)).sum === globalDistinct)
  }

  test("novelty: no per-shingle occurrence list — sort-based plan, hot shingle safe") {
    // plan shape: the per-shingle first-owner must come from a sort-based
    // window (spills), never a buffered collect_set/collect_list — a
    // boilerplate shingle present in every doc of a 100 TB corpus would
    // put a doc-count-sized array into ONE aggregation buffer otherwise
    val plan = Pipeline.novelty(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("collect_set"), "novelty must not buffer per-key sets")
    assert(!plan.contains("collect_list"), "novelty must not buffer per-key lists")
    assert(!plan.contains("ObjectHashAggregate"),
      "novelty must stay in codegen hash/sort aggregation, not object buffers")
    assert(plan.contains("Window"), "first-owner should be a window min over h")
    // adversarial input: one shingle present in EVERY document (the
    // "all rights reserved" case). Correct totals, one owner, no OOM path.
    val tmp = java.nio.file.Files.createTempDirectory("graft_hot").toString
    import spark.implicits._
    val n = 400
    // tokenizer splits on non-letters, so the unique suffix must be alphabetic
    def tag(i: Int) = i.toString.map(c => ('a' + (c - '0')).toChar)
    (0 until n).map { i =>
      (i.toLong, s"all rights reserved xq${tag(i)} yq${tag(i)} zq${tag(i)}")
    }.toDF("doc_id", "text").repartition(8)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Pipeline.novelty(spark, tmp).collect().sortBy(_.getLong(0))
    assert(rows.length === n)
    // every doc: 4 distinct shingles (the shared one + 3 unique suffix ones);
    // doc 0 owns all 4, every other doc owns exactly its 3 unique ones
    rows.foreach { r =>
      assert(r.getLong(1) === 4L, s"doc ${r.getLong(0)} distinct shingles")
      assert(r.getLong(2) === (if (r.getLong(0) == 0L) 4L else 3L))
    }
  }

  test("cdc_chunks: non-ASCII boundaries are codepoint offsets, not bytes") {
    // é is 2 UTF-8 bytes, 汉 is 3, 𝕏 is 4 (and a surrogate pair in UTF-16):
    // byte-positioned boundaries consumed by codepoint-based substring
    // would mis-slice all of these and break the partition property below
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdcu").toString
    import spark.implicits._
    val texts = Seq(
      "é" * 200,
      ("汉字漫谈 " * 60).trim,
      ("𝕏marks𝕏the𝕏spot " * 40).trim,
      "plain ascii control text " * 10)
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Pipeline.cdcChunks(spark, tmp).collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      val cps = t.codePointCount(0, t.length).toLong
      val rs = rows.filter(_.getLong(0) == i).sortBy(_.getLong(1))
      assert(rs.nonEmpty, s"doc $i produced no chunks")
      var next = 1L
      rs.foreach { r => assert(r.getLong(2) === next, s"doc $i starts"); next += r.getLong(3) }
      assert(next - 1 === cps, s"doc $i chunk lengths must sum to codepoints")
    }
  }

  test("cdc_chunks: chunks partition each doc; an insertion disturbs O(1) chunks") {
    import spark.implicits._
    // partition property on the real fixture: contiguous starts, lengths
    // sum to the document length
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Pipeline.cdcChunks(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet === docs.keySet)
    rows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      var next = 1L
      sorted.foreach { r => assert(r.getLong(2) === next); next += r.getLong(3) }
      assert(next - 1 === docs(id).length.toLong, s"doc $id lengths")
    }
    // CDC locality: the same text with one char inserted mid-doc shares
    // all but O(1) chunk fingerprints (boundaries realign within one
    // window) — the property fixed-stride chunking does NOT have
    val base = docs(docs.keys.min)
    val edited = base.substring(0, base.length / 2) + "Z" +
      base.substring(base.length / 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val hs = Pipeline.cdcChunks(spark, tmp).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.groupBy(_.getLong(4)).view.mapValues(_.length).toMap }
    val (h1, h2) = (hs(1L), hs(2L))
    val shared = h1.keySet.intersect(h2.keySet)
      .toSeq.map(k => math.min(h1(k), h2(k))).sum
    val total = math.max(h1.values.sum, h2.values.sum)
    assert(total > 3, "fixture doc should split into several chunks")
    assert(shared >= total - 3,
      s"insertion disturbed ${total - shared} of $total chunks")
  }

  test("cdc_dedup: duplicate counts partition chunks into canonical-first classes") {
    val chunks = Pipeline.cdcChunks(spark, sf).collect()
    val dedup = Pipeline.cdcDedup(spark, sf).collect()
    // every chunk hash has exactly one canonical (rn=1) occurrence, so
    // total duplicates == total chunks − distinct hashes
    val distinctHashes = chunks.map(_.getLong(4)).toSet.size.toLong
    assert(dedup.map(_.getLong(2)).sum === chunks.length - distinctHashes)
    assert(dedup.map(_.getLong(1)).sum === chunks.length.toLong)
    dedup.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4)) // dup_bytes <= total_bytes
      val f = r.getDouble(5)
      assert(f >= 0.0 && f <= 1.0)
    }
    // byte conservation: per-doc total_bytes equals the document length
    val lens = Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1).length.toLong).toMap
    dedup.foreach(r => assert(r.getLong(4) === lens(r.getLong(0))))
  }

  test("skipgrams: window-2 pairs on a tiny corpus are exact") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_skipgram").toString
    Seq((1L, "a b c"), (2L, "x x x")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Pipeline.skipgrams(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // "a b c" -> (a,b),(b,c) at offset 1 and (a,c) at offset 2;
    // "x x x" -> (x,x) three times; order: count desc, then (w, c)
    assert(got === Seq(("x", "x", 3L), ("a", "b", 1L), ("a", "c", 1L),
      ("b", "c", 1L)))
  }

  test("simhash: near-identical token bags give near-equal simhash") {
    import spark.implicits._
    // two docs sharing all tokens must get identical 32-bit simhash
    val df = Seq((1L, "alpha beta gamma alpha"), (2L, "beta alpha alpha gamma"),
                 (3L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    df.createOrReplaceTempView("simhash_probe")
    // reuse operator logic by writing probe docs to a temp parquet dir
    val tmp = java.nio.file.Files.createTempDirectory("graft_simhash").toString
    df.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Pipeline.simhash(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === got(2L), "same token multiset -> same simhash")
    def popcount(x: Long): Int = java.lang.Long.bitCount(x)
    assert(popcount(got(1L) ^ got(3L)) > 4, "disjoint vocab should differ in many bits")
  }

  test("similarity_topk: ranks are 1..10 per probe, cos descending") {
    val rows = Pipeline.similarityTopk(spark, sf).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byProbe.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to 10L))
      val cos = sorted.map(_.getDouble(2)).toSeq
      assert(cos === cos.sorted.reverse, "cos must be non-increasing with rank")
    }
  }

  test("ann_lsh top hit agrees with exact top-k most of the time (recall sanity)") {
    val exact = Pipeline.similarityTopk(spark, sf).collect()
      .filter(_.getLong(3) <= 5).map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Pipeline.annLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // deterministic 0.28 on this fixture: random near-orthogonal vectors
    // are the worst case for sign-bit LSH (best neighbors at cos≈0.4).
    // On a near-dup corpus (cos≥0.9) the same config predicts ~0.85.
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall > 0.2, s"suspiciously low ANN recall: $recall")
  }

  test("ann_ivf returns ranked candidates with sane recall") {
    val exact = Pipeline.similarityTopk(spark, sf).collect()
      .filter(_.getLong(3) <= 5).map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Pipeline.annIvf(spark, sf).collect()
    ivf.groupBy(_.getLong(0)).values.foreach { rs =>
      val ranks = rs.map(_.getLong(3)).sorted.toSeq
      assert(ranks === (1L to ranks.length))
    }
    val hits = (exact & ivf.map(r => (r.getLong(0), r.getLong(1))).toSet).size
    assert(hits.toDouble / exact.size > 0.15,
      s"suspiciously low IVF recall: ${hits.toDouble / exact.size}")
  }

  test("dedup_clusters equals exact union-find over the ngram pairs") {
    val pairs = Pipeline.dedupNgram(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = verts.map(v => v -> find(v)).toMap
    val got = Pipeline.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
  }

  test("df cap is a recall knob: verbatim duplication blinds a low cap, a scaled cap recovers") {
    import spark.implicits._
    // 3 content families × 10 verbatim copies: every shingle hash has
    // df = 10 (the miniature of the honest-100× duplication stress)
    val ex = (for {
      fam <- 0 until 3; copy <- 0 until 10; sh <- 0 until 5
    } yield (fam * 100L + copy, fam * 1000L + sh)).toDF("doc_id", "h")
    // cap below the duplication factor: blocking drops EVERY shingle
    val blind = Pipeline.pairStatsOf(ex, dfCap = 5).count()
    assert(blind === 0L, "a sub-duplication cap must go recall-blind")
    // cap at/above the duplication factor: all within-family pairs found,
    // every pair sharing all 5 shingles (jaccard 1 near-dups)
    val found = Pipeline.pairStatsOf(ex, dfCap = 10).collect()
    assert(found.length === 3 * (10 * 9) / 2)
    found.foreach { r =>
      assert(r.getLong(2) === 5L) // common
      assert(r.getLong(0) / 100 === r.getLong(1) / 100) // same family only
    }
  }

  test("dedup_keep_best picks the quality argmax per cluster, min id on ties") {
    val scores = Pipeline.qualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val clusters = Pipeline.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = clusters.groupBy(_._2).map { case (cid, members) =>
      val docs = members.map(_._1)
      val best = docs.minBy(d => (-scores(d), d))
      cid -> (docs.length.toLong, best, (scores(best) * 100).toLong)
    }
    val got = Pipeline.dedupKeepBest(spark, sf).collect()
    assert(got.length === want.size)
    got.foreach { r =>
      val (n, kept, pct) = want(r.getLong(0))
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === kept)
      assert(r.getLong(3) === pct)
      assert(r.getBoolean(4) === (kept != r.getLong(0)))
    }
  }

  test("minLabelComponents converges on a diameter-6 chain plus a far pair") {
    import spark.implicits._
    // chain 107-106-...-101 (diameter 6, min label at the FAR end from the
    // high ids, so a fixed small round count would mislabel) + disjoint pair
    val chain = (101L to 106L).map(v => (v, v + 1))
    val pairs = (chain :+ (900L, 901L)).toDF("doc_a", "doc_b").localCheckpoint()
    val want = (101L to 107L).map(_ -> 101L).toMap ++
      Map(900L -> 900L, 901L -> 900L)
    // the measured width (one union-find task) and a forced superstep path
    Seq(None, Some(4)).foreach { parts =>
      val got = Pipeline.minLabelComponents(pairs, contractParts = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === want, s"contractParts $parts")
    }
  }

  /** Jobs `body` starts, counted up to a marker job (the listener bus
    * delivers in order, so every earlier job has been seen by then). */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "graft-pipeline-spec-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
              p.getProperty("spark.job.description") == marker)) markerSeen = true
        else if (!markerSeen) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen)
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  test("minLabelComponents width: measured bytes choose one union-find task or supersteps") {
    import spark.implicits._
    import graft.operators.Graph
    // the heap model with no session floor: at 8 GB / 32 cores a task's
    // share is 64 MB, so 1 MB of edges (36 MB in heap) fits one task and
    // 733 MB needs 413
    val g8 = 8L << 30
    assert(Graph.unionFindPartitions(1, 32, g8, 1L << 20) === 1)
    assert(Graph.unionFindPartitions(1, 32, g8, 733L << 20) === 413)
    // measured tables, through projections and filters: a local
    // checkpoint's stored blocks, a reliable checkpoint's files and
    // parquet files
    val local = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    def bytes(df: org.apache.spark.sql.DataFrame) =
      Graph.measuredBytes(df.queryExecution.analyzed)
    val ckpt = local.localCheckpoint(eager = true)
    assert(bytes(ckpt.filter($"a" > 1).select($"b", $"a")).exists(_ > 0))
    val dir = graft.util.TempDirs.create("graft_cc_width").toString
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir", s"$dir/ckpt")
    try assert(bytes(graft.util.Checkpoints.stable(local)).exists(_ > 0))
    finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
    local.write.mode("overwrite").parquet(s"$dir/pq")
    val files = new java.io.File(s"$dir/pq").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(bytes(spark.read.parquet(s"$dir/pq").select("a", "b")) === Some(files))
    assert(Graph.contractionWidth(ckpt) === Some(1))
    // below the budget the build is one job: the union-find task's checkpoint
    assert(jobsOf(Pipeline.minLabelComponents(ckpt)) === 1)
    // local rows and an explode (which can emit more rows than any
    // estimate) are unmeasurable, so the kernel contracts first, measures
    // the forest and still labels exactly ({0,1,2,3} joined through the
    // exploded pairs)
    assert(Graph.contractionWidth(local) === None)
    val exploded = spark.range(3)
      .select(explode(array($"id", $"id" + 1)).as("a"), $"id".as("b"))
    assert(Graph.contractionWidth(exploded) === None)
    assert(Pipeline.minLabelComponents(exploded).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ===
      (0L to 3L).map(_ -> 0L).toMap)
    // above width 1 the superstep path keeps its loud round cap: a
    // 200-edge chain cannot converge in 2 rounds
    val chain = (1L to 200L).map(v => (v, v + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](Pipeline.minLabelComponents(
      chain, floorRounds = 1, maxRounds = 2, contractParts = Some(4)))
    assert(e.getMessage.contains("hit the 2-round cap before convergence"))
  }

  test("hash_sample is deterministic and a strict subset") {
    val a = Pipeline.hashSample(spark, sf).collect().map(_.getLong(0)).toSeq
    val b = Pipeline.hashSample(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a === b)
    val all = Tables.documents(spark, sf).count()
    assert(a.nonEmpty && a.length < all)
  }

  test("countmin estimates dominate exact counts and shard sketches merge") {
    val rows = Pipeline.countMin(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L, s"${r.getString(0)}: CM must overestimate")
      assert(r.getLong(2) === r.getLong(1) + r.getLong(3))
    }
    val exacts = rows.map(_.getLong(1))
    assert(exacts.sameElements(exacts.sorted(Ordering[Long].reverse)))
    // mergeability: CM cells are linear, so the sum of the two
    // doc_id-parity shard sketches equals the corpus sketch cell-by-cell
    val docs = Tables.documents(spark, sf)
    def cellsOf(d: org.apache.spark.sql.DataFrame) =
      Pipeline.cmCellsOf(Pipeline.cmWcOf(d)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cellsOf(docs)
    val even = cellsOf(docs.filter(pmod(col("doc_id"), lit(2L)) === 0L))
    val odd = cellsOf(docs.filter(pmod(col("doc_id"), lit(2L)) === 1L))
    val merged = (even.keySet ++ odd.keySet).map(k =>
      k -> (even.getOrElse(k, 0L) + odd.getOrElse(k, 0L))).toMap
    assert(merged === whole)
  }

  test("stratified_sample takes exactly ceil(n/10) docs per language stratum") {
    val strata = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Pipeline.stratifiedSample(spark, sf).collect()
    val byLang = got.groupBy(_.getString(1))
    assert(byLang.keySet === strata.keySet)
    byLang.foreach { case (lang, rows) =>
      val n = strata(lang)
      assert(rows.length.toLong === (n + 9) / 10,
        s"$lang: expected ceil($n/10) sampled docs")
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to rows.length).toSeq,
        s"$lang: ranks must be 1..k")
      rows.foreach(r => assert(r.getLong(3) === n))
    }
  }

  test("chunking covers every token with stride-40/len-50 windows") {
    import org.apache.spark.sql.functions._
    val chunks = Pipeline.chunkDocs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tokCounts = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(filter(graft.functions.Fns.tokensArr(col("text")), w => w =!= lit(""))).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val n = tokCounts(doc)
      val sorted = cs.sortBy(_._2)
      // starts are 1, 41, 81, ... and the last chunk reaches the last token
      assert(sorted.map(_._2) === sorted.indices.map(i => 1L + 40L * i))
      assert(sorted.last._2 + sorted.last._3 - 1 === n)
      sorted.foreach { case (_, start, len) =>
        assert(len === math.min(50L, n - start + 1))
      }
    }
  }

  test("redact masks every digit and nothing else") {
    import org.apache.spark.sql.functions._
    val got = Pipeline.redact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Tables.documents(spark, sf)
      .select(col("doc_id"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === want)
  }

  test("lang_id rule: marker argmax with fixed precedence") {
    val rows = Pipeline.langId(spark, sf).collect()
    rows.foreach { r =>
      val (en, de, fr, es) = (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      val pred = r.getString(2)
      val expected =
        if (es > Seq(en, de, fr, 0L).max) "es"
        else if (fr > Seq(en, de, 0L).max) "fr"
        else if (de > Seq(en, 0L).max) "de"
        else if (en > 0) "en"
        else "und"
      assert(pred === expected)
    }
  }

  test("quality score components bounded and keep implies score>=0.75") {
    val rows = Pipeline.qualityScore(spark, sf).collect()
    rows.foreach { r =>
      val score = r.getDouble(4)
      assert(score >= 0.0 && score <= 1.0)
      assert(r.getBoolean(5) === (score >= 0.75))
    }
  }

  test("containment overlap >= jaccard on shared pairs, both in (0,1]") {
    val cont = Pipeline.dedupContainment(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val jac = Pipeline.dedupNgram(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    cont.values.foreach(o => assert(o > 0.0 && o <= 1.0))
    // overlap coefficient dominates jaccard: |A∩B|/min ≥ |A∩B|/|A∪B|
    cont.keySet.intersect(jac.keySet).foreach { k =>
      assert(cont(k) >= jac(k) - 1e-12, s"pair $k")
    }
  }

  test("importance_sample is deterministic and respects the weight rule") {
    val a = Pipeline.importanceSample(spark, sf).collect().map(_.getLong(0)).toSeq
    val b = Pipeline.importanceSample(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a === b, "two runs identical (no RNG)")
    val kept = a.toSet
    Tables.documents(spark, sf).collect().foreach { r =>
      val (id, text, n) = (r.getLong(0), r.getString(1), r.getLong(4))
      val h = text.getBytes("UTF-8").foldLeft(0L)((x, c) => (x * 31 + c) % 1000000007L)
      val w = math.min(1.0, n.toDouble / 1500.0)
      assert(kept.contains(id) === ((h % 1000000L).toDouble < 1000000.0 * w), s"doc $id")
    }
  }

  test("embedding_quantize: error bounded by scale/2, exact on one vector") {
    val rows = Pipeline.embeddingQuantize(spark, sf).collect()
    rows.foreach { r =>
      val (scale, err) = (r.getDouble(3), r.getDouble(4))
      assert(err >= 0.0 && err <= scale / 2 + 1e-12,
        s"vec ${r.getLong(0)}: rounding error must be ≤ half a step")
    }
    val v = Tables.embeddings(spark, sf).orderBy("vec_id").limit(1)
      .collect().head.getSeq[Float](1).map(_.toDouble)
    val (mn, mx) = (v.min, v.max)
    val scale = (mx - mn) / 255.0
    val expErr = v.map { x =>
      val q = math.max(math.min(math.floor((x - mn) / scale + 0.5), 255.0), 0.0)
      math.abs(x - (mn + q * scale))
    }.max
    val r0 = rows.minBy(_.getLong(0))
    assert(r0.getDouble(1) === mn); assert(r0.getDouble(2) === mx)
    assert(r0.getDouble(4) === expErr)
  }

  test("decontamination: split is disjoint-total, overlap matches brute force") {
    val rows = Pipeline.decontamination(spark, sf).collect()
    val docs = Tables.documents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def hash(t: String): Long =
      t.getBytes("UTF-8").foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    // per-doc distinct HASHED shingles — the engine (and oracle) distinct
    // at the hash level, so collisions collapse on both sides identically
    def shingleSet(t: String): Set[Long] = {
      val w = t.split("[^a-zA-Z]+").filter(_.nonEmpty)
      w.sliding(3).filter(_.length == 3).map(g => hash(g.mkString(" "))).toSet
    }
    val test = docs.filter(d => hash(d._2) % 10 == 0)
    val trainSh = docs.filterNot(d => hash(d._2) % 10 == 0)
      .flatMap(d => shingleSet(d._2)).toSet
    val expect = test.map { case (id, t) =>
      val sh = shingleSet(t)
      id -> (sh.size.toLong, sh.count(trainSh.contains).toLong)
    }.toMap
    assert(rows.map(_.getLong(0)).toSet === expect.keySet)
    rows.foreach { r =>
      val (n, sharedN) = expect(r.getLong(0))
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === sharedN)
      assert(r.getBoolean(4) === (sharedN.toDouble / n >= 0.6))
    }
  }

  test("collocations top-50 equals a driver-side brute force") {
    val texts = Tables.documents(spark, sf).collect().map(_.getString(1))
    val docToks = texts.map(_.split("[^a-zA-Z]+").filter(_.nonEmpty).toSeq)
    val uni = docToks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bgs = docToks.flatMap(t => t.sliding(2).filter(_.length == 2).map(_.mkString(" ")))
    val nBg = bgs.length.toLong
    val expected = bgs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .filter(_._2 >= 5)
      .map { case (bg, cAb) =>
        val Array(a, b) = bg.split(" ")
        (bg, (cAb * nBg).toDouble / (uni(a) * uni(b)).toDouble)
      }
      .sortBy { case (bg, lift) => (-lift, bg) }.take(50)
    val got = Pipeline.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(4))).toSeq
    assert(got === expected)
  }

  test("char_diversity gini matches a hand count and stays in [0,1)") {
    val rows = Pipeline.charDiversity(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) < 1.0)
      if (r.getLong(1) > 0) // Σc² ≥ n (all counts ≥ 1), so gini ≤ 1-1/n
        assert(r.getDouble(4) <= 1.0 - 1.0 / r.getLong(1))
    }
    val doc = Tables.documents(spark, sf).orderBy("doc_id").limit(1).collect().head
    val counts = doc.getString(1).filterNot(_ == '\n')
      .groupBy(identity).values.map(_.size.toLong)
    val r0 = rows.find(_.getLong(0) == doc.getLong(0)).get
    assert(r0.getLong(1) === counts.sum)
    assert(r0.getLong(2) === counts.size.toLong)
    assert(r0.getLong(3) === counts.map(c => c * c).sum)
  }

  test("gopher_quality matches a hand count on one doc, bounds on all") {
    val rows = Pipeline.gopherQuality(spark, sf).collect()
    rows.foreach { r =>
      val (n, df, tbn, tbf) = (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
      assert(df >= 0.0 && df <= 1.0); assert(tbf >= 0.0 && tbf <= 1.0)
      if (n >= 2) assert(tbn >= 1)
      assert(r.getBoolean(5) === (df > 0.3 && tbf < 0.2))
    }
    // hand recount of the smallest doc_id via the same tokenizer contract
    val doc = Tables.documents(spark, sf).orderBy("doc_id").limit(1)
      .collect().head
    val toks = doc.getString(1).split("[^a-zA-Z]+").filter(_.nonEmpty)
    val bigs = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val r0 = rows.find(_.getLong(0) == doc.getLong(0)).get
    assert(r0.getLong(1) === toks.length.toLong)
    assert(r0.getDouble(2) === toks.distinct.length.toDouble / toks.length)
    assert(r0.getLong(3) === bigs.groupBy(identity).values.map(_.size).max.toLong)
  }

  test("repetition_filter matches a driver-side brute force on every doc") {
    val rows = Pipeline.repetitionFilter(spark, sf).collect()
    assert(rows.length === 500)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split("[^a-zA-Z]+").filter(_.nonEmpty)
      val sumLen = toks.map(_.length).sum.toLong
      val grams = toks.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSeq
      val dupChars = grams.groupBy(identity).values
        .filter(_.size > 1)
        .map(g => g.size.toLong * (g.head.length - 4)).sum
      assert(r.getLong(1) === toks.length.toLong)
      assert(r.getLong(2) === sumLen)
      assert(r.getLong(3) === dupChars)
      val frac = if (sumLen > 0) dupChars.toDouble / sumLen.toDouble else 0.0
      assert(r.getDouble(4) === frac)
      assert(r.getBoolean(5) === (frac < 0.3))
    }
  }

  test("domain_cap: <=15 per source, deterministic, plan pre-limits before the exchange") {
    val rows = Pipeline.domainCap(spark, sf).collect()
    val bySrc = rows.groupBy(_.getString(0))
    bySrc.values.foreach { g =>
      assert(g.length <= 15)
      // ranks are 1..n with no gaps
      assert(g.map(_.getLong(2)).sorted.toSeq === (1L to g.length).toSeq)
    }
    // the hash order is reproducible: a second run picks the same docs
    val again = Pipeline.domainCap(spark, sf).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      again.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    // rank-limit pushdown: a WindowGroupLimit runs below the source
    // exchange, so a mega-domain costs a bounded per-partition heap
    val plan = Pipeline.domainCap(spark, sf).queryExecution.sparkPlan.toString
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 2,
      s"expected partial+final WindowGroupLimit, got:\n$plan")
  }

  test("token_compression reconciles with corpus-wide sums") {
    val rows = Pipeline.tokenCompression(spark, sf).collect()
    assert(rows.nonEmpty)
    val d = Tables.documents(spark, sf).select(
      sum(col("n_chars")).as("c"),
      sum(size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[.,]"), lit(0))).cast("long")).as("t"),
      count(lit(1)).as("n")).collect().head
    assert(rows.map(_.getLong(1)).sum === d.getLong(2))
    assert(rows.map(_.getLong(2)).sum === d.getLong(0))
    assert(rows.map(_.getLong(3)).sum === d.getLong(1))
    rows.foreach { r =>
      assert(r.getDouble(4) === r.getLong(2).toDouble / r.getLong(3).toDouble)
    }
  }

  test("dedup_incremental agrees with the full pair table restricted to the split") {
    // every (probe, index) near-dup candidate in the FULL minhash pair
    // table must be reflected in the incremental census, and vice versa
    val pairs = Pipeline.dedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val crossSplit = pairs.flatMap { case (a, b) =>
      if (a % 4 == 3 && b % 4 != 3) Some(a -> b)
      else if (b % 4 == 3 && a % 4 != 3) Some(b -> a)
      else None
    }
    val expected = crossSplit.groupBy(_._1).map { case (doc, ps) =>
      (doc, ps.map(_._2).distinct.length.toLong, ps.map(_._2).min)
    }.toSet
    val got = Pipeline.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    got.foreach { case (doc, _, first) =>
      assert(doc % 4 === 3L); assert(first % 4 !== 3L)
    }
  }

  test("adaptive_filter: gates are order statistics, counts partition each language") {
    val docs = Tables.documents(spark, sf)
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val rows = Pipeline.adaptiveFilter(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet === docs.keySet)
    rows.foreach { r =>
      val (lang, lo, hi) = (r.getString(0), r.getLong(1), r.getLong(2))
      val lens = docs(lang)
      assert(lo === lens(math.ceil(0.05 * lens.length).toInt - 1))
      assert(hi === lens(math.ceil(0.95 * lens.length).toInt - 1))
      assert(lo <= hi)
      // short/long/kept partition the language exactly
      assert(r.getLong(3) + r.getLong(4) + r.getLong(5) === lens.length.toLong)
      assert(r.getLong(5) === lens.count(c => c >= lo && c <= hi).toLong)
    }
  }

  test("zipf: ranks contiguous, counts non-increasing, slopes negative past rank 1") {
    val rows = Pipeline.zipf(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length))
    val cnts = rows.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    assert(rows.head.getDouble(3) === 0.0)
    // a tie in consecutive counts gives slope 0; otherwise strictly negative
    rows.tail.foreach(r => assert(r.getDouble(3) <= 0.0))
  }

  test("leakage_split: cluster members co-assign; buckets partition 80/10/10 by hash") {
    val rows = Pipeline.leakageSplit(spark, sf).collect()
    assert(rows.length === 500)
    // every near-dup cluster lands on exactly one side of the split
    val byRep = rows.groupBy(_.getLong(2))
    byRep.values.foreach(g => assert(g.map(_.getString(3)).toSet.size === 1))
    // the split is the recorded multiplicative hash of the representative
    rows.foreach { r =>
      val b = java.lang.Math.floorMod(r.getLong(2) * 2654435761L, 100L)
      val expect = if (b < 80) "train" else if (b < 90) "val" else "test"
      assert(r.getString(3) === expect)
    }
    // clustered docs inherit their component minimum as representative
    val clusters = Pipeline.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) === clusters.getOrElse(r.getLong(0), r.getLong(0)))
    }
  }

  test("minhash_error: estimator agrees with signature arithmetic, pairs = minhash pairs") {
    val exact = Pipeline.dedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = Pipeline.minhashError(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === exact.keySet)
    rows.foreach { r =>
      val (nAgree, est, jac, err) =
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(nAgree >= 0L && nAgree <= 64L)
      assert(est === nAgree.toDouble / 64.0)
      assert(jac === exact((r.getLong(0), r.getLong(1))))
      assert(err === math.abs(est - jac))
      assert(err <= 1.0)
    }
    // the 64-permutation sketch should track exact Jaccard closely on
    // LSH candidates (the whole point of the eval): mean |err| under 0.2
    assert(rows.map(_.getDouble(5)).sum / rows.length < 0.2)
  }

  test("syndication: pair counts conserve the near-dup pair table") {
    val pairs = Pipeline.dedupNgram(spark, sf).collect().length
    val rows = Pipeline.syndication(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum === pairs.toLong)
    rows.foreach { r =>
      val (sa, sb) = (r.getString(0), r.getString(1))
      assert(sa <= sb)
      assert(r.getBoolean(3) === (sa != sb))
      assert(r.getLong(2) >= 1L)
    }
  }

  test("dedup_funnel: stages sequential, n_docs monotone, counts reconcile") {
    val rows = Pipeline.dedupFunnel(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "raw"), (1L, "exact"), (2L, "neardup")))
    // each stage's survivors = previous stage's survivors - its removals
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur.getLong(2) === prev.getLong(2) - cur.getLong(3))
    }
    assert(rows(0).getLong(2) === 500L)
    assert(rows(0).getLong(3) === 0L)
    // fixture corpus is all-distinct text, so exact dedup removes nothing
    assert(rows(1).getLong(3) === 0L)
    // near-dup removals = non-canonical cluster members among survivors
    val ndDrop = Pipeline.dedupClusters(spark, sf).collect()
      .count(r => r.getLong(0) !== r.getLong(1))
    assert(rows(2).getLong(3) === ndDrop.toLong)
  }

  test("dedup_lineage: per-doc dispositions reconcile with the funnel counts") {
    val lineage = Pipeline.dedupLineage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val funnel = Pipeline.dedupFunnel(spark, sf).collect()
    // one row per corpus document, every doc dispositioned exactly once
    assert(lineage.length.toLong === funnel(0).getLong(2))
    assert(lineage.map(_._1).distinct.length === lineage.length)
    val byStage = lineage.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(byStage.getOrElse("exact", 0L) === funnel(1).getLong(3))
    assert(byStage.getOrElse("neardup", 0L) === funnel(2).getLong(3))
    assert(byStage.getOrElse("kept", 0L) === funnel(2).getLong(2))
    // canonical: kept docs self-canonical; neardup drops point at their
    // cluster canonical (which must itself be a kept doc); exact drops
    // point at a smaller id with identical content hash
    val keptIds = lineage.filter(_._2 == "kept").map(_._1).toSet
    lineage.foreach {
      case (d, "kept", c)    => assert(c === d)
      case (d, "neardup", c) => assert(c < d || keptIds.contains(c))
      case (d, "exact", c)   => assert(c < d)
      case other             => fail(s"unknown disposition $other")
    }
    val clusterCanon = Pipeline.dedupClusters(spark, sf).collect()
      .filter(r => r.getLong(0) !== r.getLong(1))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    lineage.filter(_._2 == "neardup").foreach { case (d, _, c) =>
      assert(clusterCanon(d) === c)
    }
  }

  test("snapshot_diff: statuses partition both slices, no 'changed' in fixture") {
    val rows = Pipeline.snapshotDiff(spark, sf).collect()
    val byStatus = rows.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val ids = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
    // old slice = id % 4 != 3, new slice = id % 4 != 0
    assert(byStatus.getOrElse("added", 0L) === ids.count(_ % 4 == 3).toLong)
    assert(byStatus.getOrElse("removed", 0L) === ids.count(_ % 4 == 0).toLong)
    assert(byStatus.getOrElse("unchanged", 0L) ===
      ids.count(i => i % 4 != 3 && i % 4 != 0).toLong)
    // same doc_id always carries identical text in the fixture
    assert(!byStatus.contains("changed"))
  }

  test("ngram_diversity: distinct <= total, diversity rises with n, totals reconcile") {
    val rows = Pipeline.ngramDiversity(spark, sf).collect()
    val langs = rows.map(_.getString(0)).distinct
    assert(rows.length === langs.length * 3)
    rows.foreach { r =>
      val (total, distinct, div) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(distinct >= 1L && distinct <= total)
      assert(div === distinct.toDouble / total.toDouble)
    }
    // per (lang): total n-grams shrink by one doc-count as n grows;
    // distinct-n diversity is non-decreasing in n for natural text
    langs.foreach { l =>
      val byN = rows.filter(_.getString(0) == l).sortBy(_.getLong(1))
      assert(byN.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
      assert(byN(0).getLong(2) >= byN(1).getLong(2))
      assert(byN(1).getLong(2) >= byN(2).getLong(2))
      assert(byN(0).getDouble(4) <= byN(1).getDouble(4))
      assert(byN(1).getDouble(4) <= byN(2).getDouble(4))
    }
  }

  test("doc_perplexity: self-trained LM gives non-negative NLL, sorted top-N") {
    val rows = Pipeline.docPerplexity(spark, sf).collect()
    assert(rows.length === 25)
    // P(w2|w1) = cb/cu with cu >= cb, so every bigram NLL >= 0
    rows.foreach { r =>
      assert(r.getLong(2) >= 1L)
      assert(r.getDouble(3) >= 0.0)
    }
    val scores = rows.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("word_entropy: bounded by ln(vocab), reconciles with a local recompute") {
    val rows = Pipeline.wordEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    val local = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(col("text"), "[^a-zA-Z]+")).as("w"))
      .filter(col("w") =!= "").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.foreach { r =>
      val (lang, n, v, h, hn) = (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))
      val words = local(lang)
      assert(n === words.length.toLong)
      assert(v === words.distinct.length.toLong)
      val counts = words.groupBy(identity).values.map(_.length.toDouble)
      val expect = math.log(n.toDouble) - counts.map(c => c * math.log(c)).sum / n
      assert(math.abs(h - expect) < 1e-3)
      assert(h >= 0.0 && h <= math.log(v.toDouble) + 1e-9)
      assert(math.abs(hn - h / math.log(v.toDouble)) < 1e-3)
    }
  }

  test("hll registers are max-mergeable and the estimate replays driver-side") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    def shingles(d: org.apache.spark.sql.DataFrame) = d
      .select(filter(graft.functions.Fns.tokensArr(col("text")),
        w => w =!= lit("")).as("t"))
      .select(explode(when(size(col("t")) >= 3,
          transform(sequence(lit(0), size(col("t")) - 3),
            i => concat_ws(" ", element_at(col("t"), i + 1),
              element_at(col("t"), i + 2), element_at(col("t"), i + 3))))
        .otherwise(array().cast("array<string>"))).as("word"))
    def regsOf(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Pipeline.hllRegistersOf(shingles(d)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = regsOf(docs)
    val even = regsOf(docs.filter(col("doc_id") % 2 === 0))
    val odd = regsOf(docs.filter(col("doc_id") % 2 === 1))
    // max-merge of shard registers = corpus registers (the property that
    // makes HLL the distributed distinct monitor)
    (0L until 256L).foreach { b =>
      assert(full(b) === math.max(even(b), odd(b)), s"bucket $b")
    }
    // driver-side replay of the estimate from the registers
    val harm = full.values.map(m => 1.0 / math.pow(2.0, m.toDouble)).sum
    val est = math.floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 / harm).toLong
    val row = Pipeline.hllDistinct(spark, sf).collect().head
    assert(row.getLong(1) === est)
    // in the raw regime the estimate lands within 25% of truth (1.04/√256
    // ≈ 6.5% expected; generous bound keeps the test fixture-robust)
    assert(math.abs(row.getLong(1) - row.getLong(0)).toDouble <=
      0.25 * row.getLong(0), s"estimate ${row.getLong(1)} vs ${row.getLong(0)}")
  }

  test("sample_bias reconciles with the standalone samplers; mixture skews more") {
    val rows = Pipeline.sampleBias(spark, sf).collect()
    val hash = rows.filter(_.getString(0) == "hash")
    val mix = rows.filter(_.getString(0) == "mixture")
    // kept counts must equal what the declared samplers themselves keep
    assert(hash.map(_.getLong(3)).sum === Pipeline.hashSample(spark, sf).count())
    val mixKept = Pipeline.mixtureSample(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    mix.foreach(r => assert(r.getLong(3) === mixKept.getOrElse(r.getString(1), 0L)))
    // full-corpus shares are sampler-independent and sum to ~1e6
    assert(hash.map(_.getLong(4)).sum / 1000 === 999L ||
      hash.map(_.getLong(4)).sum / 1000 === 1000L)
    // the uniform sampler's drift is noise; the mixture DESIGNS skew
    // (en down-weighted 400 vs 800 per-mille), so its TVD dominates
    val hashTvd = hash.head.getLong(7)
    val mixTvd = mix.head.getLong(7)
    assert(hash.forall(_.getLong(7) == hashTvd) && mix.forall(_.getLong(7) == mixTvd))
    assert(mixTvd > hashTvd, s"mixture TVD $mixTvd should exceed hash TVD $hashTvd")
    // TVD equals the half-sum of the per-language biases
    assert(hashTvd === hash.map(_.getLong(6)).sum / 2)
    assert(mixTvd === mix.map(_.getLong(6)).sum / 2)
  }

  test("minhash signature table persists to and loads from a sigsPath index") {
    // spark.graft.minhash.sigsPath: production keeps the signature table
    // next to the corpus snapshot; a restarted session must READ it back
    // rather than re-derive the static index. Proven by deleting the
    // source corpus between runs: the second load can only succeed from
    // the persisted parquet.
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigs_persist")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    val sigsPath = new java.io.File(tmp.toFile, "sigs.parquet").getAbsolutePath
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    try {
      spark.createDataFrame(Seq((1L, t, "en", "web", t.length.toLong),
          (2L, t + " extra tail words here", "en", "web", t.length + 22L)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(docsDir)
      spark.conf.set("spark.graft.minhash.sigsPath", sigsPath)
      val first = Pipeline.minhashSigs(spark, tmp.toString).collect()
        .map(r => r.getLong(0)).sorted.toSeq
      assert(first === Seq(1L, 2L))
      assert(new java.io.File(sigsPath).exists(), "index must be written on first use")
      // corpus gone + memo dropped: only the persisted index can answer
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(docsDir))
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      val second = Pipeline.minhashSigs(spark, tmp.toString)
      assert(second.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
      assert(second.columns.take(2).toSeq === Seq("doc_id", "m0"))
    } finally {
      spark.conf.unset("spark.graft.minhash.sigsPath")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("sigsPath crash between rename and repoint heals by ADOPTION, not rebuild") {
    // round 12 (ADVICE TOCTOU): generations get unique per-attempt names
    // and publishing is rename-into-fresh + pointer repoint — no code
    // path deletes a dir another session may have committed. A crash
    // after the rename but before the repoint leaves a committed,
    // fingerprinted generation with no pointer; the next load must adopt
    // it instead of building a second equivalent generation.
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigs_adopt")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    val sigsPath = new java.io.File(tmp.toFile, "sigs.parquet").getAbsolutePath
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def gens(): Seq[java.io.File] = new java.io.File(sigsPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen=")).toSeq.sortBy(_.getName)
    def load(): Seq[Long] = {
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      Pipeline.minhashSigs(spark, tmp.toString).collect().map(_.getLong(0)).sorted.toSeq
    }
    try {
      spark.createDataFrame(Seq((1L, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(docsDir)
      spark.conf.set("spark.graft.minhash.sigsPath", sigsPath)
      assert(load() === Seq(1L))
      val gen1 = gens().head.getName
      // simulate the crash window: committed generation present, pointer
      // and top-level fingerprint never written
      assert(new java.io.File(sigsPath, "_GRAFT_CURRENT").delete())
      assert(new java.io.File(sigsPath, "_GRAFT_FINGERPRINT").delete())
      assert(load() === Seq(1L))
      assert(gens().map(_.getName) === Seq(gen1),
        "the committed generation must be adopted, not rebuilt beside")
      assert(new java.io.File(sigsPath, "_GRAFT_CURRENT").exists() &&
        new java.io.File(sigsPath, "_GRAFT_FINGERPRINT").exists(),
        "adoption must repoint and re-record the fingerprint")
    } finally {
      spark.conf.unset("spark.graft.minhash.sigsPath")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("sigsPath lost top-level fingerprint over an archived corpus adopts by provenance prefix") {
    // round-12 second review: the top-level fingerprint has a
    // delete-then-rename publish window; losing it while the corpus is
    // archived used to throw even though committed generations carry
    // this exact corpus dir in their own fingerprints.
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigs_lostfp")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    val sigsPath = new java.io.File(tmp.toFile, "sigs.parquet").getAbsolutePath
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def load(): Seq[Long] = {
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      Pipeline.minhashSigs(spark, tmp.toString).collect().map(_.getLong(0)).sorted.toSeq
    }
    try {
      spark.createDataFrame(Seq((1L, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(docsDir)
      spark.conf.set("spark.graft.minhash.sigsPath", sigsPath)
      assert(load() === Seq(1L))
      // the crash window: fingerprint and pointer both gone, corpus gone
      assert(new java.io.File(sigsPath, "_GRAFT_FINGERPRINT").delete())
      assert(new java.io.File(sigsPath, "_GRAFT_CURRENT").delete())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(docsDir))
      assert(load() === Seq(1L),
        "committed generations naming this corpus in their provenance " +
          "must be adopted instead of throwing")
    } finally {
      spark.conf.unset("spark.graft.minhash.sigsPath")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  /** A two-document corpus under `tmp` and a sigsPath index beside it in
    * the layout written before the GenStore fold: the in-session
    * signature rows at the root of a `gen=<sha8(fp)>-<nonce>` dir with
    * its own `_SUCCESS` and `_GRAFT_FINGERPRINT` but no
    * `_GRAFT_COMMITTED`, named by `_GRAFT_CURRENT` and fingerprinted at
    * the top level. Returns the in-session frame and the gen dir name. */
  private def preGenStoreIndex(tmp: java.nio.file.Path, sigsPath: String)
      : (org.apache.spark.sql.DataFrame, String) = {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    spark.createDataFrame(Seq((1L, t, "en", "web", t.length.toLong),
        (2L, t + " extra tail words here", "en", "web", t.length + 22L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath)
    graft.util.CorpusMemo.invalidate(spark, tmp.toString)
    val inSession = Pipeline.minhashSigs(spark, tmp.toString)
    val fp = s"graft-minhash-v1|$tmp|n=2|max=2"
    val name = s"gen=${graft.util.GenStore.sha8(fp)}-1a2b3c"
    val root = new org.apache.hadoop.fs.Path(sigsPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    inSession.write.parquet(new org.apache.hadoop.fs.Path(root, name).toString)
    graft.util.MetaFiles.write(fs,
      new org.apache.hadoop.fs.Path(root, s"$name/_GRAFT_FINGERPRINT"), fp)
    graft.util.MetaFiles.write(fs, new org.apache.hadoop.fs.Path(root, "_GRAFT_CURRENT"), name)
    graft.util.MetaFiles.write(fs, new org.apache.hadoop.fs.Path(root, "_GRAFT_FINGERPRINT"), fp)
    (inSession, name)
  }

  test("sigsPath index in the pre-GenStore layout over a live corpus rebuilds once, row-identical") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigs_migrate")
    val sigsPath = new java.io.File(tmp.toFile, "sigs.parquet").getAbsolutePath
    def pointer() = java.nio.file.Files.readString(
      new java.io.File(sigsPath, "_GRAFT_CURRENT").toPath).trim
    def load() = {
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      Pipeline.minhashSigs(spark, tmp.toString)
    }
    try {
      val (inSession, legacy) = preGenStoreIndex(tmp, sigsPath)
      spark.conf.set("spark.graft.minhash.sigsPath", sigsPath)
      val served = load()
      val g = new java.io.File(sigsPath, pointer())
      assert(g.getName !== legacy, "the old layout must not be served")
      assert(new java.io.File(g, "_GRAFT_COMMITTED").exists() &&
        new java.io.File(g, "sigs/_SUCCESS").exists())
      assert(served.columns.length === 66)
      assert(served.columns.toSeq === inSession.columns.toSeq)
      assert(served.count() === 2L)
      assert(served.exceptAll(inSession).isEmpty && inSession.exceptAll(served).isEmpty,
        "the rebuilt index must hold the in-session rows")
      // the markerless old generation goes with GenStore's 60-minute
      // sweep, and the rebuild is not repeated
      val old = System.currentTimeMillis() - 90 * 60 * 1000L
      java.nio.file.Files.walk(new java.io.File(sigsPath, legacy).toPath)
        .forEach(f => f.toFile.setLastModified(old))
      assert(load().count() === 2L)
      assert(!new java.io.File(sigsPath, legacy).exists())
      assert(pointer() === g.getName)
    } finally {
      spark.conf.unset("spark.graft.minhash.sigsPath")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("sigsPath index in the pre-GenStore layout over an archived corpus raises, naming the path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigs_migrate_archived")
    val sigsPath = new java.io.File(tmp.toFile, "sigs.parquet").getAbsolutePath
    try {
      preGenStoreIndex(tmp, sigsPath)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(tmp.toFile, "documents.parquet"))
      spark.conf.set("spark.graft.minhash.sigsPath", sigsPath)
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      val e = intercept[IllegalStateException] {
        Pipeline.minhashSigs(spark, tmp.toString)
      }
      assert(e.getMessage.contains(sigsPath), e.getMessage)
    } finally {
      spark.conf.unset("spark.graft.minhash.sigsPath")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("sigsPath archived corpus with a lost pointer serves its NEWEST generation, not the last by name") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigs_newest")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    val sigsPath = new java.io.File(tmp.toFile, "sigs.parquet").getAbsolutePath
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def writeDoc(id: Long): Unit =
      spark.createDataFrame(Seq((id, t + s" tail$id words vary", "en", "web", 60L)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(docsDir)
    def loadIds(): Seq[Long] = {
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      Pipeline.minhashSigs(spark, tmp.toString).collect().map(_.getLong(0)).sorted.toSeq
    }
    def gens(): Seq[java.io.File] = new java.io.File(sigsPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen=")).toSeq
    try {
      spark.conf.set("spark.graft.minhash.sigsPath", sigsPath)
      writeDoc(1L)
      assert(loadIds() === Seq(1L))
      val older = gens().head
      writeDoc(5L)
      assert(loadIds() === Seq(1L, 5L))
      assert(gens().size === 2)
      // names lead with the fingerprint's hash, so name order is not
      // age order: give the older generation the name that sorts last,
      // and an mtime a minute older than the newer one's
      val renamed = new java.io.File(sigsPath, "gen=ffffffff-0")
      assert(older.renameTo(renamed))
      assert(renamed.setLastModified(System.currentTimeMillis() - 60000L))
      assert(new java.io.File(sigsPath, "_GRAFT_CURRENT").delete())
      assert(new java.io.File(sigsPath, "_GRAFT_FINGERPRINT").delete())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(docsDir))
      assert(loadIds() === Seq(1L, 5L), "the newer generation's rows must be served")
    } finally {
      spark.conf.unset("spark.graft.minhash.sigsPath")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("ngram census advisory: mass duplication flips advice to use_minhash") {
    // round 11 (VERDICT #4): past 100,000 ppm of capped pairable keys the
    // census row itself names the remediation — the df-capped blocking
    // path is recall-blind under mass duplication (the 100× clone probe:
    // 992,393 ppm, zero pairs), while banded MinHash recall is
    // duplication-independent. 150 identical docs > MaxShingleDf=100 cap
    // every shingle: the local replica of that blindness.
    val tmp = java.nio.file.Files.createTempDirectory("graft_census_advice")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    try {
      spark.createDataFrame((1L to 150L).map(i => (i, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(docsDir)
      val row = Pipeline.dedupNgramCensus(spark, tmp.toString).head()
      assert(row.getAs[Long]("n_capped") === row.getAs[Long]("n_multi"),
        "every pairable shingle must be capped in the clone corpus")
      assert(row.getAs[Double]("capped_ppm") === 1000000.0)
      assert(row.getAs[Long]("n_pairs") === 0L,
        "the blocking path must be pair-blind here — that IS the hazard")
      assert(row.getAs[String]("advice") === "use_minhash")
      // and the banded MinHash path the advice routes to DOES see the
      // duplication: 150 identical docs pair in every band
      assert(Pipeline.dedupMinhash(spark, tmp.toString).count() > 0L)
    } finally {
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    // the healthy fixture stays 'ok' at 0 ppm
    val fix = Pipeline.dedupNgramCensus(spark, sf).head()
    assert(fix.getAs[Double]("capped_ppm") === 0.0)
    assert(fix.getAs[String]("advice") === "ok")
  }

  test("ngram dfCap knob: spark.graft.ngram.dfCap raises the cap; default is pinned at 100") {
    // round 13 (VERDICT #5): the cap is the recall knob a 100 TB
    // deployment must tune with corpus duplication; it is now a conf,
    // read at first build per (session, corpus). The 150-clone corpus is
    // recall-blind at the default cap; raising the knob past the clone
    // count restores the pairs WITHOUT routing through MinHash.
    val tmp = java.nio.file.Files.createTempDirectory("graft_dfcap_knob")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    try {
      spark.createDataFrame((1L to 150L).map(i => (i, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(docsDir)
      assert(Pipeline.maxShingleDf(spark) === 100L, "default cap is pinned")
      val blind = Pipeline.dedupNgramCensus(spark, tmp.toString).head()
      assert(blind.getAs[Long]("n_pairs") === 0L)
      spark.conf.set("spark.graft.ngram.dfCap", "200")
      assert(Pipeline.maxShingleDf(spark) === 200L)
      // the memoized pair table was built at the old cap: the knob
      // documents that a mid-session change needs invalidation
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      val seen = Pipeline.dedupNgramCensus(spark, tmp.toString).head()
      assert(seen.getAs[Long]("n_capped") === 0L, "no shingle exceeds the raised cap")
      assert(seen.getAs[Long]("n_pairs") === 150L * 149L / 2L,
        "every clone pair is visible at the raised cap")
      assert(seen.getAs[String]("advice") === "ok")
    } finally {
      spark.conf.unset("spark.graft.ngram.dfCap")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("sigsPath index integrity: partial write, corpus growth, and dir reuse all rebuild") {
    // fs.exists alone is not validity (round 11, ADVICE): the index
    // carries a _GRAFT_COMMITTED commit marker and a corpus fingerprint
    // (dir + doc count + max doc_id); any mismatch rebuilds atomically.
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigs_integrity")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    val sigsPath = new java.io.File(tmp.toFile, "sigs.parquet").getAbsolutePath
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def writeDoc(id: Long): Unit =
      spark.createDataFrame(Seq((id, t + s" tail$id words vary", "en", "web", 60L)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(docsDir)
    def loadIds(dir: String): Seq[Long] = {
      graft.util.CorpusMemo.invalidate(spark, dir)
      Pipeline.minhashSigs(spark, dir).collect().map(_.getLong(0)).sorted.toSeq
    }
    def gens(): Seq[java.io.File] = new java.io.File(sigsPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen=")).toSeq.sortBy(_.getName)
    def committedGens(): Seq[java.io.File] =
      gens().filter(g => new java.io.File(g, "_GRAFT_COMMITTED").exists())
    // GenStore retention (GenStoreSpec pins it): the newest committed
    // generation of every fingerprint served stays, so committed
    // generations = distinct corpus states served so far
    def retained(): Int = {
      val fps = committedGens().map(g => java.nio.file.Files.readString(
        new java.io.File(g, "_GRAFT_FINGERPRINT").toPath).trim)
      assert(fps.distinct.size === fps.size, s"one generation per fingerprint: $fps")
      fps.size
    }
    try {
      spark.conf.set("spark.graft.minhash.sigsPath", sigsPath)
      writeDoc(1L)
      assert(loadIds(tmp.toString) === Seq(1L))
      val fprint = new java.io.File(sigsPath, "_GRAFT_FINGERPRINT")
      assert(gens().size === 1 && fprint.exists(),
        "committed index must carry a generation dir and the corpus fingerprint")
      val marker = new java.io.File(gens().head, "_GRAFT_COMMITTED")
      assert(marker.exists(), "the generation must carry its commit marker")

      // PARTIAL WRITE: strip the commit marker — a crashed build's gen
      // dir exists but must not be served; the next load rebuilds into a
      // FRESH generation (unique per-attempt names, no delete-then-rename
      // over a shared path); the uncommitted debris is left to GenStore's
      // 60-minute sweep
      val torn = gens().head.getName
      assert(marker.delete())
      assert(loadIds(tmp.toString) === Seq(1L))
      val rebuilt = committedGens()
      assert(rebuilt.size === 1 && rebuilt.head.getName != torn,
        "rebuild must land one fresh committed generation beside the debris")
      assert(new java.io.File(rebuilt.head, "sigs/_SUCCESS").exists(),
        "the rebuilt generation must carry its commit markers")

      // CORPUS GROWTH: a new doc lands in the corpus; the stale index
      // (built at n=1) must be detected by the fingerprint and a NEW
      // generation built with the new signature — the superseded
      // generation is retained for still-live readers
      writeDoc(5L)
      assert(loadIds(tmp.toString) === Seq(1L, 5L),
        "a grown corpus must invalidate the persisted index")
      assert(retained() === 2,
        "the superseded generation must be retained for live readers")

      // LIVE READER SURVIVES A SWITCH: corpus A's memoized frame keeps
      // serving after a different corpus repoints the shared sigsPath
      // (the rebuild writes a new generation instead of deleting files
      // under A's feet)
      val aFrame = Pipeline.minhashSigs(spark, tmp.toString)
      // DIR REUSE: a DIFFERENT corpus dir pointed at the same sigsPath
      // must not be served the other corpus's signatures
      val tmp2 = java.nio.file.Files.createTempDirectory("graft_sigs_other")
      val docs2 = new java.io.File(tmp2.toFile, "documents.parquet").getAbsolutePath
      try {
        spark.createDataFrame(Seq((9L, t, "en", "web", 50L)))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.parquet(docs2)
        assert(loadIds(tmp2.toString) === Seq(9L),
          "a reused sigsPath must rebuild for the new corpus dir")
        assert(aFrame.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 5L),
          "corpus A's live reader must survive corpus B's generation switch")
        // corpus B's switch retains BOTH of A's generations — a
        // cross-corpus GC could delete a generation another consumer's
        // memo still reads
        assert(retained() === 3,
          "cross-corpus generations must be retained (A×2 + B×1)")
        // a further SAME-corpus growth keeps every fingerprint's newest
        // generation, the one aFrame holds among them
        writeDoc(7L)
        assert(loadIds(tmp.toString) === Seq(1L, 5L, 7L))
        assert(retained() === 4,
          "newest-per-fingerprint retention keeps A×3 + B×1")
        assert(aFrame.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 5L),
          "retention must still cover aFrame's generation")
      } finally {
        graft.util.CorpusMemo.invalidate(spark, tmp2.toString)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp2.toFile)
      }
    } finally {
      spark.conf.unset("spark.graft.minhash.sigsPath")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }
}
