package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational
import graft.streaming.{AdmitIndex, LshStreams, Streams}

/** Streaming ≡ batch equivalence on the fixture (single micro-batch). */
class StreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  test("stream_window counts equal batch tumbling-window counts") {
    val stream = Streams.streamWindow(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val batch = Relational.tumblingWindow(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(stream === batch)
  }

  test("streaming dedup equals batch distinct") {
    val stream = Streams.streamDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Tables.events(spark, sf)
      .select(col("user_id"),
        date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm").as("m"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(stream === batch)
  }

  test("stream-static join equals the batch join aggregate") {
    val stream = Streams.streamStaticJoin(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val profile = Tables.orders(spark, sf)
      .groupBy(col("o_custkey").as("user_id")).agg(count(lit(1)).as("n_orders"))
    val batch = Tables.events(spark, sf).join(profile, Seq("user_id"), "left")
      .select(col("event_type"),
        when(coalesce(col("n_orders"), lit(0L)) >= 12, "heavy")
          .otherwise("light").as("tier"))
      .groupBy("event_type", "tier").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(stream === batch)
  }

  test("declared watermarked window equals the closed-window batch oracle") {
    val stream = Streams.streamWindowWatermarked(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // batch replica of the emission rule: window end ≤ max(ts) − 1 h
    val ev = Tables.events(spark, sf)
    val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("h") + expr("INTERVAL 1 HOUR") <= lit(mx) - expr("INTERVAL 1 HOUR"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
              col("event_type"), col("n"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("watermark closes windows across micro-batches (append mode)") {
    import spark.implicits._
    import java.nio.file.Files
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("graft_wm")
    val src = dir.resolve("in"); Files.createDirectory(src)
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

    // batch 1: events in the 10:00 and 11:00 windows; max ts 11:45
    Seq((ts(10, 0), "a"), (ts(10, 10), "a"), (ts(11, 45), "a"))
      .toDF("ts", "k").coalesce(1).write.mode("append").parquet(src.toString)
    val stream = spark.readStream
      .schema("ts timestamp, k string").parquet(src.toString)
      .withWatermark("ts", "30 minutes")
      .groupBy(window($"ts", "1 hour"), $"k")
      .agg(count(lit(1)).as("n"))
      .select(date_format($"window.start", "HH:mm").as("w"), $"n")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("graft_wm_test").start()
    try {
      q.processAllAvailable()
      // after batch 1 (+ the finalizing no-data batch) the watermark is
      // 11:45 - 30min = 11:15 → the 10:00–11:00 window is closed+emitted,
      // the 11:00–12:00 window is still open
      val b1 = spark.table("graft_wm_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(b1 === Map("10:00" -> 2L))
      // batch 2 advances the watermark to 12:30 → closes 11:00–12:00;
      // the 13:00 window stays open
      Seq((ts(13, 0), "a")).toDF("ts", "k")
        .coalesce(1).write.mode("append").parquet(src.toString)
      q.processAllAvailable()
      val b2 = spark.table("graft_wm_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(b2 === Map("10:00" -> 2L, "11:00" -> 1L))
    } finally q.stop()
  }

  test("stream outer join = inner matches plus expired unmatched views only") {
    val outer = Streams.streamOuterJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inner = Streams.streamStreamJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(outer.filter(_._3 != -1L) === inner, "matched rows identical to inner join")
    val matchedViews = inner.map(_._2)
    outer.filter(_._3 == -1L).foreach { case (_, vid, _) =>
      assert(!matchedViews.contains(vid), s"view $vid emitted null despite a match")
    }
    // the expired unmatched views, as the oracle defines them: the final
    // watermark is the least of the two sides' max ts (ms precision) − 1 h,
    // and a view expires once view_ts + 30 min falls below it. Only the
    // finalizing no-data batch emits the ones the last data batch left.
    val ev = Tables.events(spark, sf)
    def side(t: String) = max(when(col("event_type") === t, col("ts")))
    val wm = ev.agg(least(side("view"), side("purchase")).as("m"))
      .select(date_trunc("millisecond", col("m")) - expr("INTERVAL 1 HOUR"))
      .head().getTimestamp(0)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val expired = views
      .filter(col("view_ts") + expr("INTERVAL 30 MINUTES") < lit(wm))
      .join(purchases, col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(2), -1L)).toSet
    assert(expired.nonEmpty, "fixture has no expired unmatched view")
    assert(outer.filter(_._3 == -1L) === expired,
      "unmatched rows must be exactly the views expired at the final watermark")
  }

  test("transformWithState current profile equals batch last-event argmax") {
    val stream = Streams.streamCurrentState(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val batch = Tables.events(spark, sf)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
           max(when(col("rn") === 1, col("event_type"))).as("lt"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(stream === batch)
  }

  test("stream_sessions equals batch sessionization") {
    val stream = Streams.streamSessions(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val batch = Relational.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(stream === batch)
  }

  test("stream gap-fill equals the batch LOCF window per event") {
    val stream = Streams.streamGapFill(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getLong(3))))
    val batch = graft.operators.Temporal.gapFill(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getLong(3))))
    assert(stream.toSeq === batch.toSeq)
    assert(stream.nonEmpty)
    // sentinel invariant: a user with no purchases can never carry a fill
    val purchasers = stream.collect { case (_, (u, "purchase", _)) => u }.toSet
    stream.foreach { case (eid, (u, _, cents)) =>
      if (!purchasers.contains(u))
        assert(cents === -1L, s"event $eid of purchase-free user $u carries $cents")
    }
  }

  test("stream CDC census equals batch census and is batch-order-insensitive") {
    def censusOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val stream = censusOf(Streams.streamCdcDedup(spark, sf))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    val batch = censusOf(graft.operators.Pipeline.cdcChunks(spark, sf)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_occ", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("chunk_hash")))
      .filter(col("rn") === 1)
      .select(col("chunk_hash"), col("doc_id").as("owner_doc"),
        col("chunk_idx").as("owner_idx"), col("chunk_len"), col("n_occ"),
        ((col("n_occ") - 1) * col("chunk_len")).as("dup_bytes")))
    assert(stream === batch)

    // multi-file layout → maxFilesPerTrigger=1 forces ≥2 micro-batches;
    // the min-owner/count census must commute across the batch split
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_stream")
    try {
      Tables.documents(spark, sf).repartition(3)
        .write.parquet(new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath)
      assert(censusOf(Streams.streamCdcDedup(spark, tmp.toString)) === batch)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("stream PPS sample equals the batch sample and is batch-order-insensitive") {
    def keptOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.Pipeline.ppsSample(spark, sf)
      .select("lang", "doc_id", "rk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(keptOf(Streams.streamPpsSample(spark, sf)) === batch)

    // the weighted min-K must also commute across a forced batch split
    val tmp = java.nio.file.Files.createTempDirectory("graft_pps_stream")
    try {
      Tables.documents(spark, sf).repartition(3)
        .write.parquet(new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath)
      assert(keptOf(Streams.streamPpsSample(spark, tmp.toString)) === batch)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("stream domain cap equals the batch quota and is batch-order-insensitive") {
    def keptOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = keptOf(graft.operators.Pipeline.domainCap(spark, sf))
    assert(keptOf(Streams.streamDomainCap(spark, sf)) === batch)

    // multi-file layout → maxFilesPerTrigger=1 forces ≥2 micro-batches;
    // the min-K-by-hash quota must commute across the batch split
    val tmp = java.nio.file.Files.createTempDirectory("graft_cap_stream")
    try {
      Tables.documents(spark, sf).repartition(3)
        .write.parquet(new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath)
      assert(keptOf(Streams.streamDomainCap(spark, tmp.toString)) === batch)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("stream LSH ingest equals the batch band-collision census") {
    import org.apache.spark.sql.functions._
    // batch twin computed directly from the shared band table: probe
    // slice bands joined to index bands, collision rows + earliest match
    val bands = graft.operators.Pipeline.minhashBands(spark, sf)
    val idx = bands.filter(pmod(col("doc_id"), lit(4L)) =!= 3L)
      .select(col("b"), col("key"), col("doc_id").as("index_doc"))
    val probe = bands.filter(pmod(col("doc_id"), lit(4L)) === 3L)
      .select(col("doc_id"), col("b"), col("key"))
    val batch = probe.join(idx, Seq("b", "key"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min(col("index_doc")).as("fm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = LshStreams.streamLshIngest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
    assert(got.nonEmpty) // the fixture has near-dup collisions to probe
  }

  test("stream LSH admit: same-stream near-dups detect each other (probe-then-insert)") {
    import org.apache.spark.sql.functions._
    // synthetic corpus: A(3) and B(7) are identical stream-slice docs
    // (doc_id ≡ 3 mod 4) — B must collide with same-batch-ADMITTED A,
    // the case the probe-only ingest can never see. C(11) is unique
    // (admitted). E(15) duplicates INDEX doc D(4) — the static-index
    // path. D itself is index-slice, so it never appears in the output.
    val dupText = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
    val uniqueText = "one lonely document about completely different things " +
      "nothing shared with any other text in this corpus at all today"
    val indexText = "the index side owns this exact passage of twenty words " +
      "which the late stream document fifteen repeats verbatim for the probe"
    def row(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    val docs = Seq(row(3, dupText), row(7, dupText), row(11, uniqueText),
      row(15, indexText), row(4, indexText))
    def writeCorpus(parts: Int): java.nio.file.Path = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_admit_stream")
      spark.createDataFrame(docs)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(parts)
        .write.parquet(new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath)
      tmp
    }
    val tmp = writeCorpus(1)
    try {
      val got = LshStreams.streamLshAdmit(spark, tmp.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSeq
      // (doc, n_index_hits, n_stream_hits, first_match, admitted)
      assert(got === Seq(
        (3L, 0L, 0L, -1L, true),    // A: clean at admission time
        (7L, 0L, 16L, 3L, false),   // B: all 16 bands hit carrier A
        (11L, 0L, 0L, -1L, true),   // unique → admitted
        (15L, 16L, 0L, 4L, false))) // dup of index doc D
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)

    // fixture corpus: single-drain result equals the batch oracle (the
    // CORRECTNESS gate re-checks this against DuckDB); here assert the
    // stream-vs-stream census against a batch twin built from the band
    // table directly
    val bands = graft.operators.Pipeline.minhashBands(spark, sf)
    val probe = bands.filter(pmod(col("doc_id"), lit(4L)) === 3L)
      .select(col("doc_id"), col("b"), col("key"))
    val sh = probe.join(
        probe.select(col("doc_id").as("od"), col("b").as("ob"),
          col("key").as("ok")),
        col("ob") === col("b") && col("ok") === col("key") &&
          col("od") < col("doc_id"))
      .groupBy(col("doc_id"), col("b")).agg(min(col("od")).as("carrier"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), min(col("carrier")).as("fm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gotFix = LshStreams.streamLshAdmit(spark, sf)
      .filter(col("n_stream_hits") > 0)
      .select(col("doc_id"), col("n_stream_hits"),
        // isolate the stream-side match for comparison where no index hit
        when(col("n_index_hits") === 0, col("first_match")).as("fm"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(gotFix.map(_._1) === sh.map(_._1))
    val shOnly = sh.filter { case (d, _, _) =>
      gotFix.exists(g => g._1 == d && g._3 != -1L) }
    assert(shOnly.forall { case (d, n, fm) => gotFix.contains((d, n, fm)) })

    // multi-file layout → maxFilesPerTrigger=1 forces multiple batches:
    // the carrier state must persist ACROSS batches, so the A/B pair
    // still detects each other whichever file order the source lists —
    // exactly one of them carries, the other is flagged against it.
    // Goes through the resume-path variant: the DECLARED entry now
    // asserts the single-batch drain its id-order oracle assumes, so a
    // multi-file fixture through it fails loudly by design (r10).
    val tmp3 = writeCorpus(3)
    val sink3 = new java.io.File(tmp3.toFile, "sink").getAbsolutePath
    val ckpt3 = new java.io.File(tmp3.toFile, "ckpt").getAbsolutePath
    try {
      val byId = LshStreams.streamLshAdmitAt(spark, tmp3.toString, sink3, ckpt3)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toMap
      val (aHits, bHits) = (byId(3L), byId(7L))
      assert(Seq(aHits, bHits).count(_._3) == 1,       // one admitted
        s"exactly one of the twins must be admitted: $aHits $bHits")
      val flagged = if (aHits._3) bHits else aHits
      val carrier = if (aHits._3) 3L else 7L
      assert(flagged._1 == 16L && flagged._2 == carrier)
      assert(byId(11L)._3 && !byId(15L)._3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp3.toFile)
  }

  test("stream LSH admit resumes its carrier index across separate runs (checkpoint restart)") {
    import org.apache.spark.sql.functions._
    // the production restart path: run 1 drains file 1 and admits doc A;
    // the process "restarts" (a fresh streaming query against the SAME
    // checkpoint + sink); run 2 drains only the newly-arrived file 2 and
    // doc B — identical text — must collide with the carrier A persisted
    // in the RocksDB state store by run 1
    val tmp = java.nio.file.Files.createTempDirectory("graft_admit_resume")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet")
    val sink = new java.io.File(tmp.toFile, "sink").getAbsolutePath
    val ckpt = new java.io.File(tmp.toFile, "ckpt").getAbsolutePath
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    def write(id: Long): Unit =
      spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(docsDir.getAbsolutePath)
    try {
      write(3L)
      val run1 = LshStreams.streamLshAdmitAt(spark, tmp.toString, sink, ckpt)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
      assert(run1(3L) === ((0L, -1L, true))) // A admitted clean in run 1
      // new file arrives; drop the per-corpus memo entries (the corpus
      // changed) — exercises the CorpusMemo invalidation hook
      write(7L)
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      val run2 = LshStreams.streamLshAdmitAt(spark, tmp.toString, sink, ckpt)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
      assert(run2(3L) === ((0L, -1L, true)))  // run-1 rows still in the sink
      assert(run2(7L) === ((16L, 3L, false)), // B hits the RESUMED carrier A
        s"run-2 doc must collide with the run-1 carrier: ${run2(7L)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("stream LSH admit: a mismatched-settings resume fails loudly (checkpoint contract)") {
    // the lane count and TTL shape the persisted RocksDB layout; they are
    // persisted beside the checkpoint on first start and a resume with
    // different settings must fail naming both values, not run
    // mis-partitioned (VERDICT r12 #3)
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val tmp = java.nio.file.Files.createTempDirectory("graft_admit_contract")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet")
    val sink = new java.io.File(tmp.toFile, "sink").getAbsolutePath
    val ckpt = new java.io.File(tmp.toFile, "ckpt").getAbsolutePath
    val ttlKey = "spark.graft.stream.admitTtlMs"
    try {
      spark.createDataFrame(Seq((3L, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(docsDir.getAbsolutePath)
      // first start registers the contract beside the checkpoint
      assert(LshStreams.streamLshAdmitAt(spark, tmp.toString, sink, ckpt).collect().nonEmpty)
      val f = new java.io.File(ckpt, "_graft_contract")
      assert(f.isFile, "contract file must be persisted inside the checkpoint dir")
      val registered = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      assert(registered === "lanes=8;admitTtlMs=0")
      // resume with a different TTL: loud error naming BOTH values
      spark.conf.set(ttlKey, "60000")
      val e = intercept[IllegalStateException] {
        LshStreams.streamLshAdmitAt(spark, tmp.toString, sink, ckpt)
      }
      assert(e.getMessage.contains("admitTtlMs=0") && e.getMessage.contains("admitTtlMs=60000"),
        s"mismatch error must name both contracts: ${e.getMessage}")
      // matching resume is unaffected
      spark.conf.unset(ttlKey)
      assert(LshStreams.streamLshAdmitAt(spark, tmp.toString, sink, ckpt).collect().nonEmpty)
      // direct helper check for the lane half of the contract
      val e2 = intercept[IllegalStateException] {
        LshStreams.enforceCheckpointContract(spark, ckpt, lanes = 4, ttlMs = None)
      }
      assert(e2.getMessage.contains("lanes=8") && e2.getMessage.contains("lanes=4"))
      // lane-count KNOB (round 14, VERDICT #7): the deployment-sizing
      // knob participates in the same contract — changing it against an
      // existing checkpoint fails loudly…
      val lanesKey = "spark.graft.stream.lanes"
      spark.conf.set(lanesKey, "4")
      try {
        val e3 = intercept[IllegalStateException] {
          LshStreams.streamLshAdmitAt(spark, tmp.toString, sink, ckpt)
        }
        assert(e3.getMessage.contains("lanes=8") && e3.getMessage.contains("lanes=4"),
          s"knob mismatch must name both lane counts: ${e3.getMessage}")
        // …and a FRESH checkpoint registers the knob's value
        val sink2 = new java.io.File(tmp.toFile, "sink2").getAbsolutePath
        val ckpt2 = new java.io.File(tmp.toFile, "ckpt2").getAbsolutePath
        assert(LshStreams.streamLshAdmitAt(spark, tmp.toString, sink2, ckpt2)
          .collect().nonEmpty)
        val reg2 = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(ckpt2, "_graft_contract").toPath), "UTF-8").trim
        assert(reg2 === "lanes=4;admitTtlMs=0")
      } finally spark.conf.unset(lanesKey)
    } finally {
      spark.conf.unset(ttlKey)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("stream LSH admit: the DECLARED entry fails loudly on a multi-batch drain") {
    // the id-order oracle is only guaranteed single-drain; a directory of
    // part files under maxFilesPerTrigger=1 splits into multiple batches,
    // so the oracle-gated entry must refuse rather than return
    // plausible-but-divergent rows (ADVICE r9)
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val tmp = java.nio.file.Files.createTempDirectory("graft_admit_split")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    try {
      Seq(3L, 7L).foreach { id =>
        spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("append").parquet(docsDir)
      }
      val e = intercept[Exception] {
        LshStreams.streamLshAdmit(spark, tmp.toString).collect()
      }
      def msgs(x: Throwable): Seq[String] =
        Option(x).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
      assert(msgs(e).exists(_.contains("single-batch drain invariant")),
        s"expected the single-batch invariant failure, got: $e")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("stream LSH admit TTL: an evicted carrier re-admits; a live one still collides") {
    // state-lifecycle knob (spark.graft.stream.admitTtlMs): an always-on
    // ingest index must be able to bound its band-key state. With a TTL,
    // a carrier unseen for the window evicts — its twin arriving later
    // ADMITS as the new carrier (the freshness-window trade) — while a
    // carrier inside the window still collides. Off by default, so the
    // declared query's hash is untouched.
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    def corpus(): (java.nio.file.Path, String, String, Long => Unit) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_admit_ttl")
      val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
      val sink = new java.io.File(tmp.toFile, "sink").getAbsolutePath
      val ckpt = new java.io.File(tmp.toFile, "ckpt").getAbsolutePath
      (tmp, sink, ckpt, (id: Long) =>
        spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("append").parquet(docsDir))
    }
    def admitted(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap.apply(id)
    def withTtl[T](ms: Long)(body: => T): T = {
      spark.conf.set("spark.graft.stream.admitTtlMs", ms.toString)
      try body finally spark.conf.unset("spark.graft.stream.admitTtlMs")
    }
    // EVICTION: run 1 admits A; past the TTL, A's twin B re-admits
    val (tmp1, sink1, ckpt1, write1) = corpus()
    try withTtl(500L) {
      write1(3L)
      assert(admitted(LshStreams.streamLshAdmitAt(spark, tmp1.toString, sink1, ckpt1), 3L))
      Thread.sleep(2000L) // comfortably past the 500 ms TTL
      write1(7L)
      graft.util.CorpusMemo.invalidate(spark, tmp1.toString)
      assert(admitted(LshStreams.streamLshAdmitAt(spark, tmp1.toString, sink1, ckpt1), 7L),
        "carrier state past its TTL must evict: the twin re-admits")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp1.toFile)
    // RETENTION: same restart shape inside a generous TTL → still collides
    val (tmp2, sink2, ckpt2, write2) = corpus()
    try withTtl(3600000L) {
      write2(3L)
      assert(admitted(LshStreams.streamLshAdmitAt(spark, tmp2.toString, sink2, ckpt2), 3L))
      write2(7L)
      graft.util.CorpusMemo.invalidate(spark, tmp2.toString)
      assert(!admitted(LshStreams.streamLshAdmitAt(spark, tmp2.toString, sink2, ckpt2), 7L),
        "a carrier inside the TTL window must still collide with its twin")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp2.toFile)
  }

  test("admit TTL backfill contract: disable for replay; processing-time TTL evicts by wall clock") {
    // The TTL runs on PROCESSING time — wall clock, not data age — so
    // replaying history through an always-on admit stream must run with
    // the TTL DISABLED (the documented backfill mode). Both arms of the
    // contract (round 11, VERDICT #2):
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    def corpus(): (java.nio.file.Path, String, String, Long => Unit) = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_admit_backfill")
      val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
      val sink = new java.io.File(tmp.toFile, "sink").getAbsolutePath
      val ckpt = new java.io.File(tmp.toFile, "ckpt").getAbsolutePath
      (tmp, sink, ckpt, (id: Long) =>
        spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("append").parquet(docsDir))
    }
    def admitted(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap.apply(id)
    // ARM 1 — the documented backfill mode: TTL unset, two historical
    // slices replayed with a wall-clock gap LONGER than the steady-state
    // TTL of arm 2; the historical twin still collides (carriers persist
    // across any wall-clock gap when the TTL is off)
    val (tmp1, sink1, ckpt1, write1) = corpus()
    try {
      write1(3L)
      assert(admitted(LshStreams.streamLshAdmitAt(spark, tmp1.toString, sink1, ckpt1), 3L))
      Thread.sleep(1500L) // replay pause ≫ arm 2's 500 ms TTL
      write1(7L)
      graft.util.CorpusMemo.invalidate(spark, tmp1.toString)
      assert(!admitted(LshStreams.streamLshAdmitAt(spark, tmp1.toString, sink1, ckpt1), 7L),
        "backfill mode (TTL off) must retain carriers across wall-clock gaps")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp1.toFile)
    // ARM 2 — the documented hazard: the same replay shape under a TTL
    // shorter than the replay's wall time silently re-admits the
    // historical duplicate (wall-clock eviction, not data age)
    val (tmp2, sink2, ckpt2, write2) = corpus()
    spark.conf.set("spark.graft.stream.admitTtlMs", "500")
    try {
      write2(3L)
      assert(admitted(LshStreams.streamLshAdmitAt(spark, tmp2.toString, sink2, ckpt2), 3L))
      Thread.sleep(1500L)
      write2(7L)
      graft.util.CorpusMemo.invalidate(spark, tmp2.toString)
      assert(admitted(LshStreams.streamLshAdmitAt(spark, tmp2.toString, sink2, ckpt2), 7L),
        "a TTL shorter than the replay's wall time re-admits the twin — " +
          "the documented reason backfill must disable the TTL")
    } finally {
      spark.conf.unset("spark.graft.stream.admitTtlMs")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp2.toFile)
    }
  }

  test("stream LSH admit durable index: wiped checkpoint still collides via parquet") {
    // round 11 (VERDICT top item): with spark.graft.stream.admitIndexPath
    // set, each drain MERGES its increment's band rows into a parquet
    // index and probes the pre-drain snapshot — admissions survive TOTAL
    // loss of the streaming state (checkpoint wipe / index migration),
    // which the RocksDB carrier state alone cannot.
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val root = java.nio.file.Files.createTempDirectory("graft_admit_durable")
    val indexPath = new java.io.File(root.toFile, "admit_index.parquet").getAbsolutePath
    def slice(name: String, id: Long): String = {
      val dir = new java.io.File(root.toFile, name)
      spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write
        .parquet(new java.io.File(dir, "documents.parquet").getAbsolutePath)
      dir.getAbsolutePath
    }
    def run(dir: String, tag: String): Map[Long, (Long, Long, Long, Boolean)] = {
      val sink = new java.io.File(root.toFile, s"sink_$tag").getAbsolutePath
      val ckpt = new java.io.File(root.toFile, s"ckpt_$tag").getAbsolutePath
      LshStreams.streamLshAdmitAt(spark, dir, sink, ckpt)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    }
    spark.conf.set("spark.graft.stream.admitIndexPath", indexPath)
    val (s1, s2) = (slice("slice1", 3L), slice("slice2", 7L))
    try {
      // run 1: slice 1 admits doc 3; its 16 band rows land in the index
      assert(run(s1, "1")(3L) === ((0L, 0L, -1L, true)))
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 16L,
        "all 16 band rows of the admitted doc must be merged")
      // CRASH-SAFE MERGE ACCOUNTING: losing the _merged markers (≙ a
      // crash between the index append and the marker writes) re-merges
      // those sink files on the next drain; the (doc_id, b, key)
      // anti-join keeps the retry idempotent
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(indexPath, "_merged"))
      assert(run(s1, "1")(3L) === ((0L, 0L, -1L, true)))
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 16L,
        "re-merging unmarked sink files must not duplicate index rows")
      // TOTAL STATE LOSS: run 2 uses a fresh checkpoint + sink (≙ wiped)
      // on a separate slice — doc 7 (identical text) must collide with
      // run-1's admission THROUGH THE PARQUET INDEX alone
      val run2 = run(s2, "2")
      assert(run2(7L) === ((16L, 0L, 3L, false)),
        s"doc 7 must flag against run-1 admission 3 via the index: ${run2(7L)}")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L,
        "run 2's increment must also merge into the index")
      // IDEMPOTENT REPLAY: re-draining the same checkpoint (no new files)
      // re-censuses the sink against an index that now holds doc 7's own
      // bands — self-hits are nulled, and the anti-join appends nothing
      val run3 = run(s2, "2")
      assert(run3(7L) === ((16L, 0L, 3L, false)),
        s"replay must not self-collide or change the census: ${run3(7L)}")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L,
        "replay must not duplicate index rows")
      // COMPACTION: two drains appended two file sets; the compactor
      // rewrites them into a right-sized set, rows preserved, and the
      // compacted index still serves the census (doc 7 still flagged)
      def partFiles(): Int = {
        val cur = java.nio.file.Files.readString(
          new java.io.File(indexPath, "_GRAFT_CURRENT").toPath).trim
        new java.io.File(indexPath, cur).listFiles()
          .count(f => f.isFile && f.getName.endsWith(".parquet"))
      }
      assert(partFiles() >= 2, "two drains must have appended two file sets")
      AdmitIndex.compactAdmitIndex(spark, indexPath)
      assert(partFiles() === 1, "fixture-sized index compacts to one file")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L)
      val run4 = run(s2, "2")
      assert(run4(7L) === ((16L, 0L, 3L, false)),
        s"the compacted index must still serve the census: ${run4(7L)}")
      // AGE PRUNE (the freshness-window policy for TTL deployments: the
      // index is append-only history the TTL never prunes): everything
      // here merged more than 50 ms ago → a 1 ms window empties it; a
      // generous window keeps it
      AdmitIndex.compactAdmitIndex(spark, indexPath, maxAgeMs = Some(3600000L))
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L,
        "rows inside the freshness window must survive an age-pruned compaction")
      Thread.sleep(50L)
      AdmitIndex.compactAdmitIndex(spark, indexPath, maxAgeMs = Some(1L))
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 0L,
        "rows past the freshness window must be pruned")
      // NO RESURRECTION: a replay drain after the prune produces no new
      // sink files, so the merge (which sources the drain INCREMENT, not
      // the accumulated sink) must not re-append the pruned history
      val run5 = run(s2, "2")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 0L,
        "a pruned index must not be repopulated from old drains' sink rows")
      assert(run5(7L)._4 === true,
        "with the index history pruned, the census no longer index-flags the doc")
    } finally {
      spark.conf.unset("spark.graft.stream.admitIndexPath")
      Seq(s1, s2).foreach(graft.util.CorpusMemo.invalidate(spark, _))
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("stream LSH admit durable index: compaction interleaved in a merge loses nothing") {
    // round 12 (VERDICT top item): a compactor whose read snapshot
    // predates a drain's index append used to orphan that increment —
    // the repoint hid the freshly-appended rows, the _merged markers
    // blocked a re-merge, and the next compaction GC'd them: silent
    // admission loss. The merge now re-reads the pointer after its
    // append and re-merges what the new generation is missing BEFORE
    // writing markers. This test injects the exact lossy interleaving
    // via the merge's post-append hook: a "compactor" that rewrites only
    // the PRE-drain rows and repoints, between the drain's append and
    // its marker write.
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val root = java.nio.file.Files.createTempDirectory("graft_admit_fence")
    val indexPath = new java.io.File(root.toFile, "admit_index.parquet").getAbsolutePath
    def slice(name: String, id: Long): String = {
      val dir = new java.io.File(root.toFile, name)
      spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write
        .parquet(new java.io.File(dir, "documents.parquet").getAbsolutePath)
      dir.getAbsolutePath
    }
    def run(dir: String, tag: String): Map[Long, (Long, Long, Long, Boolean)] = {
      val sink = new java.io.File(root.toFile, s"sink_$tag").getAbsolutePath
      val ckpt = new java.io.File(root.toFile, s"ckpt_$tag").getAbsolutePath
      LshStreams.streamLshAdmitAt(spark, dir, sink, ckpt)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    }
    def currentGen(): java.io.File = {
      val cur = java.nio.file.Files.readString(
        new java.io.File(indexPath, "_GRAFT_CURRENT").toPath).trim
      new java.io.File(indexPath, cur)
    }
    spark.conf.set("spark.graft.stream.admitIndexPath", indexPath)
    val (s1, s2) = (slice("slice1", 3L), slice("slice2", 7L))
    try {
      assert(run(s1, "1")(3L) === ((0L, 0L, -1L, true)))
      // the racing compactor's snapshot: the index BEFORE drain 2
      val preFiles = currentGen().listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSeq
      val nextGenName = {
        val mx = new java.io.File(indexPath).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
          .map(_.getName.stripPrefix("gen-").toLong).max
        f"gen-${mx + 1L}%013d"
      }
      AdmitIndex.admitMergePostAppendHook = () => {
        // replay the lossy interleaving: rewrite ONLY the pre-drain rows
        // into a new generation and repoint — the drain's just-appended
        // increment is now invisible through the pointer
        spark.read.parquet(preFiles: _*).coalesce(1)
          .write.parquet(new java.io.File(indexPath, nextGenName).getAbsolutePath)
        java.nio.file.Files.writeString(
          new java.io.File(indexPath, "_GRAFT_CURRENT").toPath, nextGenName)
      }
      val r2 = try run(s2, "2")
               finally AdmitIndex.admitMergePostAppendHook = () => ()
      assert(r2(7L) === ((16L, 0L, 3L, false)),
        s"the interleaved census must still flag doc 7 against 3: ${r2(7L)}")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L,
        "the fencing loop must re-merge the orphaned increment into the " +
          "repointed generation before writing markers")
      assert(currentGen().getName === nextGenName,
        "the merge must follow the compactor's repoint, not clobber it")
      // the markers were written AFTER settling: a replay drain (no new
      // sink files) must neither re-append nor change the census
      val r3 = run(s2, "2")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L,
        "replay after the interleaved merge must not duplicate rows")
      assert(r3(7L) === ((16L, 0L, 3L, false)), s"census drifted: ${r3(7L)}")
      // MONOTONIC STAMPS (ADVICE round 11): drain 2's merge stamp is
      // strictly greater than drain 1's even inside one millisecond
      val stamps = AdmitIndex.admitIndexRows(spark, indexPath)
        .groupBy("doc_id").agg(org.apache.spark.sql.functions.min("merged_at_ms"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stamps(7L) > stamps(3L),
        s"merge stamps must be strictly monotonic across drains: $stamps")
    } finally {
      AdmitIndex.admitMergePostAppendHook = () => ()
      spark.conf.unset("spark.graft.stream.admitIndexPath")
      Seq(s1, s2).foreach(graft.util.CorpusMemo.invalidate(spark, _))
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("stream LSH admit durable index: co-merged twins stay stable under replay") {
    // round-12 review regression guard: docs drained TOGETHER share one
    // merged_at_ms stamp (the stamp is per merge), and their precedence
    // was already decided by that drain's STREAM lane (carrier admitted,
    // twin flagged). The census must keep nulling equal stamps — a
    // tie-break that excluded only a doc's own rows retroactively
    // flagged the carrier against its same-drain twin on every replay.
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val root = java.nio.file.Files.createTempDirectory("graft_admit_comerge")
    val indexPath = new java.io.File(root.toFile, "ix.parquet").getAbsolutePath
    val dir = new java.io.File(root.toFile, "slice")
    // both ids ≡ 3 (mod 4) so both land in the stream slice
    spark.createDataFrame(Seq((3L, t, "en", "web", t.length.toLong),
        (7L, t, "en", "web", t.length.toLong)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write
      .parquet(new java.io.File(dir, "documents.parquet").getAbsolutePath)
    val sink = new java.io.File(root.toFile, "sink").getAbsolutePath
    val ckpt = new java.io.File(root.toFile, "ckpt").getAbsolutePath
    def run(): Map[Long, (Long, Long, Long, Boolean)] =
      LshStreams.streamLshAdmitAt(spark, dir.getAbsolutePath, sink, ckpt)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    spark.conf.set("spark.graft.stream.admitIndexPath", indexPath)
    try {
      val r1 = run()
      assert(r1(3L) === ((0L, 0L, -1L, true)), s"carrier: ${r1(3L)}")
      assert(r1(7L) === ((0L, 16L, 3L, false)), s"twin: ${r1(7L)}")
      assert(AdmitIndex.admitIndexRows(spark, indexPath)
        .select("merged_at_ms").distinct().count() === 1L,
        "one drain merges both docs under one stamp")
      // replay: both docs sit in the index at the SAME stamp — the
      // carrier must not start flagging against its co-merged twin
      val r2 = run()
      assert(r2(3L) === ((0L, 0L, -1L, true)),
        s"carrier flagged against its co-merged twin on replay: ${r2(3L)}")
      assert(r2(7L) === ((0L, 16L, 3L, false)), s"twin drifted: ${r2(7L)}")
    } finally {
      spark.conf.unset("spark.graft.stream.admitIndexPath")
      graft.util.CorpusMemo.invalidate(spark, dir.getAbsolutePath)
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("stream LSH admit durable index: drain landing inside a compaction is swept, not orphaned") {
    // round-12 review: the merge-side fence covers drains whose pointer
    // re-check runs AFTER the repoint. A drain that appends after the
    // compactor's snapshot but SETTLES (markers written) before the
    // repoint is the other half — the compactor's post-repoint sweep
    // must fold that increment into the new generation. Injected via
    // the compactor's pre-repoint hook.
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val root = java.nio.file.Files.createTempDirectory("graft_admit_sweep")
    val indexPath = new java.io.File(root.toFile, "ix.parquet").getAbsolutePath
    def slice(name: String, id: Long): String = {
      val dir = new java.io.File(root.toFile, name)
      spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write
        .parquet(new java.io.File(dir, "documents.parquet").getAbsolutePath)
      dir.getAbsolutePath
    }
    def run(dir: String, tag: String): Map[Long, (Long, Long, Long, Boolean)] = {
      val sink = new java.io.File(root.toFile, s"sink_$tag").getAbsolutePath
      val ckpt = new java.io.File(root.toFile, s"ckpt_$tag").getAbsolutePath
      LshStreams.streamLshAdmitAt(spark, dir, sink, ckpt)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    }
    spark.conf.set("spark.graft.stream.admitIndexPath", indexPath)
    val (s1, s2) = (slice("slice1", 3L), slice("slice2", 7L))
    try {
      assert(run(s1, "1")(3L) === ((0L, 0L, -1L, true)))
      // compaction with a drain racing in between rewrite and repoint:
      // the drain settles against the OLD pointer and writes markers
      var drained: Map[Long, (Long, Long, Long, Boolean)] = Map.empty
      AdmitIndex.admitCompactPreRepointHook = () => { drained = run(s2, "2") }
      try AdmitIndex.compactAdmitIndex(spark, indexPath)
      finally AdmitIndex.admitCompactPreRepointHook = () => ()
      assert(drained(7L) === ((16L, 0L, 3L, false)),
        s"the racing drain's own census is unaffected: ${drained(7L)}")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L,
        "the post-repoint sweep must fold the racing drain's increment " +
          "into the new generation")
      // markers were written by the racing drain: a replay appends
      // nothing and the census is stable against the swept index
      val r3 = run(s2, "2")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L,
        "replay after the sweep must not duplicate rows")
      assert(r3(7L) === ((16L, 0L, 3L, false)), s"census drifted: ${r3(7L)}")
    } finally {
      AdmitIndex.admitCompactPreRepointHook = () => ()
      spark.conf.unset("spark.graft.stream.admitIndexPath")
      Seq(s1, s2).foreach(graft.util.CorpusMemo.invalidate(spark, _))
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("stream LSH admit durable index: compactor crash between repoint and sweep recovers") {
    // round-12 second review: the post-repoint sweep is what folds a
    // racing drain's settled increment into the new generation — a
    // compactor crash in that window used to orphan it permanently
    // (markers written, rows only in the superseded generation, next
    // GC destroys them). The compactor now records its sweep
    // obligation BEFORE repointing; merges and compactions replay it
    // on start. This test constructs the exact crash state by hand.
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val root = java.nio.file.Files.createTempDirectory("graft_admit_crashsweep")
    val indexPath = new java.io.File(root.toFile, "ix.parquet").getAbsolutePath
    def slice(name: String, id: Long): String = {
      val dir = new java.io.File(root.toFile, name)
      spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write
        .parquet(new java.io.File(dir, "documents.parquet").getAbsolutePath)
      dir.getAbsolutePath
    }
    def run(dir: String, tag: String): Map[Long, (Long, Long, Long, Boolean)] = {
      val sink = new java.io.File(root.toFile, s"sink_$tag").getAbsolutePath
      val ckpt = new java.io.File(root.toFile, s"ckpt_$tag").getAbsolutePath
      LshStreams.streamLshAdmitAt(spark, dir, sink, ckpt)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    }
    spark.conf.set("spark.graft.stream.admitIndexPath", indexPath)
    val (s1, s2) = (slice("slice1", 3L), slice("slice2", 7L))
    try {
      // drain 1 (doc 3), then drain 2 (doc 7): both increments live in
      // generation A, both marker sets written
      assert(run(s1, "1")(3L) === ((0L, 0L, -1L, true)))
      val genA = java.nio.file.Files.readString(
        new java.io.File(indexPath, "_GRAFT_CURRENT").toPath).trim
      val aDir = new java.io.File(indexPath, genA)
      val preDrain2 = aDir.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).toSet
      assert(run(s2, "2")(7L) === ((16L, 0L, 3L, false)))
      // CRASH STATE: a compactor snapshotted A BEFORE drain 2's append,
      // rewrote only doc 3's rows into generation B, recorded its sweep
      // obligation, repointed — and died before sweeping
      val genB = f"gen-${genA.stripPrefix("gen-").toLong + 1L}%013d"
      spark.read.parquet(preDrain2.map(n =>
          new java.io.File(aDir, n).getAbsolutePath).toSeq: _*)
        .coalesce(1).write.parquet(new java.io.File(indexPath, genB).getAbsolutePath)
      // the production NONCE-SUFFIXED record name (exercises recovery's
      // prefix filter on the writer's actual format) PLUS a legacy bare
      // record and an already-discharged duplicate — replay-all must
      // handle every outstanding record without duplicating rows
      java.nio.file.Files.writeString(
        new java.io.File(indexPath, "_GRAFT_SWEEP_PENDING-deadbeef").toPath,
        (genA +: preDrain2.toSeq).mkString("\n"))
      java.nio.file.Files.writeString(
        new java.io.File(indexPath, "_GRAFT_SWEEP_PENDING").toPath,
        (genA +: preDrain2.toSeq).mkString("\n"))
      java.nio.file.Files.writeString(
        new java.io.File(indexPath, "_GRAFT_CURRENT").toPath, genB)
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 16L,
        "the crash state serves the orphaned view before recovery")
      // the next drain recovers the sweep BEFORE its census snapshot:
      // doc 7's rows fold into B, the census still flags, no duplicates
      val r = run(s2, "2")
      assert(r(7L) === ((16L, 0L, 3L, false)), s"census after recovery: ${r(7L)}")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L,
        "recovery must fold the orphaned increment into the new " +
          "generation exactly once across all outstanding records")
      assert(new java.io.File(indexPath).listFiles()
          .count(_.getName.startsWith("_GRAFT_SWEEP_PENDING")) === 0,
        "every discharged sweep obligation is cleared")
      // and a compaction after recovery preserves everything
      AdmitIndex.compactAdmitIndex(spark, indexPath)
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L)
    } finally {
      spark.conf.unset("spark.graft.stream.admitIndexPath")
      Seq(s1, s2).foreach(graft.util.CorpusMemo.invalidate(spark, _))
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("stream LSH admit durable index + live checkpoint: both lanes report, self-hits nulled") {
    // resume WITHOUT a wipe while the durable index is on: a colliding
    // doc is reported by BOTH lanes (stream state AND the parquet index
    // hold the run-1 carrier — the documented parity of the index with
    // the state's insert semantics), while the carrier doc itself never
    // self-collides (its own index rows are nulled by doc_id).
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val tmp = java.nio.file.Files.createTempDirectory("graft_admit_both_lanes")
    val docsDir = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
    val sink = new java.io.File(tmp.toFile, "sink").getAbsolutePath
    val ckpt = new java.io.File(tmp.toFile, "ckpt").getAbsolutePath
    val indexPath = new java.io.File(tmp.toFile, "ix.parquet").getAbsolutePath
    def write(id: Long): Unit =
      spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(docsDir)
    def run(): Map[Long, (Long, Long, Long, Boolean)] =
      LshStreams.streamLshAdmitAt(spark, tmp.toString, sink, ckpt)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    spark.conf.set("spark.graft.stream.admitIndexPath", indexPath)
    try {
      write(3L)
      assert(run()(3L) === ((0L, 0L, -1L, true)))
      write(7L)
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      val r2 = run()
      assert(r2(3L) === ((0L, 0L, -1L, true)),
        s"the carrier must not collide with its own index rows: ${r2(3L)}")
      assert(r2(7L) === ((16L, 16L, 3L, false)),
        s"a live-state resume with the index on reports BOTH lanes: ${r2(7L)}")
      assert(AdmitIndex.admitIndexRows(spark, indexPath).count() === 32L)
      // FIRST-ARRIVAL STABILITY (round-11 review): a third census, with
      // the twin's rows now IN the index, must not retroactively flag
      // the carrier against its later-arriving twin — the index lane is
      // arrival-ordered (strictly-earlier merges only)
      val r3 = run()
      assert(r3(3L) === ((0L, 0L, -1L, true)),
        s"the carrier must stay admitted after its twin merges: ${r3(3L)}")
      assert(r3(7L) === ((16L, 16L, 3L, false)), s"twin census drifted: ${r3(7L)}")
    } finally {
      spark.conf.unset("spark.graft.stream.admitIndexPath")
      graft.util.CorpusMemo.invalidate(spark, tmp.toString)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("stream drift: sides partition each type, TVD bounded, self-drift small") {
    import org.apache.spark.sql.functions._
    val byType = Tables.events(spark, sf)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = Streams.streamDrift(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet === byType.keySet)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === byType(r.getString(0)),
        s"${r.getString(0)}: ref+live must cover the type")
      val tvd = r.getLong(3)
      assert(tvd >= 0L && tvd <= 1000000L)
      // even/odd event_id halves draw from the same distribution, so the
      // monitor must NOT fire: self-drift stays well under the 0.25
      // alert band a real deployment would page on
      assert(tvd < 250000L, s"${r.getString(0)}: self-drift $tvd ppm")
    }
  }

  test("stream HLL equals the batch estimate and is batch-order-insensitive") {
    val batch = graft.operators.Pipeline.hllDistinct(spark, sf).collect().head
    def est(df: org.apache.spark.sql.DataFrame) = df.collect().head
    val stream = est(Streams.streamHll(spark, sf))
    // (est, n_zero, max_rho) identical to the batch census
    assert(stream.getLong(0) === batch.getLong(1))
    assert(stream.getLong(1) === batch.getLong(2))
    assert(stream.getLong(2) === batch.getLong(3))
    // multi-file layout → maxFilesPerTrigger=1 forces ≥2 micro-batches;
    // max registers must commute across the batch split
    val tmp = java.nio.file.Files.createTempDirectory("graft_hll_stream")
    try {
      Tables.documents(spark, sf).repartition(3)
        .write.parquet(new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath)
      val split = est(Streams.streamHll(spark, tmp.toString))
      assert(split.getLong(0) === batch.getLong(1))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("stream percentile equals exact batch order statistics per hour") {
    val stream = Streams.streamPercentile(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // batch brute force: sort each hour's cents, index ceil(q*n)-1
    val byHour = graft.Tables.events(spark, sf)
      .select(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("h"),
        expr("cast(floor(value * 100) as bigint)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def q(xs: Seq[Long], p: Int): Long = {
      val n = xs.length.toLong
      xs(((n * p + 99) / 100 - 1).toInt)
    }
    val want = byHour.map { case (h, xs) =>
      h -> (xs.length.toLong, q(xs, 50), q(xs, 95), q(xs, 99)) }
    assert(stream === want)
    assert(stream.nonEmpty)
  }

  test("stream changepoint equals the batch CUSUM split row") {
    val stream = Streams.streamChangepoint(spark, sf).collect().map(_.toSeq)
    val batch = graft.operators.Temporal.changepoint(spark, sf)
      .collect().map(_.toSeq)
    assert(stream.toSeq === batch.toSeq)
  }

  test("stream active users equals batch WAU on the closed days") {
    val stream = Streams.streamActiveUsers(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // batch twin restricted to the append-closed set: a day [d, d+1)
    // emits when d+1 ≤ (max fanned day + 6d) − 8d, i.e. d ≤ maxday − 3d
    val batch = graft.operators.Temporal.activeUsers(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(2)))
    val maxDay = graft.Tables.events(spark, sf)
      .agg(max(to_date(col("ts")))).collect()(0).getDate(0).toLocalDate
    val closed = batch.filter(_._1.compareTo(maxDay.minusDays(3)) <= 0)
      .map(p => (p._1.toString, p._2)).toMap
    // the stream fans out to calendar days the batch's observed-day
    // semi-join drops, so compare on the closed OBSERVED days and only
    // bound the extras (gap-day robustness: the fixture is gap-free but
    // the test must not assume it)
    closed.foreach { case (d, wau) =>
      assert(stream.get(d).contains(wau), s"WAU mismatch on closed day $d")
    }
    (stream.keySet -- closed.keySet).foreach { d =>
      assert(java.time.LocalDate.parse(d)
        .compareTo(maxDay.minusDays(3)) <= 0, s"unexpected open day $d")
    }
    assert(stream.nonEmpty)
  }

  test("an explicit artifact-isolation value wins over the drain's default") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val key = "spark.sql.artifact.isolation.enabled"
    val s = spark.newSession()
    s.conf.set(key, "true")
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries("q_stream_window")(s, sf).write.mode("overwrite").format("noop").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = compiles()
    val second = compiles()
    // isolated, each run's tasks get a new class loader and recompile
    assert(second > 0, s"the second run compiled nothing (first compiled $first)")
    assert(s.conf.get(key) === "true")
  }

  test("a drain as a fresh session's first job leaves that session's own isolation on") {
    val s = spark.newSession()
    SparkEntry.queries("q_stream_window")(s, sf).write.mode("overwrite").format("noop").save()
    // Spark's default; only the stream's own clone runs without it
    assert(org.apache.spark.sql.GraftShims.isolatedJobs(s))
  }

  test("the finalizing no-data batch runs only where an operator can emit on the watermark") {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues}
    import spark.implicits._
    def rate(ts: String) = spark.readStream.format("rate").load()
      .select(col("value").as(s"k_$ts"), col("timestamp").as(ts))
    def wm(ts: String) = rate(ts).withWatermark(ts, "1 hour")
    val cond = col("k_l") === col("k_r") && col("r") >= col("l") &&
      col("r") <= col("l") + expr("INTERVAL 30 MINUTES")
    val inner = wm("l").join(wm("r"), cond)
    class Keys extends StatefulProcessor[Long, (Long, java.sql.Timestamp), Long] {
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()
      override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
                                   timerValues: TimerValues): Iterator[Long] = Iterator(key)
    }
    val processingTime = rate("t").as[(Long, java.sql.Timestamp)].groupByKey(_._1 % 4)
      .transformWithState(new Keys, TimeMode.ProcessingTime(), OutputMode.Append())
    val skip = Seq(
      "an inner stream-stream join" -> inner,
      "dropDuplicates with a watermark" -> wm("t").dropDuplicates("k_t", "t"),
      "dropDuplicatesWithinWatermark" -> wm("t").dropDuplicatesWithinWatermark("k_t"),
      "no watermark: an aggregate" -> rate("t").groupBy("k_t").count(),
      "no watermark: a processing-time transformWithState" -> processingTime)
    val keep = Seq(
      "a left outer join" -> wm("l").join(wm("r"), cond, "leftOuter"),
      "an append-mode window aggregate" -> wm("t").groupBy(window(col("t"), "1 hour")).count(),
      "a session_window aggregate" ->
        wm("t").groupBy(session_window(col("t"), "10 minutes")).count(),
      "an inner join feeding a window aggregate" ->
        inner.groupBy(window(col("l"), "1 hour")).count())
    skip.foreach { case (what, df) => assert(!Streams.runsNoDataBatch(df), what) }
    keep.foreach { case (what, df) => assert(Streams.runsNoDataBatch(df), what) }
  }

  test("the flavors that skip the no-data batch give the same rows with it") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    def events = Tables.normalizeEvents(spark.readStream
      .schema(Tables.eventsRaw(spark, sf).schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf))
    // drains `df` with the no-data batch on and returns its rows in order
    def withNoDataBatch(df: DataFrame, order: String*): Seq[org.apache.spark.sql.Row] = {
      val name = "graft_nodata_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_nodata")
      val key = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prev = spark.conf.getAll.get(key) // getOption would pin the default
      spark.conf.set(key, "true")
      try {
        val q = df.writeStream.format("memory").queryName(name).outputMode("append")
          .option("checkpointLocation", ckpt.toString).trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        assert(q.recentProgress.last.numInputRows === 0L, "no no-data batch ran")
        spark.table(name).orderBy(order.map(col): _*).collect().toSeq
      } finally {
        prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        spark.catalog.dropTempView(name)
        org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      }
    }
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = views.join(purchases,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("view_id"), col("purchase_id"))
    val join = Streams.streamStreamJoin(spark, sf).collect().toSeq
    assert(join.nonEmpty)
    assert(withNoDataBatch(joined, "user_id", "view_id", "purchase_id") === join)
    val deduped = events
      .select(col("user_id"), date_trunc("minute", col("ts")).as("m"))
      .withWatermark("m", "1 hour")
      .dropDuplicates("user_id", "m")
      .select(col("user_id"), date_format(col("m"), "yyyy-MM-dd HH:mm").as("minute"))
    val dedup = Streams.streamDedup(spark, sf).collect().toSeq
    assert(dedup.nonEmpty)
    assert(withNoDataBatch(deduped, "user_id", "minute") === dedup)
  }

  test("every declared stream drains on its state lanes and leaves the session conf unchanged") {
    import java.util.UUID
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val started = new ConcurrentLinkedQueue[UUID]()
    val terminated = new ConcurrentLinkedQueue[UUID]()
    val partitions = new ConcurrentLinkedQueue[(UUID, Long)]()
    val batches = new ConcurrentLinkedQueue[(UUID, Long, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        e.progress.stateOperators.foreach(op =>
          partitions.add(e.progress.runId -> op.numShufflePartitions))
        batches.add((e.progress.runId, e.progress.batchId, e.progress.numInputRows))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.add(e.runId)
    }
    // the entries tune the session; do that first so the conf
    // comparison sees only what a drain leaves behind
    Engine.tune(spark)
    // runs `body`, then waits for each stream it started to report its
    // termination, so every progress event of those runs has arrived
    def runs(body: => Unit): Set[UUID] = {
      val before = started.asScala.toSet
      body
      val ids = started.asScala.toSet -- before
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!ids.subsetOf(terminated.asScala.toSet) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(ids.subsetOf(terminated.asScala.toSet), "a stream never reported termination")
      ids
    }
    spark.streams.addListener(listener)
    try {
      val streams = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
      assert(streams.size === 21)
      streams.foreach { name =>
        val conf = spark.conf.getAll
        val ids = runs(SparkEntry.queries(name)(spark, sf).collect())
        assert(spark.conf.getAll === conf, s"$name changed the session conf")
        val lanes = partitions.asScala.collect { case (id, n) if ids(id) => n }.toSet
        val expected = if (name == "q_stream_lsh_admit") 8L else 2L
        assert(lanes === Set(expected), s"$name state partitions")
        // input rows per batch, in batch order: a finalizing no-data
        // batch reads 0 rows
        val rows = batches.asScala.toSeq.collect { case (id, b, n) if ids(id) => b -> n }
          .sortBy(_._1).map(_._2)
        if (Set("q_stream_stream_join", "q_stream_dedup")(name))
          assert(rows.nonEmpty && !rows.contains(0L), s"$name ran a no-data batch: $rows")
        if (Set("q_stream_window_wm", "q_stream_outer_join", "q_stream_active_users")(name))
          assert(rows.lastOption.contains(0L), s"$name ended without a no-data batch: $rows")
      }
      // the declared admit entry refuses a split drain; the conf is
      // restored on that throwing path too
      val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val tmp = java.nio.file.Files.createTempDirectory("graft_drain_conf")
      val docs = new java.io.File(tmp.toFile, "documents.parquet").getAbsolutePath
      try {
        Seq(3L, 7L).foreach { id =>
          spark.createDataFrame(Seq((id, t, "en", "web", t.length.toLong)))
            .toDF("doc_id", "text", "lang", "source", "n_chars")
            .coalesce(1).write.mode("append").parquet(docs)
        }
        val conf = spark.conf.getAll
        runs(intercept[Exception] {
          SparkEntry.queries("q_stream_lsh_admit")(spark, tmp.toString).collect()
        })
        assert(spark.conf.getAll === conf, "the failed drain changed the session conf")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    } finally spark.streams.removeListener(listener)
  }
}
