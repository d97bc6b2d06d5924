package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Fns
import graft.operators.{Graph, Pipeline, Relational, Temporal}

/** Behavior tests for the round-5 analytics operators: integer-exact
  * PageRank, sequence packing, fixed-point BM25, event transition matrix,
  * last-touch attribution, XML extraction, and shard-export manifests. */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  test("pagerank: ranks are positive, conserved-ish, and deterministic") {
    val out = Graph.pageRank(spark, sf).collect()
    assert(out.length === 20)
    // micro-unit ranks: every rank >= the teleport floor
    assert(out.forall(_.getLong(2) >= 150000L))
    // descending with (rank desc, node) tie-break
    val pairs = out.map(r => (r.getLong(2), r.getLong(0)))
    assert(pairs.sameElements(pairs.sortBy(p => (-p._1, p._2))))
    // deterministic across runs (integer arithmetic, no reduce-order term)
    val again = Graph.pageRank(spark, sf).collect().map(_.toSeq)
    assert(out.map(_.toSeq).toSeq === again.toSeq)
  }

  test("pagerank: suppliers aggregate customer mass on the bipartite graph") {
    val out = Graph.pageRank(spark, sf).collect()
    // the purchase graph is many-customers-per-supplier, so the top of the
    // rank table must be suppliers
    assert(out.head.getString(1) === "supplier")
  }

  test("pack_sequences: token mass is preserved and every cut is exact") {
    val seqs = Pipeline.packSequences(spark, sf).collect()
    val totalTokens = seqs.map(_.getLong(2)).sum
    val corpusTokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(size(filter(split(col("text"), " +"), w => w =!= lit("")))
        .cast("long").as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(totalTokens === corpusTokens,
      "packing must neither drop nor duplicate tokens")
    // every sequence except the last is exactly full
    val full = seqs.dropRight(1)
    assert(full.forall(_.getLong(2) === 256L))
    assert(seqs.last.getLong(2) <= 256L)
    // sequence ids are dense from 0
    assert(seqs.map(_.getLong(0)).toSeq === (0L until seqs.length).toSeq)
  }

  test("pack_sequences: doc ranges tile the corpus in doc_id order") {
    val seqs = Pipeline.packSequences(spark, sf).collect()
    seqs.sliding(2).foreach { case Array(a, b) =>
      // consecutive sequences overlap by at most the straddling doc
      assert(b.getLong(3) >= a.getLong(4) - 0,
        "first_doc of the next sequence cannot precede last_doc of the previous")
      assert(b.getLong(3) <= a.getLong(4) + 1)
    }
  }

  test("bm25: more term mass at equal length scores higher; tf saturates") {
    import spark.implicits._
    // synthetic corpus through the same scoring arithmetic: build a frame
    // shaped like documents and rank via the declared query's formula
    val rows = Seq(
      (0L, "spark " * 5 + "pad " * 20),  // tf=5, dl=25
      (1L, "spark " * 1 + "pad " * 24),  // tf=1, dl=25
      (2L, "pad " * 25)                  // no term
    ).map { case (id, t) => (id, t.trim, "en", "s", t.length.toLong) }
    val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = graft.util.TempDirs.create("bm25").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Pipeline.bm25(spark, tmp).collect()
    val score = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!score.contains(2L), "doc without any query term must not score")
    assert(score(0L) > score(1L), "higher tf at equal dl must score higher")
    // BM25 tf saturation: 5x the tf is far less than 5x the score
    assert(score(0L) < 5 * score(1L))
  }

  test("transition_matrix: per-prev shares sum to ~1e6 and counts to n-users transitions") {
    val out = Temporal.transitionMatrix(spark, sf).collect()
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    assert(out.map(_.getLong(2)).sum === nEvents - nUsers,
      "every event except each user's first contributes one transition")
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val ppm = rows.map(_.getLong(3)).sum
      // integer div truncation loses at most (#next-types - 1) ppm
      assert(ppm <= 1000000L && ppm > 1000000L - rows.length)
    }
  }

  test("attribution: revenue is conserved and matches a brute-force credit") {
    val out = Temporal.attribution(spark, sf).collect()
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      .collect()
    val clicks = ev.filter(_.getString(3) == "click")
    val purchases = ev.filter(_.getString(3) == "purchase")
    assert(out.map(_.getLong(2)).sum === purchases.map(_.getLong(4)).sum,
      "attribution must conserve total purchase revenue")
    // brute-force last-touch per purchase
    val byUser = clicks.groupBy(_.getLong(1))
    val credited = purchases.map { p =>
      val c = byUser.getOrElse(p.getLong(1), Array.empty)
        .filter(c => !c.getTimestamp(2).after(p.getTimestamp(2)))
      if (c.isEmpty) -1L
      else c.maxBy(r => (r.getTimestamp(2).getTime, r.getLong(0)))
        // hour in UTC (the session TZ), not the JVM default zone
        .getTimestamp(2).toInstant.atOffset(java.time.ZoneOffset.UTC)
        .getHour.toLong
    }
    val want = credited.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("xml_extract: per-status totals equal the base-table aggregates") {
    val out = Relational.xmlExtract(spark, sf).collect()
    val want = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .orderBy("status").collect()
    assert(out.length === want.length)
    out.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) === w.getString(0))
      assert(g.getLong(1) === w.getLong(1), "XML parse must keep every row")
      assert(g.getLong(2) === w.getLong(2))
    }
  }

  test("cluster_labels: 3 ranked terms per cluster, lift is exact and supported") {
    val out = operators.Clustering.clusterLabels(spark, sf).collect()
    val byCid = out.groupBy(_.getLong(0))
    byCid.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
      assert(rows.length <= 3)
      assert(rows.forall(_.getLong(3) >= 5L), "min-support cut must hold")
      // ranks follow (lift desc, n_cw desc, word)
      val sorted = rows.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(4) > b.getLong(4) ||
            (a.getLong(4) == b.getLong(4) && a.getLong(3) >= b.getLong(3)))
        case _ => ()
      }
    }
  }

  test("temperature_mix: sqrt weights up-weight small languages vs proportional") {
    val out = Pipeline.temperatureMix(spark, sf).collect()
    val nTotal = out.map(_.getLong(1)).sum
    out.foreach { r =>
      val (n, share) = (r.getLong(1), r.getLong(3))
      val propPpm = n * 1000000L / nTotal
      if (n * out.length < nTotal) // under-represented language
        assert(share > propPpm, s"${r.getString(0)}: sqrt must up-weight")
      else if (n * out.length > nTotal) // over-represented
        assert(share < propPpm, s"${r.getString(0)}: sqrt must down-weight")
    }
    // targets never exceed the budget and shares never exceed 1e6
    assert(out.map(_.getLong(4)).sum <= 100000L)
    assert(out.map(_.getLong(3)).sum <= 1000000L)
  }

  test("substring_dedup: flags are one-directional and witnesses precede") {
    val out = Pipeline.substringDedup(spark, sf).collect()
    assert(out.nonEmpty, "fixture has planted near-dups with verbatim spans")
    out.foreach { r =>
      assert(r.getLong(2) < r.getLong(0),
        "witness doc must precede the flagged doc")
      assert(r.getLong(1) >= 1L)
    }
    // the minimum doc_id over the whole corpus can never be flagged
    val minDoc = spark.read.parquet(s"$sf/documents.parquet")
      .agg(min("doc_id")).collect()(0).getLong(0)
    assert(!out.map(_.getLong(0)).contains(minDoc))
  }

  test("substring_dedup: the raw-text prefilter keeps exactly the docs with 20+ tokens") {
    val docs = Tables.documents(spark, sf)
    val nTokens = size(filter(Fns.tokensArr(col("text")), t => t =!= lit("")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = ids(docs.filter(col("text").rlike(Pipeline.SpanPrefilter)))
    assert(kept.nonEmpty)
    assert(kept === ids(docs.filter(nTokens >= 20)))
    // the round-18 backtracking form selected the same fixture rows
    assert(kept === ids(docs.filter(
      col("text").rlike("([a-zA-Z]+[^a-zA-Z]+){19}[a-zA-Z]"))))
  }

  test("substring_dedup: a document of a few 10^5-letter runs finishes quickly") {
    import spark.implicits._
    val tmp = graft.util.TempDirs.create("graft_hostile").toString
    val words = (1 to 25).map(i => s"w${"x" * (i % 5)}").mkString(" ")
    val hostile = Seq("a", "b", "c").map(_ * 100000).mkString(" ", " ", " ")
    Seq((1L, hostile), (2L, words), (3L, s"$words!"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val t0 = System.nanoTime()
    val out = Pipeline.substringDedup(spark, tmp).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // an unanchored prefilter rescans the rest of a run from every offset
    // in it: over a minute on the hostile row, possessive or not
    assert(secs < 30.0, s"substringDedup took $secs s on the hostile doc")
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq === Seq((3L, 2L)))
  }

  test("profile: census matches direct per-column aggregates in one scan") {
    val out = Relational.profile(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq ===
      Seq("l_partkey", "l_quantity", "l_returnflag", "l_shipdate"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val want = li.agg(
      count(col("l_partkey")), countDistinct(col("l_partkey")),
      min(col("l_partkey")), max(col("l_partkey"))).collect()(0)
    val pk = out(0)
    assert(pk.getLong(1) === want.getLong(0))
    assert(pk.getLong(2) === want.getLong(1))
    assert(pk.getString(3) === want.getLong(2).toString)
    assert(pk.getString(4) === want.getLong(3).toString)
  }

  test("oov_filter: scores are exact fractions and ranking is deterministic") {
    val out = Pipeline.oovFilter(spark, sf).collect()
    assert(out.length === 25)
    out.foreach { r =>
      val (nBg, nOov, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nOov <= nBg)
      assert(ppm === nOov * 1000000L / nBg)
    }
    val keys = out.map(r => (-r.getLong(3), r.getLong(0)))
    assert(keys.sameElements(keys.sorted), "(oov desc, doc_id) order")
  }

  test("label_centroids: exact truncated means match a driver-side recompute") {
    val out = operators.Clustering.labelCentroids(spark, sf).collect()
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1e6).toLong))
    assert(out.map(_.getInt(0)).sum === vecs.map(_._1).distinct.sum)
    out.foreach { r =>
      val members = vecs.filter(_._1 == r.getInt(0)).map(_._2)
      assert(r.getLong(1) === members.length.toLong)
      def mean(dim: Int): Long = {
        val sx = members.map(_(dim)).sum; val n = members.length
        (sx - sx % n) / n
      }
      assert(r.getLong(2) === mean(0))
      assert(r.getLong(3) === mean(1))
    }
  }

  test("hard_negatives: every mined pair crosses labels and ranks by cosine") {
    val out = Pipeline.hardNegatives(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(1) !== r.getInt(3), "negative must carry a different label")
      assert(r.getLong(0) !== r.getLong(2))
    }
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 2)
      val sorted = rows.sortBy(_.getLong(5))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(4) >= b.getDouble(4),
          "rank 1 must be at least as close as rank 2")
        case _ => ()
      }
    }
  }

  test("shard_export: shards partition the corpus exactly") {
    val out = Pipeline.shardExport(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.map(_.getLong(1)).sum === nDocs)
    assert(out.map(_.getLong(0)).forall(s => s >= 0 && s < 16))
    // content-hash routing spreads the corpus: no shard holds > 25%
    assert(out.map(_.getLong(1)).max <= nDocs / 4)
  }
}
