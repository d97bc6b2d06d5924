package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.Fns

/** Data-selection and evaluation operators — the curation layer that sits
  * on top of the dedup/quality/ANN primitives in [[Pipeline]]: importance
  * weighting of documents toward a target distribution (DSIR),
  * multi-signal rank fusion, corpus-level sketch algebra (merged MinHash
  * per source), classifier evaluation (language-ID confusion), and filter
  * threshold sweeps. The reference engine's analog is its sequential
  * oracle discipline (`/root/reference/src/main/test-mr.sh:64-131` checks
  * every app against a known-good run); here every operator is
  * DuckDB-hash-verified.
  *
  * Scale notes: every operator is a constant number of shuffles; global
  * per-document ranking is never materialized corpus-wide — rank fusion
  * ranks only bounded top-k candidate lists (two TakeOrdered heaps), and
  * DSIR's model is a fixed 256-bucket table, so the corpus is touched
  * exactly once per signal.
  */
object Selection {

  private val DsirBuckets = 256

  /** DSIR-style importance log-weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-unigram features are under a
    * TARGET distribution (here: the corpus' `lang = 'en'` slice) than
    * under the RAW corpus distribution, with add-one smoothing over
    * [[DsirBuckets]] hash buckets. A training-data pipeline samples
    * documents proportionally to exp(weight) to tilt a 100 TB raw crawl
    * toward a small high-quality target domain.
    *
    * logw(d) = Σ_b c_b(d)·[ln(t_b+1) − ln(r_b+1)] + n_tokens(d)·[ln(R+B) − ln(T+B)]
    *
    * Scale shape: the corpus token stream collapses map-side to (doc,
    * bucket) counts (≤ 256 rows per doc); both feature models are
    * 256-row tables built by ONE re-aggregation of that table (the corpus
    * is never re-read), and scoring joins per-doc bucket counts to the
    * 256-row models — AQE broadcasts them. The two 1-row totals ride in
    * as a constant-size broadcast after the per-doc aggregation.
    * Float parity: each per-bucket term is rounded through DECIMAL(18,9)
    * before the per-doc sum, so the summation is order-independent and
    * bit-identical on both engines. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(Fns.tokensArr(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("lang"),
        pmod(Fns.polyHash(col("w")), lit(DsirBuckets.toLong)).as("bucket"))
    val docBuckets = tok.groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("c"))
    // BOTH feature models (raw = whole corpus, target = the English
    // slice) from ONE re-aggregation of the (doc,bucket) table — the
    // corpus-sized subtree is shuffled once and its exchange reused, the
    // models are ≤ DsirBuckets rows
    val stats = docBuckets.groupBy("bucket")
      .agg(sum(col("c")).as("r"),
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("t"))
    val totals = stats.agg(sum(col("r")).as("rtot"), sum(col("t")).as("ttot"))
    val term = docBuckets
      .join(stats, "bucket")
      .select(col("doc_id"), col("lang"), col("c"),
        (col("c").cast("double") *
          (log(col("t").cast("double") + 1.0) -
           log(col("r").cast("double") + 1.0))).as("term"))
    term.groupBy("doc_id", "lang")
      .agg(sum(col("term").cast(DecimalType(18, 9))).as("sum_term"),
        sum(col("c")).cast("long").as("n_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("sum_term") +
          (col("n_tokens").cast("double") *
            (log(col("rtot").cast("double") + DsirBuckets) -
             log(col("ttot").cast("double") + DsirBuckets)))
            .cast(DecimalType(18, 9)))
          .cast("double").as("dsir_logw"))
      .orderBy("doc_id")
  }

  private val RrfK = 60
  private val RrfListSize = 100
  private val RrfTopN = 25

  /** Reciprocal-rank fusion of two quality signals (Cormack et al. 2009):
    * rank documents by the heuristic quality score ([[Pipeline.qualityScore]])
    * and by lexical diversity (distinct-token fraction,
    * [[Pipeline.gopherQuality]]), keep each signal's top
    * [[RrfListSize]], and fuse with Σ 1/([[RrfK]]+rank). Multi-signal
    * fusion is how curation pipelines combine heterogeneous scores
    * without calibrating them onto one scale.
    *
    * Scale shape: RRF is defined over bounded candidate LISTS, not the
    * corpus — each signal reduces via a TakeOrdered (bounded heap,
    * no global sort), and ranking/fusion happen on two ≤100-row lists.
    * The corpus is scanned once per signal; the signal subplans are the
    * proven-linear quality/gopher aggregations. All fused scores are sums
    * of two exactly-representable reciprocals — bit-identical on both
    * engines. */
  def rankFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQuality = Pipeline.qualityScores(s, dir)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(RrfListSize)
      .withColumn("r_quality", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
    // distinct_frac via the projection-only path (round 18): this leg
    // needs no bigram census, and under the r17 single-pass gopherQuality
    // the pruner could no longer remove those two corpus-keyed exchanges
    // — see [[Pipeline.distinctFracs]] for the cell-identity argument.
    val byDiversity = Pipeline.distinctFracs(s, dir)
      .select(col("doc_id"), col("distinct_frac"))
      .orderBy(col("distinct_frac").desc, col("doc_id")).limit(RrfListSize)
      .withColumn("r_diversity", row_number().over(
        Window.orderBy(col("distinct_frac").desc, col("doc_id"))).cast("long"))
    byQuality.join(byDiversity, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_quality"), lit(0L)).as("r_quality"),
        coalesce(col("r_diversity"), lit(0L)).as("r_diversity"),
        (coalesce(lit(1.0) / (col("r_quality") + RrfK).cast("double"), lit(0.0)) +
         coalesce(lit(1.0) / (col("r_diversity") + RrfK).cast("double"), lit(0.0)))
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(RrfTopN)
  }

  /** Corpus-level sketch algebra: the MinHash signature of each SOURCE,
    * obtained by element-wise min-merging its documents' signatures (the
    * signature of a union is the element-wise min of the signatures — the
    * property that makes MinHash mergeable in a distributed engine), then
    * the pairwise estimated Jaccard between sources (fraction of agreeing
    * permutation minima). This is how a pipeline triages WHICH crawls
    * overlap before paying for document-level dedup between them.
    *
    * Scale shape: reuses the per-doc signature aggregation of
    * [[Pipeline.minhashSigs]] (one corpus shuffle); the merge is a
    * source-keyed re-aggregation of the 64-int signatures (sources-sized
    * output), and the pairwise comparison is an equi-join on the
    * permutation index over a (sources × 64)-row table — constant-size
    * work independent of corpus volume. */
  def sourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val perms = Pipeline.MinhashPerms
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val merged = Pipeline.minhashSigs(s, dir)
      .join(src, "doc_id")
      .groupBy("source")
      .agg(min(col("m0")).as("m0"),
        (1 until perms).map(i => min(col(s"m$i")).as(s"m$i")): _*)
    val long = merged.select(col("source"),
        posexplode(array((0 until perms).map(i => col(s"m$i")): _*)).as(Seq("i", "mv")))
    long.select(col("source").as("src_a"), col("i"), col("mv").as("va"))
      .join(long.select(col("source").as("src_b"), col("i"), col("mv").as("vb")), "i")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(when(col("va") === col("vb"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("src_a"), col("src_b"), col("n_agree"),
        (col("n_agree").cast("double") / perms.toDouble).as("jaccard_est"))
      .orderBy("src_a", "src_b")
  }

  /** Language-ID evaluation: the confusion matrix of
    * [[Pipeline.langId]]'s marker-based prediction against the fixture's
    * labeled language, with each cell's share of its labeled row (recall
    * decomposition). The eval layer every classifier-driven curation
    * filter needs before it is trusted to route documents.
    *
    * Scale shape: prediction is the proven-linear langId projection; the
    * confusion matrix is one (labeled, pred)-keyed aggregation
    * (languages² rows) and the row-share window runs on that constant-size
    * table, never the corpus. */
  def langidEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Pipeline.langId(s, dir)
      .groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("frac_of_labeled",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy("labeled_lang")).cast("double"))
      .orderBy("labeled_lang", "pred_lang")
  }

  /** Per-source dataset card — the datasheet a curation pipeline publishes
    * for every ingested source: volume (docs, tokens, chars), language
    * spread (distinct languages + deterministic dominant language),
    * within-source exact-duplicate count (docs minus distinct content
    * digests), and mean heuristic quality. One corpus pass computes the
    * per-doc signals; everything after is source-keyed aggregation.
    *
    * Scale shape: the base aggregation is map-side combinable per source;
    * the dominant language comes from a (source, lang)-keyed aggregate
    * (sources × languages rows) ranked by a window WITHIN each source's
    * handful of rows — never a corpus-wide sort. Mean quality is exact:
    * scores are multiples of 0.25, so their double sum is
    * order-independent and the single division matches the oracle
    * bitwise. */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        Fns.words(col("text")).as("t"))
      .select(col("source"), col("lang"),
        size(col("t")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        sha2(col("text"), 256).as("h"),
        (when(size(col("t")).between(20, 10000), 1).otherwise(0) * lit(0.5) +
         when(size(filter(col("t"), w => w.isin(Pipeline.Stopwords.map(lit): _*)))
            .cast("double") / size(col("t")) > 0.01, 0.25).otherwise(0.0) +
         when((length(col("text")) - length(regexp_replace(col("text"), "[.,]", "")))
            .cast("double") / length(col("text")) < 0.2, 0.25).otherwise(0.0))
          .as("score"))
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_tokens")).cast("long").as("n_tokens"),
      sum(col("n_chars")).cast("long").as("n_chars"),
      (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"),
      (sum(col("score")) / count(lit(1))).as("mean_quality"))
    val topLang = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    base.join(topLang, "source")
      .select(col("source"), col("n_docs"), col("n_langs"), col("top_lang"),
        col("n_tokens"), col("n_chars"), col("n_dup_docs"), col("mean_quality"))
      .orderBy("source")
  }

  private val PrThresholds = Seq(0.2, 0.25, 0.3, 0.4)

  /** Precision/recall sweep of the MinHash-LSH candidate set against the
    * exact blocked-Jaccard pair table — the eval that decides whether the
    * 16×4 band geometry is right for a target similarity threshold
    * before a 100 TB dedup pass commits to it. For each threshold t:
    * how many true near-dup pairs exist (`n_truth`, exact shingle Jaccard
    * from the [[Pipeline.dedupNgram]] pair table, ≥ t), how many LSH
    * candidates the bands produced (`n_cand`, constant), how many truth
    * pairs the candidates cover (`n_cand_truth` → recall), and how many
    * candidates clear the threshold on exact Jaccard (`n_cand_above` →
    * precision).
    *
    * Scale shape: both inputs are the memoized once-per-corpus tables
    * (the near-dup pair table and the LSH candidate table) — the corpus
    * is not re-read; each table fans out |thresholds| = 4 rows map-side
    * and collapses immediately, and the final join is on the 4-row
    * threshold key. */
  def lshPrSweep(s: SparkSession, dir: String): DataFrame = {
    val thr = explode(array(PrThresholds.map(lit): _*)).as("threshold")
    val truth = Pipeline.ngramJaccard(s, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_ngram"))
    val cand = Pipeline.minhashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_exact"))
    val t1 = truth.select(thr, col("j_ngram"))
      .groupBy("threshold")
      .agg(sum(when(col("j_ngram") >= col("threshold"), 1L).otherwise(0L)).as("n_truth"))
    val t2 = cand.select(thr, col("j_exact"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("j_exact") >= col("threshold"), 1L).otherwise(0L)).as("n_cand_above"))
    val t3 = cand.join(truth, Seq("doc_a", "doc_b"))
      .select(thr, col("j_ngram"))
      .groupBy("threshold")
      .agg(sum(when(col("j_ngram") >= col("threshold"), 1L).otherwise(0L)).as("n_cand_truth"))
    t1.join(t2, "threshold").join(t3, Seq("threshold"), "left")
      .select(col("threshold"), col("n_truth"), col("n_cand"),
        coalesce(col("n_cand_truth"), lit(0L)).as("n_cand_truth"),
        col("n_cand_above"),
        when(col("n_truth") > 0,
          coalesce(col("n_cand_truth"), lit(0L)).cast("double") /
            col("n_truth").cast("double"))
          .otherwise(0.0).as("recall"),
        when(col("n_cand") > 0,
          col("n_cand_above").cast("double") / col("n_cand").cast("double"))
          .otherwise(0.0).as("precision"))
      .orderBy("threshold")
  }

  private val SweepThresholds = Seq(0.0, 0.25, 0.5, 0.75, 1.0)

  /** Quality-filter threshold sweep: for each candidate keep-threshold,
    * how many documents and tokens survive `score >= thr`, and the
    * surviving document fraction — the survival curve a pipeline reads to
    * pick its operating point before committing a 100 TB filter pass
    * (same eval-layer shape as the semdedup threshold sweep).
    *
    * Scale shape: scores come from the proven-linear
    * [[Pipeline.qualityScore]] projection; each doc emits
    * |[[SweepThresholds]]| = 5 rows map-side which collapse immediately
    * into a 5-row aggregate (map-side combined), and the fraction
    * denominator is a window over that 5-row table (score ≥ 0 always, so
    * the thr = 0 row IS the corpus total — no second corpus pass). */
  def qualitySweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = Pipeline.qualityScores(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("score"))
    sc.select(col("n_tokens"), col("score"),
        explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(sum(when(col("score") >= col("threshold"), 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("score") >= col("threshold"), col("n_tokens")).otherwise(0L))
          .cast("long").as("n_tokens_kept"))
      .withColumn("frac_docs",
        col("n_docs").cast("double") / max(col("n_docs")).over(Window.partitionBy()).cast("double"))
      .orderBy("threshold")
  }
}
