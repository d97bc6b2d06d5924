package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.Checkpoints.StableOps
import graft.util.{CorpusMemo, GenStore}
import graft.functions.Fns
import graft.functions.Fns._

/** LLM-training-data pipeline operators (BASELINE.json north star):
  * deduplication, text analysis, similarity search over the `documents`
  * and `embeddings` fixtures.
  *
  * Scale notes: each operator is a constant number of shuffles regardless
  * of corpus size (the one exception is the iterative label propagation in
  * [[dedupClusters]], whose rounds scale with component diameter, not
  * corpus size); pairwise comparisons are always gated by a blocking step
  * (shared shingle with a document-frequency cap, LSH band bucket,
  * hyperplane bucket) so the candidate set grows ~linearly, never the full
  * O(n²) cross product.
  */
object Pipeline {

  /** (doc_id, word) token pairs, the common map phase. */
  private def toks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(Fns.tokensArr(col("text"))).as("word"))
      .filter(col("word") =!= "")

  // ---------------------------------------------------------------- dedup

  /** Exact deduplication by full-content hash: one hash-aggregate keyed by
    * sha256(text) — the 100 TB-safe exact-dup plan (hash first, never
    * compare raw text across the wire). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("h")

  /** Word 3-gram shingle stream per document (with duplicates — callers
    * pick the cheapest point to distinct: strings for the exact-Jaccard
    * verify, int64 hashes for the pair join). */
  private def shinglesRaw(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), Fns.tokensArr(col("text")).as("t"))
      .select(col("doc_id"), filter(col("t"), w => w =!= lit("")).as("t"))
    d.select(col("doc_id"), explode(Fns.trigramsArr(col("t"))).as("sh"))
  }

  /** Distinct word 3-gram shingle set per document. Shingles seen in more
    * than `maxDf` documents are dropped before pairing (stop-shingle cap) —
    * this is what keeps the candidate join linear-ish at scale. */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesRaw(s, dir).distinct()

  /** Memoized DISTINCT-shingle hash frame `(doc_id, h1, h2)` — one row
    * per distinct (document, shingle-string), hashes projected after the
    * string distinct (round 14, VERDICT #6). The tokenize+shingle+
    * distinct pass was recomputed independently by the pair table, the
    * df census, the MinHash signatures and the decontamination split —
    * four corpus scans per session for the same frame; now it is paid
    * once and localCheckpoint'ed (the signature table, persisted at
    * 100 TB under `spark.graft.minhash.sigsPath`, derives from exactly
    * this frame). Consumers' semantics are UNCHANGED,
    * collision-for-collision: one row per distinct STRING
    * (not per distinct hash), so per-doc set sizes, countDistinct
    * censuses and distinct-after-hash projections all reproduce their
    * previous (and the oracle's) values bit-for-bit. The MinHash
    * VERIFY path ([[dedupMinhash]]'s candidate-restricted exact
    * Jaccard) stays on shingle STRINGS — the oracle joins on `sh`
    * there, and hash-join semantics would diverge on a hash collision. */
  private[graft] def hashedShingles(s: SparkSession, dir: String): DataFrame =
    hashedShingleCache(s, dir) {
      shingles(s, dir).select(col("doc_id"),
        Fns.polyHash(col("sh")).as("h1"),
        Fns.polyHash2(col("sh")).as("h2")).stable
    }

  private val hashedShingleCache = CorpusMemo[DataFrame]()

  /** Stop-shingle df cap, tunable via `spark.graft.ngram.dfCap`
    * (default 100 — the declared queries' hashes are pinned to the
    * default, so leaving the knob unset changes nothing). The
    * cap-vs-corpus-scale rule (SURVEY §9's honest-100× probe): the cap
    * bounds how many documents may share a shingle before it is treated
    * as a stop-shingle and dropped from pairing, so it must GROW with
    * corpus-wide duplication — under 100× verbatim duplication every
    * df inflates 100× and a fixed cap goes recall-blind (zero pairs).
    * A 100 TB deployment therefore tunes this with the corpus (roughly:
    * cap ≥ expected copies-per-document × the single-corpus default) or
    * routes mass-duplicated corpora through the MinHash band path, which
    * needs no df statistics; [[dedupNgramCensus]]'s `capped_ppm`/`advice`
    * row is the signal for when. Read at FIRST BUILD per (session,
    * corpus) — the pair table and census are once-per-corpus memos, so a
    * mid-session change needs `CorpusMemo.invalidate` to take effect. */
  private[graft] def maxShingleDf(s: SparkSession): Long =
    s.conf.getOption("spark.graft.ngram.dfCap").map(_.toLong).getOrElse(100L)

  /** Shared candidate-pair statistics (doc_a, doc_b, common, sz_a, sz_b),
    * materialized ONCE per (session, corpus) and read by every pairwise
    * scorer — Jaccard, containment, the cluster table, the corpus filter
    * and the composed curation chain — exactly as a production pipeline
    * materializes its pair table once per corpus snapshot.
    *
    * One pass builds (doc_id, h) with the int64 shingle hash computed as a
    * codegen'd top-level projection (polyHash inside a higher-order-
    * function lambda would run interpreted — measured 2× slower than the
    * whole query). One shuffle groups the doc-set per hash (collect_set =
    * exact DISTINCT semantics, merged map-side); that single aggregate
    * then feeds BOTH the pair explosion (bounded by the df ≤ 100 stop-
    * shingle cap, so candidate volume grows linearly with the corpus) AND
    * the exact per-doc set sizes (re-explode + count), sharing its
    * exchange. No raw shingle string crosses the wire. The oracle hashes
    * shingles identically, so the rare hash collisions are reproduced
    * bit-for-bit on both sides. */
  private def pairStats(s: SparkSession, dir: String): DataFrame =
    pairCache(s, dir) {
      val ps = computePairStats(s, dir).stable
      // SELF-FLAG at the build, not only in the separate census query
      // (round 16, VERDICT r15 #3): a df-saturated corpus silently
      // empties the pair table — a data-quality incident no downstream
      // row carries. Every shingle-blocking consumer passes through
      // this memo build exactly once per (session, corpus), so this is
      // the one place the measurement reaches every run that needs it.
      // Try-wrapped: the observation is telemetry — a failure in the
      // census pass must degrade to a missing observation, never fail
      // the pair build that already succeeded (round-16 review).
      scala.util.Try(publishCapObservation(s, dir)).failed.foreach(e =>
        System.err.println(
          s"[graft][WARN] df-cap observation failed on $dir " +
            s"(dedup results unaffected): ${e.getMessage}"))
      ps
    }

  private val pairCache = CorpusMemo[DataFrame]()

  private def computePairStats(s: SparkSession, dir: String): DataFrame =
    // fed from the memoized distinct-shingle frame (r14): collect_set
    // dedup'd the per-occurrence h stream anyway, so distinct input is
    // value-identical — and the scan is shared, not re-tokenized
    pairStatsOf(hashedShingles(s, dir)
      .select(col("doc_id"), col("h1").as("h")), maxShingleDf(s))

  /** Blocking core over a (doc_id, h) shingle-hash table, exposed for the
    * recall spec: the df cap is a RECALL knob calibrated to corpus scale
    * (the honest-100× probe measured the default cap going recall-blind
    * when every shingle's df inflates 100× under verbatim duplication —
    * SURVEY §9); deployments growing the corpus must grow the cap with it
    * or route mass duplication through the MinHash band path, which
    * needs no df statistics. */
  private[graft] def pairStatsOf(ex: DataFrame, dfCap: Long): DataFrame = {
    val byShingle = ex.groupBy("h")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
    val sizes = byShingle
      .select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pairs = byShingle
      .filter(size(col("ds")).between(2, dfCap))
      .select(explode(flatten(transform(col("ds"), (a, i) =>
          transform(slice(col("ds"), i + 2, size(col("ds"))),
            b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .select("doc_a", "doc_b", "common", "sz_a", "sz_b")
  }

  /** Memoized 1-row (n_keys, n_multi, n_capped) aggregate over the
    * shared shingle frame — read by [[dedupNgramCensus]] (which
    * documents the full census row it feeds) AND by the pair-memo
    * build's self-flag ([[publishCapObservation]]), so a session pays
    * the pass once whichever consumer runs first. One aggregate pass
    * over the memoized [[hashedShingles]] frame (groupBy int64 h,
    * countDistinct doc — re-reads a checkpoint, not the corpus). Stays
    * SEPARATE from the pair build on purpose: sharing would require
    * materializing the per-hash doc-set table ([[pairStatsOf]]'s
    * collect_set aggregate — shingle-corpus-sized), which costs far
    * more storage than re-aggregating the memo with the lighter
    * countDistinct. */
  private def censusStats(s: SparkSession, dir: String): DataFrame =
    censusCache(s, dir) {
      hashedShingles(s, dir)
        .select(col("doc_id"), col("h1").as("h"))
        .groupBy("h").agg(countDistinct(col("doc_id")).as("ndocs"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_multi"),
          sum(when(col("ndocs") > maxShingleDf(s), 1L).otherwise(0L))
            .as("n_capped"))
        .stable
    }

  /** Conf key the pair-memo build publishes its measured capped
    * fraction to (integer ppm of pairable shingle keys dropped by the
    * stop-shingle cap): the machine-readable form of the census's
    * `capped_ppm`, set on EVERY session that builds the pair memo so a
    * deployment can gate on it without scheduling the census query. */
  private[graft] val CapObservedConf = "spark.graft.ngram.observedCappedPpm"

  /** Measure the df-cap's dropped fraction and surface it: one collect
    * of the memoized 1-row [[censusStats]] aggregate (metadata-bounded —
    * a single row crosses the driver), published as [[CapObservedConf]],
    * plus a LOUD log warning past [[CensusAdvisoryPpm]] naming the
    * remediation — the silent-0-recall failure mode (SURVEY §9's
    * honest-100× probe: every shingle's df inflated past the cap and
    * `q_dedup_ngram` found 0 pairs in 57 s with no signal anywhere)
    * now self-reports on the run that hits it. */
  private def publishCapObservation(s: SparkSession, dir: String): Unit = {
    val r = censusStats(s, dir).collect()(0)
    val nMulti = r.getAs[Long]("n_multi")
    val nCapped = r.getAs[Long]("n_capped")
    val ppm = if (nMulti > 0) nCapped * 1000000L / nMulti else 0L
    s.conf.set(CapObservedConf, ppm.toString)
    if (ppm > CensusAdvisoryPpm) {
      val msg =
        s"dedup shingle blocking is recall-impaired on $dir: the " +
          s"stop-shingle cap (df <= ${maxShingleDf(s)}) dropped $ppm ppm " +
          s"of pairable shingle keys ($nCapped of $nMulti) — raise " +
          "spark.graft.ngram.dfCap with corpus duplication or route " +
          "this corpus through the MinHash band path " +
          "(q_dedup_minhash); see q_dedup_ngram_census"
      org.slf4j.LoggerFactory.getLogger("graft.Pipeline").warn(msg)
      // ALSO stderr: a data-quality incident must survive quiet log
      // configs (sessions commonly run setLogLevel("ERROR"), which
      // raises the ROOT level and would swallow exactly this warning
      // on exactly the mass-duplicated probe runs that need it)
      System.err.println(s"[graft][WARN] $msg")
    }
  }

  /** The df-cap's self-report: a 1-row census of how much pairable
    * shingle mass the stop-shingle cap DROPPED — `n_keys` distinct
    * shingle hashes, `n_multi` of them pairable (df ≥ 2), `n_capped`
    * dropped by the df > [[maxShingleDf]] cap, `capped_ppm` the dropped
    * fraction of pairable keys in ppm, and `n_pairs` the pair rows
    * [[dedupNgram]] actually emitted. The honest-100× probe (SURVEY §9)
    * showed the fixed cap going recall-BLIND under mass duplication —
    * every shingle's df inflates past the cap and the pair table silently
    * empties. This census is how a production run SEES that blindness:
    * `capped_ppm` spiking while `n_pairs` collapses is the signal to
    * raise the cap or route the corpus through the MinHash band path.
    * Emitted as its own 1-row query (not a column on the pair rows)
    * precisely because the blindness scenario is ZERO pair rows — a
    * column on an empty table reports nothing. (Since round 16 the
    * pair-memo build additionally publishes the measured fraction as
    * [[CapObservedConf]] + a loud warning, so even an UNSCHEDULED
    * census can't leave the cliff silent.)
    *
    * Scale shape: the memoized [[censusStats]] aggregate + a 1-row
    * count of the memoized pair table; both 1-row sides crossJoin by
    * broadcast. */
  def dedupNgramCensus(s: SparkSession, dir: String): DataFrame = {
    val census = censusStats(s, dir)
    val nPairs = ngramJaccard(s, dir).agg(count(lit(1)).as("n_pairs"))
    // ADVISORY (round 11): the census no longer just reports the dropped
    // mass — past a pinned threshold it NAMES the remediation. When more
    // than [[CensusAdvisoryPpm]] of the pairable keys were capped, the
    // blocking path is recall-blind for this corpus (the 100× clone
    // probe measured 992,393 ppm with ZERO pairs emitted) and the row
    // says `use_minhash`: the banded LSH path's recall is duplication-
    // INdependent, so it is the correct route for mass-duplicated
    // corpora. The threshold is a pinned literal the DuckDB oracle
    // replays, keeping the query hash-gated.
    val cappedPpm = when(col("n_multi") > 0,
        col("n_capped").cast("double") * 1000000.0 /
          col("n_multi").cast("double"))
      .otherwise(lit(0.0))
    census.crossJoin(broadcast(nPairs))
      .select(col("n_keys"), col("n_multi"), col("n_capped"),
        cappedPpm.as("capped_ppm"),
        col("n_pairs"),
        when(cappedPpm > CensusAdvisoryPpm.toDouble, lit("use_minhash"))
          .otherwise(lit("ok")).as("advice"))
  }

  /** Capped-fraction threshold (ppm) past which [[dedupNgramCensus]]
    * advises routing the corpus through the MinHash path: 10% of the
    * pairable keys dropped is far past any healthy corpus (the fixtures
    * sit at 0; the 100× clone stress at 992,393). */
  private val CensusAdvisoryPpm = 100000L

  private val censusCache = CorpusMemo[DataFrame]()

  /** Near-dup detection via exact n-gram Jaccard with shared-shingle
    * blocking: docs pair only if they share a (non-stop) shingle; Jaccard
    * computed from exact distinct-set sizes over the shared [[pairStats]]
    * table. Threshold 0.2 (fixture corpus is random text; real near-dups
    * would sit ≫ 0.8). The cap's dropped-mass self-report is
    * [[dedupNgramCensus]]. */
  def dedupNgram(s: SparkSession, dir: String): DataFrame =
    ngramJaccard(s, dir).orderBy("doc_a", "doc_b")

  /** [[dedupNgram]] without the presentation sort — the form every
    * INTERNAL consumer (census, clusters, funnel, the PR sweep's truth
    * leg) reads: an interior Sort under an aggregate/Generate is not
    * always pruned by the optimizer, and its range exchange re-executes
    * the child for boundary sampling (round 17). */
  private[graft] def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    pairStats(s, dir)
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.2)

  /** Containment near-dup (quotation detection): pairs scored by the
    * OVERLAP COEFFICIENT |A∩B| / min(|A|,|B|) instead of Jaccard — the
    * metric that catches a short document embedded verbatim in a longer
    * one, where Jaccard stays low because the union is dominated by the
    * long side. One narrow projection over the shared [[pairStats]]
    * table, one exact division, threshold 0.6. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    pairStats(s, dir)
      .select(col("doc_a"), col("doc_b"), col("common"),
        (col("common").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double")).as("overlap"))
      .filter(col("overlap") >= 0.6)
      .orderBy("doc_a", "doc_b")

  private[operators] val MinhashPerms = 64
  private val MinhashBandRows = 4 // 16 bands × 4 rows

  /** MinHash + LSH near-duplicate candidates, verified by exact Jaccard.
    *
    * Pipeline: shingle → two portable polynomial hashes per shingle → one
    * shuffle collecting each doc's shingle hashes → 64 permutation minima
    * computed in a single pass via nested array `transform` (perm i uses
    * h1 + i·h2 mod 2³¹−1) → signatures cut into 16 bands of 4 → docs
    * sharing any (band, band-signature) become candidates → candidates are
    * re-verified with exact Jaccard over their shingle sets.
    *
    * Precision is exact (verification step); recall is the standard LSH
    * probability 1-(1-s⁴)¹⁶ — and because the permutations are
    * deterministic the DuckDB oracle reproduces candidates AND Jaccard
    * bit-for-bit (hash-checked). At 100 TB the candidate generation is an
    * equi-join on (band, key) — linear shuffle, never an O(n²) cross
    * product. */
  /** The LSH band table (doc_id, sz, b, key): each doc's 64 permutation
    * minima cut into 16 bands of 4, one row per band, plus the doc's
    * distinct-shingle count. One corpus-keyed aggregation computes all 64
    * minima AND the size in a single pass (fully codegen'd, map-side
    * partial, no per-doc array buffering — the shape that scales, unlike
    * collect_list + interpreted per-element lambdas); band keys are
    * assembled straight from the wide m0..m63 aggregate columns with
    * concat_ws (codegen'd). Shared by [[dedupMinhash]] (self-join) and
    * [[dedupIncremental]] (index-vs-snapshot join). Deliberately NOT
    * persisted — the shingle subtree is cheap codegen'd recompute; caching
    * it measured 3× slower (cache fill + serialization on the critical
    * path). */
  /** Wide signature table (doc_id, m0..m63, sz): the 64 permutation
    * minima plus the distinct-shingle count from ONE corpus-keyed
    * aggregation. Shared by [[minhashBands]] (which cuts it into LSH band
    * keys), [[minhashError]] (raw signature comparison), and
    * [[Selection.sourceSimilarity]] (per-source min-merge) — four
    * declared queries ride this subtree, so it is materialized once per
    * (session, corpus) like the near-dup pair table: one row per doc,
    * fixed width, exactly the signature table a production pipeline
    * persists next to its corpus snapshot. (Earlier rounds measured
    * `.cache()` of the DOWNSTREAM band fan-out as a 3× loss for a single
    * query; the memo here is the narrow upstream aggregate, amortized
    * across four consumers.) */
  private val sigsCache = CorpusMemo[DataFrame]()

  private[graft] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    sigsCache(s, dir) {
      s.conf.getOption("spark.graft.minhash.sigsPath") match {
        // PERSISTED-INDEX path (`spark.graft.minhash.sigsPath`, set per
        // corpus run): production keeps the signature table NEXT TO the
        // corpus snapshot rather than rebuilding it per session — the
        // admit/ingest 100× probes are otherwise dominated by re-deriving
        // a static index that never changes. First use computes and
        // writes it once (same plan as the in-session memo); every later
        // session — or a restarted probe — reads the parquet back, so
        // steady-state cost is ∝ the increment, not the corpus.
        // The store is [[graft.util.GenStore]]: the index is valid only
        // if its generation is committed AND its own corpus fingerprint
        // (dir + doc count + max doc_id) matches the live corpus, so a
        // crashed build, a corpus that has GROWN since the index was
        // written (the 100× ingest case) or another corpus dir reusing
        // the same sigsPath rebuilds instead of serving stale rows.
        case Some(p) =>
          val live =
            try Some(corpusFingerprint(s, dir))
            catch { case _: Exception => None }
          val gen = live match {
            case Some(fp) =>
              GenStore.resolveOrBuild(s, p, fp, Seq("sigs")) { tmp =>
                computeMinhashSigs(s, dir).write.parquet(s"$tmp/sigs")
              }
            // ARCHIVED corpus: it can no longer be fingerprinted (the
            // index outliving its snapshot is the point of persisting
            // it), so validity degrades to a committed generation built
            // from this corpus DIR — still refusing another corpus's
            // index; growth is moot for an unreadable corpus
            case None =>
              GenStore.resolve(s, p, Seq("sigs"))(_.startsWith(fingerprintPrefix(dir)))
                .getOrElse(throw new IllegalStateException(
                  s"minhash index at $p is invalid and the corpus at $dir " +
                    "is unreadable: nothing to rebuild from"))
          }
          s.read.parquet(s"$gen/sigs")
        case None => computeMinhashSigs(s, dir).stable
      }
    }

  /** Cheap identity of the corpus a persisted index was built from:
    * source dir + doc count + max doc_id (parquet column stats make the
    * aggregate near-free). Deliberately NOT a content hash — the index
    * guards against the lifecycle hazards (growth, dir reuse, partial
    * write), not adversarial in-place edits of existing rows, which the
    * fixtures' immutable-snapshot discipline rules out. */
  private def corpusFingerprint(s: SparkSession, dir: String): String = {
    val r = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("m")).head()
    val mx = if (r.isNullAt(1)) -1L else r.getLong(1)
    s"${fingerprintPrefix(dir)}n=${r.getLong(0)}|max=$mx"
  }

  private def fingerprintPrefix(dir: String): String = s"graft-minhash-v1|$dir|"

  private def computeMinhashSigs(s: SparkSession, dir: String): DataFrame = {
    val hashed = hashedShingles(s, dir)
    val permCols = (0 until MinhashPerms).map(i =>
      min(pmod(col("h1") + lit(i.toLong) * col("h2"), lit(2147483647L))).as(s"m$i"))
    // the per-doc shingle count (denominator of the Jaccard verification)
    // rides the SAME aggregation as the 64 minima — one corpus shuffle
    // serves signatures and sizes, and no standalone sizes aggregation (a
    // second corpus scan + doc-keyed exchange) exists anywhere in a
    // consumer's plan.
    hashed.groupBy("doc_id")
      .agg(permCols.head, (permCols.tail :+ count(lit(1)).as("sz")): _*)
  }

  private[graft] def minhashBands(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSigs(s, dir)
    val nBands = MinhashPerms / MinhashBandRows
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("b"),
        concat_ws(",", (0 until MinhashBandRows).map(r =>
          col(s"m${b * MinhashBandRows + r}").cast("string")): _*).as("key"))
    }
    sigs.select(col("doc_id"), col("sz"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("sz"), col("bk.b").as("b"), col("bk.key").as("key"))
  }

  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir).orderBy("doc_a", "doc_b")

  // the verified LSH pair table is the corpus's minhash decision table —
  // the SAME per-(session, dir) investment discipline as the ngram pair
  // table at [[pairCache]] (round 17): it is consumed whole by
  // q_dedup_minhash, re-read by q_minhash_error's estimator join, and
  // scanned TWICE by q_lsh_pr_sweep's precision/recall legs — without the
  // memo each consumer re-ran the band self-join + candidate-restricted
  // exact verify end to end (and, worse, through dedupMinhash's
  // presentation sort). Tiny like the ngram table (one row per candidate
  // pair).
  private val mhPairCache = CorpusMemo[DataFrame]()

  private[graft] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    mhPairCache(s, dir) {
      val sh = shingles(s, dir)
      val bands = minhashBands(s, dir)
      val cand = bands.select(col("b"), col("key"),
          col("doc_id").as("doc_a"), col("sz").as("sz_a"))
        .join(bands.select(col("b"), col("key"),
          col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("b", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sz_a", "sz_b").distinct()
      // exact-Jaccard verification restricted to candidate docs only.
      // No broadcast hints here: the candidate set is corpus-linear, so a
      // forced broadcast would ship a multi-GB table to the driver and every
      // executor at 100×. AQE still picks a broadcast join at runtime when
      // the measured candidate table is small; otherwise these stay safe
      // shuffled (semi-)joins.
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b"))).distinct()
      val shc = sh.join(candDocs, Seq("doc_id"), "left_semi")
      val common = shc.select(col("sh"), col("doc_id").as("doc_a"))
        .join(shc.select(col("sh"), col("doc_id").as("doc_b")), "sh")
        .filter(col("doc_a") < col("doc_b"))
        .join(cand.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_semi")
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      cand.join(common, Seq("doc_a", "doc_b"), "left")
        .select(col("doc_a"), col("doc_b"),
          (coalesce(col("common"), lit(0L)).cast("double") /
            (col("sz_a") + col("sz_b") - coalesce(col("common"), lit(0L))).cast("double")).as("jaccard"))
        .stable
    }

  /** INCREMENTAL near-dup detection — the production form of minhash
    * dedup: a crawl pipeline doesn't re-pair the whole corpus per
    * snapshot, it keeps the LSH band table of the already-accepted corpus
    * as a persistent INDEX and probes only the new snapshot's bands
    * against it. Modeled here by a deterministic snapshot split (docs
    * with doc_id ≡ 3 mod 4 are "new", the rest are the index): each new
    * doc reports how many distinct index docs it collides with in any
    * band and its earliest such index match — the accept/reject signal an
    * incremental ingest emits per new document.
    *
    * Scale shape: both sides derive from [[minhashBands]] with the
    * snapshot predicate pushed below the signature aggregation (filter on
    * the grouping key), so the index side hashes index docs and the probe
    * side hashes ONLY the new slice — at 100 TB the index band table is
    * read back from storage rather than recomputed, and the per-increment
    * cost is proportional to the increment, not the corpus. The collision
    * join is the same linear (b, key) equi-join as [[dedupMinhash]];
    * per-new-doc aggregation is keyed by doc_id, never an occurrence
    * list. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(s, dir)
    val index = bands.filter(pmod(col("doc_id"), lit(4L)) =!= 3L)
      .select(col("b"), col("key"), col("doc_id").as("index_doc"))
    val probe = bands.filter(pmod(col("doc_id"), lit(4L)) === 3L)
      .select(col("b"), col("key"), col("doc_id"))
    probe.join(index, Seq("b", "key"))
      .groupBy("doc_id")
      .agg(countDistinct(col("index_doc")).as("n_index_matches"),
        min(col("index_doc")).as("first_match"))
      .orderBy("doc_id")
  }

  /** Estimator-quality evaluation for the minhash sketch: for every LSH
    * candidate pair, the signature-agreement estimate of Jaccard (the
    * fraction of the 64 permutation minima the two docs share — the
    * unbiased MinHash estimator) side by side with the exact Jaccard from
    * the shingle sets, plus the absolute error. This is the eval-layer
    * twin of [[dedupMinhash]]: a pipeline tuning its band/row geometry
    * reads exactly this table to decide whether 64 permutations are
    * enough at its similarity threshold (the reference's wc/indexer tests
    * check outputs against a sequential oracle the same way,
    * `/root/reference/src/main/test-mr.sh:60-90`).
    *
    * Scale shape: the pair table is LSH-candidate-sized (linear, see
    * [[dedupMinhash]]); each side joins its 64-int signature array — a
    * fixed-width payload — by doc_id, and the agreement count is a
    * codegen'd `zip_with`+`aggregate` over the two arrays, no
    * re-hashing of shingles. All arithmetic is exact (int agreement
    * count / 64 and one IEEE subtraction), so the full table
    * hash-matches the oracle with no rounding. */
  def minhashError(s: SparkSession, dir: String): DataFrame = {
    val jc = minhashPairs(s, dir)
    // per-permutation agreement as a FLAT codegen sum (round 17): the
    // old zip_with+aggregate pair is a higher-order function whose
    // lambda evaluates interpreted per element (the SNIPPETS.md HOF
    // lesson); 64 inline column equalities whole-stage-compile and sum
    // to the identical integer. Joined off the memoized signature and
    // pair tables, so nothing here re-reads the corpus.
    val agree = (0 until MinhashPerms).map(i =>
      when(col(s"ma$i") === col(s"mb$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sigs = minhashSigs(s, dir)
    def side(suffix: String): DataFrame =
      sigs.select(col("doc_id").as(s"doc_$suffix") +:
        (0 until MinhashPerms).map(i => col(s"m$i").as(s"m$suffix$i")): _*)
    jc.join(side("a"), "doc_a")
      .join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), agree.as("n_agree"),
        col("jaccard"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        (col("n_agree").cast("double") / lit(64.0)).as("jaccard_est"),
        col("jaccard"),
        abs(col("n_agree").cast("double") / lit(64.0) - col("jaccard")).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over the near-dup pair graph: every doc in a
    * pair gets the minimum doc_id of its component as `cluster_id` — the
    * canonicalization step that turns pairwise near-dup hits into "keep
    * one per group" decisions. Min-label propagation run TO CONVERGENCE
    * (GraphX-Pregel style: one superstep + one changed-label count per
    * round, each over the tiny materialized pair graph), so a component of
    * any diameter labels correctly — no fixed round count to outgrow on a
    * corpus with longer near-dup chains. The spec cross-checks against an
    * exact union-find and a synthetic diameter-6 chain; the oracle
    * computes the true transitive closure. */
  // the cluster table is the corpus's dedup decision table — computed once
  // per (session, dir) and reused by dedupApply / curationPipeline, the way
  // a production pipeline materializes it once per corpus snapshot. The
  // table is tiny (one row per doc that appears in any near-dup pair).
  private val clustersCache = CorpusMemo[DataFrame]()

  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersCache(s, dir)(computeClusters(s, dir).stable).orderBy("doc_id")

  private def computeClusters(s: SparkSession, dir: String): DataFrame =
    minLabelComponents(ngramJaccard(s, dir).select(col("doc_a"), col("doc_b")))

  /** Min-label propagation to convergence over an undirected pair graph
    * (two Long columns: endpoints of each edge). Returns one row per
    * vertex: (doc_id, cluster_id = min vertex id of its component).
    *
    * The first `floorRounds` supersteps (push labels across edges, keep
    * the min per vertex) run as pure lineage — one plan, one
    * materialization. After that each round materializes and counts
    * changed labels (a join-free filter over the label table, which has
    * one row per vertex appearing in any pair, NOT per corpus row),
    * stopping the first round nothing improves; min-label propagation
    * needs at most `diameter` improving rounds, and `maxRounds` only
    * guards against a pathological non-terminating plan, not correctness.
    *
    * Both the edge list and each round's labels are localCheckpoint'ed:
    * without it every round replays the full upstream candidate pipeline
    * through its lineage (measured 10× slower) and the plan tree doubles
    * per round. This is the standard iterative-graph pattern (GraphX
    * materializes per superstep the same way). */
  def minLabelComponents(pairs: DataFrame, floorRounds: Int = 4,
                         maxRounds: Int = 64,
                         contractParts: Option[Int] = None): DataFrame = {
    val Array(a, b) = pairs.columns
    // LOCAL CONTRACTION before any superstep: each partition runs an
    // in-memory union-find over its own edges and emits one (v, local
    // root = min id of v's local component) pair per vertex incidence —
    // the per-partition spanning FOREST. Connectivity is preserved (two
    // vertices locally connected share a root edge; cross-partition
    // connectivity survives because a vertex appearing in two partitions
    // links both its roots), but every superstep below now scans forest
    // pairs (≤ distinct vertex incidences, bounded by V × partitions)
    // instead of the raw edge list — on a dense graph that is the E → V·P
    // collapse that keeps 100 TB supersteps affordable, and the imperative
    // union-find is exactly the bounded per-partition state mapPartitions
    // is for. The pre-contraction repartition is ROUND-ROBIN, not keyed:
    // keying on src would land every edge of a high-degree hub (and a
    // parent map ∝ its degree) in one task — an OOM on skewed graphs —
    // while round-robin bounds per-task edges (hence union-find memory)
    // by E / partitions regardless of degree distribution. Contraction is
    // correct under ANY partitioning (cross-partition connectivity
    // survives via shared vertices linking their local roots), it only
    // trades a little collapse ratio for skew immunity.
    // Both edge directions are emitted here so the contracted table needs
    // no second union pass; self-pairs keep isolated-self-edge vertices
    // visible to the label init below.
    // `contractParts` (round 16): per-task union-find memory grows with
    // edges-per-partition, so the partition count must GROW with the
    // edge list — at the honest-100× corpus the session default (32)
    // put ~7.5 M directed edges through each task's parent map (one
    // probe session OOM'd, the rerun passed — a coin flip, not a
    // memory model; the boxed-HashMap era cost ~110 B/entry, and even
    // the primitive map below wants a real bound).
    // Callers that know the edge table's size pass a heap-keyed count
    // ([[graft.operators.Graph.unionFindPartitions]]); None keeps the
    // session default (test SFs, the doc near-dup graph). Wider
    // contraction trades collapse ratio for a deterministic bound —
    // correctness holds under ANY partitioning (see above).
    val raw = pairs.union(pairs.select(col(b), col(a)))
      .toDF("src", "dst")
      .repartition(contractParts.getOrElse(
        pairs.sparkSession.sessionState.conf.numShufflePartitions))
    val contractedPairs = {
      import org.apache.spark.sql.Encoders
      raw.select(col("src").cast("long"), col("dst").cast("long"))
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .mapPartitions { it =>
          // primitive open-addressing parent table + STREAMED output
          // (round 16): the boxed java.util.HashMap cost ~100 B/entry
          // and the buffered ArrayBuffer another ~100 B/pair — at the
          // honest-100× corpus that was ~250 MB/task × 32 concurrent,
          // an OOM even after the width fix. The flat-array map is
          // ~24 B/entry and the output iterator materializes nothing;
          // per-task peak is now the parent table alone.
          val parent = new graft.util.LongLongMap(1 << 12)
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (c != r) { val n = parent.getOrElse(c, c); parent.put(c, r); c = n }
            r
          }
          def add(x: Long): Unit =
            if (!parent.contains(x)) parent.put(x, x)
          it.foreach { case (x, y) =>
            add(x); add(y)
            val rx = find(x); val ry = find(y)
            if (rx != ry) {
              if (rx < ry) parent.put(ry, rx) else parent.put(rx, ry)
            }
          }
          // no NEW keys are inserted below (find only path-compresses
          // existing ones), so the snapshot iteration is stable
          parent.keysSnapshot.flatMap { v =>
            val r = find(v)
            if (r == v) Iterator.single((v, r)) else Iterator((v, r), (r, v))
          }
        }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .toDF("src", "dst")
    }
    // hash-partition the contracted table on src BEFORE materializing it:
    // every superstep joins on src, and the label table arrives from its
    // groupBy(v) already hash-partitioned on the same key, so the join
    // itself never exchanges either side — each round's only shuffle is
    // the groupBy(v) over the pushed labels. LogicalRDD keeps the
    // checkpoint's output partitioning, so the planner reuses it per round.
    val edges = contractedPairs
      .repartition(col("src"))
      .stable
    def superstep(labels: DataFrame): DataFrame = {
      val viaEdges = edges.join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), col("lbl"))
      labels.select(col("v"), col("lbl")).union(viaEdges)
        .groupBy("v").agg(min(col("lbl")).as("lbl"))
    }
    // fast path: the first `floorRounds` supersteps run as pure lineage —
    // one plan, one materialization, no per-round actions — which is the
    // whole cost at typical near-dup diameters (≤ 3 on every fixture SF)
    var labels = (1 to floorRounds).foldLeft(
      edges.select(col("src").as("v")).distinct().withColumn("lbl", col("v"))
    )((l, _) => superstep(l)).stable
    // convergence phase: each round carries the previous label alongside
    // (min(old) over the self-row only), so detecting "any label improved"
    // is a join-free filter+count on the just-materialized table
    var changed = 1L
    var round = floorRounds
    while (changed > 0 && round < maxRounds) {
      round += 1
      val self = labels.select(col("v"), col("lbl"), col("lbl").as("old"))
      val via = edges.join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), col("lbl"), lit(null).cast("long").as("old"))
      val pushed = self.union(via).groupBy("v")
        .agg(min(col("lbl")).as("lbl"), min(col("old")).as("old"))
      // pointer-jumping shortcut: a label is itself a vertex id, so after
      // the push each vertex also adopts its label's PREVIOUS label —
      // min(lbl, L(lbl)) — turning chains into stars geometrically and
      // cutting convergence from O(eccentricity) pushes to O(log) rounds
      // (the Shiloach–Vishkin / large-star idea). The lookup joins the
      // vertex-sized PREVIOUS label table (already materialized — no
      // double-evaluation of `pushed`), left outer because nothing
      // guarantees a label id has edge rows of its own in `labels`' key
      // set beyond construction; the fixpoint argument is unchanged: when
      // a full push+shortcut round improves nothing, in particular the
      // push improved nothing, which already implies labels are constant
      // per component at the component minimum.
      val next = pushed
        .join(labels.select(col("lbl").as("jump"), col("v").as("lbl")),
          Seq("lbl"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("jump"), col("lbl"))).as("lbl"),
          col("old"))
        .stable
      changed = next.filter(col("lbl") < col("old")).count()
      labels = next.select(col("v"), col("lbl"))
    }
    // the cap guards a runaway plan, NOT correctness: exiting while labels
    // were still improving would silently return non-minimal cluster ids
    // (and dedupApply would under-drop), so that exit must be loud
    require(changed == 0,
      s"label propagation hit the $maxRounds-round cap before convergence " +
      s"($changed labels still improving) — raise maxRounds for this graph")
    labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Apply the dedup decisions: drop every non-canonical cluster member
    * (keep the minimum doc_id per near-dup component) and report the kept
    * corpus per language — the step that turns pair detection into an
    * actual training-set filter. Left-anti join against the drop list —
    * NO broadcast hint: the drop list is linear in duplicate mass, so a
    * forced broadcast would ship a multi-GB id table to the driver and
    * every executor at 100 TB. AQE still broadcasts when the measured
    * table is small; otherwise a shuffled anti-join on doc_id is safe at
    * any scale. */
  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    val drop = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    Tables.documents(s, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  /** Quality-aware canonical selection — per near-dup cluster, keep the
    * HIGHEST-[[qualityScore]] member (ties broken by min doc_id) instead
    * of [[dedupApply]]'s min-id rule, and report per cluster whether the
    * two rules disagree. This is what production curation actually does:
    * when near-duplicates differ (truncation, boilerplate wrap), the
    * pipeline keeps the best copy, not the numerically-first crawl.
    *
    * Determinism: the score domain is exact quarters (0, .25, …, 1), the
    * argmax is max(struct(score, −doc_id)) ≡ the oracle's row_number
    * ordered by (score DESC, doc_id), and the reported score is an exact
    * integer percentage.
    *
    * Scale shape: rides the memoized cluster table (tiny — clustered
    * docs only); the score attach is one doc_id equi-join against the
    * narrow per-doc score projection (AQE broadcasts the cluster side);
    * the argmax is a map-side-combinable struct-max per cluster. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
    val scores = qualityScores(s, dir).select(col("doc_id"), col("score"))
    clusters.join(scores, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.nid")).as("kept_doc"),
        (col("best.score") * 100).cast("long").as("kept_score_pct"),
        (col("cluster_id") =!= -col("best.nid")).as("changed"))
      .orderBy("cluster_id")
  }

  /** Dedup-funnel audit: the stage-by-stage survivor census of the dedup
    * pipeline — raw corpus → exact (content-hash) dedup → near-dup
    * cluster collapse — the dashboard table a curation team reads to see
    * where documents go and whether a stage suddenly starts eating the
    * corpus (a regression signal the per-stage queries can't show
    * individually). Stages apply sequentially: near-dup removal counts
    * only exact-dedup survivors (the canonical doc per content hash), so
    * `n_docs` is monotone non-increasing down the table by construction.
    *
    * Scale shape: one corpus scan feeds a global count+distinct; the
    * stage-2 census joins the (hash-group canonical) keep table against
    * the near-dup drop list as a plain shuffled join (the drop list is
    * duplicate-mass-linear — no broadcast hint; AQE broadcasts it only
    * when measured small, same discipline as [[dedupApply]]). The three
    * report rows come from exploding a literal
    * array over the single combined stats row — the only crossJoin is
    * two 1-row aggregates. */
  def dedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val totals = docs.agg(count(lit(1)).as("n_raw"),
      countDistinct(sha2(col("text"), 256)).as("n_exact"))
    val keeps = docs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val drop = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val ndRemoved = keeps.join(drop, Seq("doc_id"))
      .agg(count(lit(1)).as("n_nd"))
    totals.crossJoin(broadcast(ndRemoved))
      .select(explode(array(
        struct(lit(0L).as("stage"), lit("raw").as("name"),
          col("n_raw").as("n_docs"), lit(0L).as("n_removed")),
        struct(lit(1L).as("stage"), lit("exact").as("name"),
          col("n_exact").as("n_docs"),
          (col("n_raw") - col("n_exact")).as("n_removed")),
        struct(lit(2L).as("stage"), lit("neardup").as("name"),
          (col("n_exact") - col("n_nd")).as("n_docs"),
          col("n_nd").as("n_removed")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.name").as("name"),
        col("r.n_docs").as("n_docs"), col("r.n_removed").as("n_removed"))
      .orderBy("stage")
  }

  /** Document-level lineage for the dedup funnel: where [[dedupFunnel]]
    * reports per-stage COUNTS, this emits the per-document audit row an
    * operator actually debugs with — `(doc_id, dropped_by, canonical)`
    * where `dropped_by` ∈ {exact, neardup, kept} follows the funnel's
    * sequential semantics (a doc that is both an exact duplicate and a
    * near-dup cluster member is charged to the FIRST stage that dropped
    * it) and `canonical` is the surviving representative: the min-id
    * content-hash twin for exact drops, the cluster canonical for
    * near-dup drops, the doc itself when kept.
    *
    * Scale shape: one sha256-keyed aggregate (32-byte digests shuffle,
    * never text) joined back on the digest, then one doc_id left join
    * against the memoized (tiny) cluster drop table — all linear, no
    * broadcast hints (AQE decides). */
  def dedupLineage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val canon = docs.groupBy("h").agg(min(col("doc_id")).as("canon"))
    val exact = docs.join(canon, "h").select("doc_id", "canon")
    val drop = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
    exact.join(drop, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("canon"), lit("exact"))
          .when(col("cluster_id").isNotNull, lit("neardup"))
          .otherwise(lit("kept")).as("dropped_by"),
        when(col("doc_id") =!= col("canon"), col("canon"))
          .when(col("cluster_id").isNotNull, col("cluster_id"))
          .otherwise(col("doc_id")).as("canonical"))
      .orderBy("doc_id")
  }

  /** Snapshot diff census: content-hash CDC between two corpus snapshots
    * (modeled as deterministic doc_id slices: old = id ≢ 3, new = id ≢ 0
    * mod 4 — the same snapshot convention as [[dedupIncremental]]) —
    * per-language counts of added / removed / unchanged / changed
    * documents, the first table a pipeline consults before re-running
    * dedup on a new crawl (if `added` is tiny, the incremental path
    * suffices; if `changed` spikes, a source started rewriting content).
    *
    * Scale shape: one corpus scan hashed map-side, two slices
    * full-outer-joined on doc_id (one id-keyed exchange), collapsing
    * immediately to a |langs|×4 census — document text never moves,
    * only (id, lang, 32-byte hash). */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("h"))
    val old = docs.filter(col("doc_id") % 4 =!= 3)
      .select(col("doc_id"), col("lang").as("lang_old"), col("h").as("h_old"))
    val neu = docs.filter(col("doc_id") % 4 =!= 0)
      .select(col("doc_id"), col("lang").as("lang_new"), col("h").as("h_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(coalesce(col("lang_new"), col("lang_old")).as("lang"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy("lang", "status").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "status")
  }

  /** Distinct-n diversity census: per (language, n) for n ∈ {1,2,3}, the
    * total and distinct word n-gram counts and their ratio — the
    * standard text-diversity metric (low distinct-2/distinct-3 flags
    * templated or machine-generated text; the corpus-level complement of
    * [[repetitionFilter]]'s within-document dup share).
    *
    * Scale shape: the token stream is scanned once per n (cheap codegen
    * re-tokenize, same trade as the shingle consumers); grams collapse
    * to the portable int64 polyHash immediately after explode (the
    * shuffle carries (lang, n, int64), never gram text — hash collisions
    * are bit-reproduced by the oracle so counts stay exact on both
    * engines), then two map-side-combined keyed aggs: gram-keyed counts,
    * re-aggregated to the |langs|×3 census. */
  def ngramDiversity(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), Fns.words(col("text")).as("t"))
    // ONE tokenize pass (round 17): the old three-branch union scanned
    // and re-tokenized the corpus once per n — at 100 TB, three full
    // passes where one suffices (guide §1.2: remove unnecessary passes).
    // Each row now emits its 1/2/3-gram rows from a single tagged array
    // concat; the grouped counts (and so every output cell) are
    // integer-identical, union order never mattered to a groupBy.
    def gramsArr(n: Int) = {
      val structType = "array<struct<n:bigint,g:string>>"
      if (n == 1)
        transform(col("t"), g => struct(lit(1L).as("n"), g.as("g")))
          .cast(structType)
      else
        when(size(col("t")) >= n,
          transform(sequence(lit(0), size(col("t")) - n),
            i => struct(lit(n.toLong).as("n"),
              concat_ws(" ", (0 until n).map(k =>
                element_at(col("t"), i + k + 1)): _*).as("g"))))
          .otherwise(array().cast(structType)).cast(structType)
    }
    d.select(col("lang"),
        explode(concat(gramsArr(1), gramsArr(2), gramsArr(3))).as("x"))
      .select(col("lang"), col("x.n").as("n"), Fns.polyHash(col("x.g")).as("h"))
      .groupBy("lang", "n", "h").agg(count(lit(1)).as("c"))
      .groupBy("lang", "n")
      .agg(sum(col("c")).cast("long").as("n_total"), count(lit(1)).as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast("double") / col("n_total").cast("double"))
      .orderBy("lang", "n")
  }

  /** Leakage-safe train/val/test split: every document is assigned a
    * split by a deterministic hash of its near-dup cluster REPRESENTATIVE
    * (its component's min doc_id from [[dedupClusters]]; docs in no
    * near-dup pair represent themselves), so two near-duplicate documents
    * can never land on opposite sides of the train/eval boundary — the
    * split-time complement of [[decontamination]], which can only catch
    * leakage after the fact. Buckets: hash mod 100 → 80/10/10.
    *
    * Scale shape: the cluster table (one row per doc in any near-dup
    * pair — a small fraction of the corpus) left-joins the doc table by
    * id; the split decision is a scalar hash of the representative. One
    * linear join, no new corpus-keyed aggregation. The co-assignment
    * property is asserted in PipelineSpec over every cluster. */
  def leakageSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(dedupClusters(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep_id"))
      .withColumn("bucket", pmod(col("rep_id") * lit(2654435761L), lit(100L)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      .select("doc_id", "lang", "rep_id", "split")
      .orderBy("doc_id")

  /** Split-parity audit — are train and test drawn from the same
    * distribution AFTER the cluster-safe assignment? For each audited
    * dimension (language mix; fixed-width length buckets), the exact
    * total-variation distance between the train and test shares in ppm —
    * the check that catches a split whose leakage-safety accidentally
    * skewed it (whole near-dup clusters land on one side, so a big
    * boilerplate family can drag a language with it). The ML-pipeline
    * sibling of `q_drift_tvd`: that one audits time, this audits the
    * split axis; `q_leakage_split` guarantees safety, this measures the
    * price.
    *
    * Scale shape: rides [[leakageSplit]] (cluster table memoized), one
    * unpivoted (dimension, value, split) count collapses the corpus
    * map-side, and the TVD arithmetic runs over the ≤ |langs|+10 cell
    * table. */
  def splitParity(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(leakageSplit(s, dir).select(col("doc_id"), col("split")),
        Seq("doc_id"))
      .filter(col("split") =!= "val")
    val cells = joined.select(col("split"), explode(array(
        struct(lit("lang").as("dim"), col("lang").as("v")),
        struct(lit("len_bucket").as("dim"),
          least(lit(9L), expr("n_chars div 200")).cast("string").as("v"))))
        .as("e"))
      .select(col("split"), col("e.dim").as("dim"), col("e.v").as("v"))
      .groupBy("dim", "v", "split").agg(count(lit(1)).as("n"))
    val pivoted = cells.groupBy("dim", "v")
      .agg(sum(when(col("split") === "train", col("n")).otherwise(0L))
          .as("ntr"),
        sum(when(col("split") === "test", col("n")).otherwise(0L)).as("nte"))
    val totals = pivoted.groupBy("dim")
      .agg(sum(col("ntr")).as("ttr"), sum(col("nte")).as("tte"))
    pivoted.join(broadcast(totals), "dim")
      .withColumn("ptr", expr("ntr * 1000000L div ttr"))
      .withColumn("pte", expr("nte * 1000000L div tte"))
      .groupBy("dim")
      .agg(max(col("ttr")).as("n_train"), max(col("tte")).as("n_test"),
        expr("sum(abs(ptr - pte)) div 2").as("tvd_ppm"))
      .select(col("dim").as("dimension"), col("n_train"), col("n_test"),
        col("tvd_ppm"))
      .orderBy("dimension")
  }

  /** Syndication census: the near-dup pair table ([[dedupNgram]]) keyed
    * by the SOURCES of the two endpoints — how much near-duplicate
    * content is republished across sources versus duplicated within one
    * (the signal that separates wire-service syndication from
    * template/boilerplate reuse when deciding which domains to
    * de-prioritize in a crawl). Source pairs are order-normalized with
    * least/greatest so each unordered pair counts once.
    *
    * Scale shape: two id-keyed joins decorate the (linear) pair table
    * with sources, then one census aggregation keyed by source pair —
    * bounded by |sources|², never corpus-sized. */
  def syndication(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    ngramJaccard(s, dir).select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
      .orderBy("source_a", "source_b")
  }

  /** Balanced per-language subsample: the first 20 docs per language in
    * deterministic content-hash order — the mixture-balancing step of a
    * training-data pipeline, reproducible with no RNG. */
  def balancedSample(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(Fns.polyHash(col("text")), col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 20)
      .select(col("doc_id"), col("lang"), col("rnk"))
      .orderBy("lang", "rnk")
  }

  /** Deterministic corpus sampling: keep docs whose content hash lands in
    * the first 10 of 100 buckets — reproducible across runs and engines
    * (no RNG), the way a pipeline pins a held-out or A/B slice. */
  def hashSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(pmod(Fns.polyHash(col("text")), lit(100L)) < 10)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")

  /** Count–min sketch census: build a 4×1021 CM sketch of the token
    * stream (four independent affine hash rows over [[Fns.polyHash]]),
    * then report the sketch estimate next to the exact count for the
    * top-20 words — the overestimate column is the sketch's collision
    * error, by construction ≥ 0. Unlike the HLL/quantile sketches (whose
    * engine-internal layouts force rows-only checks), a CM sketch with
    * pinned hashes is fully deterministic, so the DuckDB oracle
    * hash-verifies the ESTIMATES themselves.
    *
    * Scale shape: the sketch is the point — cells are a fixed 4·1021-row
    * table no matter the corpus (the map-side partial agg collapses each
    * partition to ≤ 4084 cells before the shuffle), and CM cells are
    * linear, so per-shard sketches sum to the corpus sketch (the spec
    * asserts this mergeability). The top-20 probe side is a bounded
    * TakeOrdered; estimates come from a broadcast join against the tiny
    * cell table. */
  /** Per-token word counts of a documents slice (CM sketch input). */
  private[graft] def cmWcOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(Fns.words(col("text")))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  private val CmSeeds = Seq((31L, 7L), (37L, 11L), (41L, 13L), (43L, 17L))

  /** The four pinned affine hash rows of the CM sketch. */
  private def cmHashRows = array(CmSeeds.zipWithIndex.map { case ((a, b), i) =>
    struct(lit(i.toLong).as("i"),
      pmod(Fns.polyHash(col("word")) * lit(a) + lit(b), lit(1021L)).as("bkt"))
  }: _*)

  /** CM cell table (i, bkt, cell) of a word-count slice — linear in its
    * input, so per-shard cell tables sum to the corpus cell table
    * (asserted in `PipelineSpec`). */
  private[graft] def cmCellsOf(wc: DataFrame): DataFrame =
    wc.select(col("cnt"), explode(cmHashRows).as("h"))
      .groupBy(col("h.i").as("i"), col("h.bkt").as("bkt"))
      .agg(sum(col("cnt")).as("cell"))

  def countMin(s: SparkSession, dir: String): DataFrame = {
    val wc = cmWcOf(Tables.documents(s, dir))
    val cells = cmCellsOf(wc)
    val top = wc.orderBy(col("cnt").desc, col("word")).limit(20)
    top.select(col("word"), col("cnt"), explode(cmHashRows).as("h"))
      .join(broadcast(cells),
        col("h.i") === col("i") && col("h.bkt") === col("bkt"))
      .groupBy("word", "cnt")
      .agg(min(col("cell")).as("cm_est"))
      .select(col("word"), col("cnt").as("exact"), col("cm_est"),
        (col("cm_est") - col("cnt")).as("overestimate"))
      .orderBy(col("exact").desc, col("word"))
  }

  /** Rank function of the pinned HLL: 1 + trailing-zero count of the
    * hash suffix (h div 256), capped at 23 — P(rho ≥ k) = 2^−(k−1), the
    * Flajolet–Martin geometric observable. A 22-branch CASE chain, so
    * both engines evaluate the identical integer expression. */
  private def hllRho(suffix: Column): Column =
    (1 to 22).foldLeft(when(suffix === 0L, lit(23L))) { case (acc, i) =>
      acc.when(pmod(suffix, lit(1L << i)) === lit(1L << (i - 1)), lit(i.toLong))
    }.otherwise(lit(23L))

  /** The 3-token shingles of a documents frame, batch or streaming, one
    * per row in column `word` — the HLL census's input. */
  private[graft] def hllWords(docs: DataFrame): DataFrame =
    docs.select(Fns.words(col("text")).as("t"))
      .select(explode(Fns.trigramsArr(col("t"))).as("word"))

  /** The observed HLL registers (bucket → max rho, only the buckets some
    * word hit) of a string frame, batch or streaming — linear in its
    * input and max-mergeable (shard registers max-merge to the corpus
    * registers; asserted in `PipelineSpec`). The poly hash is scrambled
    * through an odd-multiplier affine map into 30 bits first: polyHash is
    * near-identity on short strings (a 1-letter token hashes below 256,
    * zeroing the rank suffix), and the odd multiplier is invertible mod
    * 2³⁰ so the scramble stays collision-free. */
  private[graft] def hllObserved(words: DataFrame): DataFrame =
    words
      .select(pmod(Fns.polyHash(col("word")) * lit(2654435761L) + lit(40503L),
        lit(1073741824L)).as("h"))
      .select(pmod(col("h"), lit(256L)).as("bucket"),
        hllRho(expr("h div 256")).as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("m"))

  /** [[hllObserved]] registers with the empty buckets as rho 0, so the
    * table is always exactly 256 rows. */
  private[graft] def hllFilled(regs: DataFrame): DataFrame =
    regs.sparkSession.range(0, 256).toDF("bucket")
      .join(regs, Seq("bucket"), "left")
      .na.fill(0L, Seq("m"))

  /** HLL register table (bucket 0..255 → max rho) of a string frame. */
  private[graft] def hllRegistersOf(words: DataFrame): DataFrame =
    hllFilled(hllObserved(words))

  /** Harmonic sum, empty-register count and max rank of a 256-row
    * register table, as one row. */
  private[graft] def hllStats(regs: DataFrame): DataFrame =
    regs.agg(
      sum(pow(lit(2.0), -col("m").cast("double"))).as("harm"),
      sum(when(col("m") === 0L, 1L).otherwise(0L)).as("n_zero"),
      max(col("m")).as("max_rho"))

  /** The raw 256-register estimate over [[hllStats]]' `harm`. */
  private[graft] def hllEstimate: Column =
    floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) / col("harm")).cast("long")

  /** Deterministic HyperLogLog census — the exactly-replayable twin of
    * the engine-internal `approx_count_distinct` sketch (`q_approx_
    * distinct`, which is rows-only because its binary layout is opaque):
    * a 256-register HLL with the pinned [[Fns.polyHash]] split into
    * bucket (low 8 bits) and rank suffix, reported next to the exact
    * distinct count with the error in ppm. Every register is an integer
    * and the harmonic sum Σ2^−Mj is a sum of dyadic rationals with
    * ≤ 23-bit denominators — EXACTLY representable in double in any
    * accumulation order — so, unlike ln-based statistics, the estimate
    * itself hash-verifies against DuckDB bit-for-bit. (The standard
    * small-range ln correction is deliberately omitted: ln is not
    * cross-engine reproducible; the raw estimator's bias at our load is
    * part of what the census REPORTS, next to the truth.)
    *
    * Scale shape: the register table is 256 rows no matter the corpus,
    * built by one map-side-combined max-aggregation — the mergeability
    * that makes HLL the distributed distinct monitor (shard registers
    * max-merge; spec'd). The exact count is the one corpus-sized
    * distinct the sketch would replace at 100 TB. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    // the 3-token shingle stream (the minhash family's unit): tens of
    // thousands of distinct values — the raw estimator's proper regime.
    // The 31-word fixture VOCABULARY would sit in the sparse regime
    // where HLL needs the linear-counting correction, whose ln() is not
    // cross-engine reproducible.
    val words = hllWords(Tables.documents(s, dir))
    val stats = hllStats(hllRegistersOf(words))
    val exact = words.distinct().agg(count(lit(1)).as("n_exact"))
    exact.crossJoin(broadcast(stats))
      .withColumn("est_hll", hllEstimate)
      .select(col("n_exact"), col("est_hll"), col("n_zero"), col("max_rho"),
        expr("abs(est_hll - n_exact) * 1000000L div n_exact").as("err_ppm"))
  }

  /** Exact-allocation stratified sample: per language stratum, exactly
    * ⌈n/10⌉ documents, chosen by deterministic hash order (no RNG, no
    * rate rounding error — [[mixtureSample]]'s Bernoulli thresholds give
    * each stratum a BINOMIAL sample size; evaluation sets need the exact
    * count). Scale shape: one window per stratum (rank by hash) — the
    * per-stratum sort is the cost of exactness; partitioned by lang it
    * spreads across the cluster, and the count window reuses the same
    * partitioning so no second shuffle. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    val wAll = Window.partitionBy("lang")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), Fns.polyHash(col("text")).as("h"))
      .withColumn("rk", row_number().over(wOrd).cast("long"))
      .withColumn("n_stratum", count(lit(1)).over(wAll))
      .filter(col("rk") <= expr("(n_stratum + 9) div 10"))
      .select(col("doc_id"), col("lang"), col("rk"), col("n_stratum"))
      .orderBy("lang", "rk")
  }

  /** Stratified mixture sampling: per-language keep rates applied via
    * deterministic hash thresholds — the data-mix reweighting step of a
    * training pipeline (down-sample the over-represented language), fully
    * reproducible with no RNG. Keep iff hash(text) mod 1000 < 1000·rate. */
  private val MixtureRates: Seq[(String, Int)] = // per-mille keep rates
    Seq("en" -> 400, "de" -> 800, "fr" -> 800, "es" -> 800, "zh" -> 800)

  def mixtureSample(s: SparkSession, dir: String): DataFrame = {
    val rate = MixtureRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(s, dir)
      .filter(pmod(Fns.polyHash(col("text")), lit(1000L)) < rate)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  /** Sampling-bias eval: did a sampler skew the language mix? For the
    * uniform hash sampler ([[hashSample]]'s 10% rule) and the
    * deliberately reweighting mixture sampler ([[mixtureSample]]'s
    * per-language rates), compare the kept-set language shares against
    * the full-corpus shares — per-language absolute bias and the
    * per-sampler total-variation distance, all in exact integer ppm.
    * The uniform sampler should sit near 0 TVD (any drift is hash-bucket
    * noise); the mixture sampler's TVD QUANTIFIES its intended skew —
    * the eval that separates "sampling artifact" from "designed
    * reweighting" before a mix ships to training.
    *
    * Scale shape: ONE corpus pass computes, per language, the full count
    * and both samplers' kept counts as conditional sums (the keep rules
    * are map-side hash predicates, so no sampler output is
    * materialized); everything after is arithmetic on the ≤ |langs|
    * cell table. */
  def sampleBias(s: SparkSession, dir: String): DataFrame = {
    val rate = MixtureRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    val h = Fns.polyHash(col("text"))
    val cells = Tables.documents(s, dir)
      .select(col("lang"),
        when(pmod(h, lit(100L)) < 10, 1L).otherwise(0L).as("kh"),
        when(pmod(h, lit(1000L)) < rate, 1L).otherwise(0L).as("km"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_full"), sum(col("kh")).as("n_hash"),
        sum(col("km")).as("n_mix"))
    val long = cells.select(col("lang"), col("n_full"), explode(array(
        struct(lit("hash").as("sampler"), col("n_hash").as("n_kept")),
        struct(lit("mixture").as("sampler"), col("n_mix").as("n_kept"))))
        .as("e"))
      .select(col("e.sampler").as("sampler"), col("lang"), col("n_full"),
        col("e.n_kept").as("n_kept"))
    val tot = long.groupBy("sampler")
      .agg(sum(col("n_full")).as("tf"), sum(col("n_kept")).as("tk"))
    val scored = long.join(broadcast(tot), "sampler")
      .withColumn("full_ppm", expr("n_full * 1000000L div tf"))
      .withColumn("kept_ppm", expr("n_kept * 1000000L div tk"))
      .withColumn("bias_ppm", abs(col("full_ppm") - col("kept_ppm")))
    val tvd = scored.groupBy("sampler")
      .agg(expr("sum(bias_ppm) div 2").as("tvd_ppm"))
    scored.join(broadcast(tvd), "sampler")
      .select(col("sampler"), col("lang"), col("n_full"), col("n_kept"),
        col("full_ppm"), col("kept_ppm"), col("bias_ppm"), col("tvd_ppm"))
      .orderBy("sampler", "lang")
  }

  /** LLM context chunking: each document's token stream cut into windows
    * of 50 tokens with stride 40 (10-token overlap) — the standard
    * pre-embedding segmentation. Chunk text is reassembled and hashed
    * top-level (codegen'd polyHash after the explode, not inside a lambda)
    * so chunks are verifiable without shipping their text. */
  private val ChunkLen = 50
  private val ChunkStride = 40

  /** (doc_id, chunk_start, n_tokens, chunk_text) rows for a docs frame
    * with (doc_id, text) — the shared chunker core. */
  private def chunkRows(docs: DataFrame): DataFrame = {
    // token-less docs drop on the RAW text (round 18): ≥1 token ⟺ any
    // letter — `filter(size(t) > 0)` on the computed array pushes below
    // the projection with the tokenize inlined (2× split per row);
    // the one-char regex probe is near-free and row-set-identical
    val d = docs
      .filter(col("text").rlike("[a-zA-Z]"))
      .select(col("doc_id"), Fns.words(col("text")).as("t"))
    d.select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("t")), lit(ChunkStride)),
          st => struct(st.as("chunk_start"),
            concat_ws(" ", slice(col("t"), st, lit(ChunkLen))).as("chunk_text"),
            size(slice(col("t"), st, lit(ChunkLen))).as("n_tokens")))).as("c"))
      .select(col("doc_id"),
        col("c.chunk_start").cast("long").as("chunk_start"),
        col("c.n_tokens").cast("long").as("n_tokens"),
        col("c.chunk_text").as("chunk_text"))
  }

  def chunkDocs(s: SparkSession, dir: String): DataFrame =
    chunkRows(Tables.documents(s, dir))
      .select(col("doc_id"), col("chunk_start"), col("n_tokens"),
        Fns.polyHash(col("chunk_text")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_start")

  /** The end-to-end corpus curation job: quality filter → near-dup drop →
    * context chunking, summarized per language. This is the pipeline the
    * individual operators exist for, declared as one composed query so the
    * whole chain is oracle-checked: left-semi the quality keepers,
    * left-anti the non-canonical cluster members, chunk the survivors.
    * NO broadcast hints on either side table: `kept` is the quality
    * SURVIVOR set — most of the corpus by construction — and `drop` is
    * duplicate-mass-linear, so forced broadcasts would ship multi-GB id
    * tables through the driver at 100 TB. Shuffled semi/anti joins on
    * doc_id are safe at any scale, and AQE still broadcasts whichever
    * side measures small at runtime. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val kept = qualityScores(s, dir).filter(col("keep")).select("doc_id")
    val drop = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val curated = Tables.documents(s, dir)
      .join(kept, Seq("doc_id"), "left_semi")
      .join(drop, Seq("doc_id"), "left_anti")
    chunkRows(curated)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_chunks"),
           sum(col("n_tokens")).as("n_tokens"))
      .orderBy("lang")
  }

  /** Redaction pass (PII-masking shape): digits masked to '#', with the
    * masked-character count and a verification hash of the redacted text. */
  def redact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_replace(col("text"), "[0-9]", "#").as("r"))
      .select(col("doc_id"),
        (length(col("r")) - length(regexp_replace(col("r"), "#", "")))
          .cast("long").as("n_masked"),
        Fns.polyHash(col("r")).as("redacted_hash"))
      .orderBy("doc_id")

  /** First occurrence position of every token per document (1-based over
    * the empty-filtered token stream) — positional explode + min. */
  def tokenPositions(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), Fns.words(col("text")).as("t"))
    d.select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "word")))
      .groupBy("doc_id", "word")
      .agg(min(col("pos") + 1).cast("long").as("first_pos"))
      .orderBy("doc_id", "word")
  }

  /** 32-bit SimHash per document from token frequency vectors, using the
    * portable polynomial token hash so the DuckDB oracle can reproduce it
    * bit-for-bit (integer-only arithmetic end to end). */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val tf = toks(s, dir).groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("cnt"), Fns.polyHash(col("word")).as("h"))
    val bits = tf.select(col("doc_id"), col("cnt"), col("h"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .select(col("doc_id"), col("b"),
        when(expr("(shiftright(h, cast(b as int)) & 1) = 1"), col("cnt"))
          .otherwise(-col("cnt")).as("contrib"))
      .groupBy("doc_id", "b").agg(sum(col("contrib")).as("sc"))
    bits.groupBy("doc_id")
      .agg(sum(when(col("sc") > 0, expr("shiftleft(cast(1 as bigint), cast(b as int))"))
        .otherwise(0L)).as("simhash"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------- text analysis

  /** Per-document corpus statistics: token counts, distinct tokens, char
    * counts, punctuation counts, mean token length. Integer counts plus
    * ratios of integers → bit-stable across engines. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"),
      Fns.words(col("text")).as("t"))
    d.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,]", "")))
          .cast("long").as("n_punct"),
        // sum of token lengths ≡ count of letter chars (tokens are the
        // maximal letter runs) — O(n) scan instead of a per-token fold
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("sum_token_len"))
      .withColumn("avg_token_len",
        col("sum_token_len").cast("double") / col("n_tokens").cast("double"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  private[operators] val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Heuristic quality score in [0,1] from length / stopword / punctuation
    * signals, with a keep/drop verdict — the standard pre-training corpus
    * filter shape. All signals are integers; the score is a fixed rational
    * combination, so both engines agree bitwise. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityScores(s, dir).orderBy("doc_id")

  /** [[qualityScore]] without the presentation sort — for internal
    * consumers (curation, adaptive filter, rank fusion, the quality
    * sweep); same rationale as [[ngramJaccard]] (round 17). */
  private[graft] def qualityScores(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"),
      Fns.words(col("text")).as("t"))
    val scored = d.select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(filter(col("t"), w => w.isin(Stopwords.map(lit): _*))).cast("long").as("n_stop"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,]", "")))
          .cast("long").as("n_punct"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("punct_ratio", col("n_punct").cast("double") / col("n_chars"))
      .withColumn("len_ok", when(col("n_tokens").between(20, 10000), 1).otherwise(0))
      .withColumn("score",
        (col("len_ok") * lit(0.5)) +
        when(col("stop_ratio") > 0.01, 0.25).otherwise(0.0) +
        when(col("punct_ratio") < 0.2, 0.25).otherwise(0.0))
    scored.select(col("doc_id"), col("n_tokens"), col("n_stop"), col("n_punct"),
        col("score"), (col("score") >= 0.75).as("keep"))
  }

  /** [[gopherQuality]]'s diversity signal ALONE — doc_id → distinct-token
    * fraction as a pure per-doc projection, for consumers that need only
    * this column (rank fusion). Round 18: the r17 single-pass
    * [[gopherQuality]] threads the per-doc scalars THROUGH the bigram
    * aggregations (as max() over groups where they are constant), so
    * column pruning can no longer strip its two corpus-keyed exchanges
    * for a distinct_frac-only consumer — rank fusion regressed 0.57 →
    * 1.62 s paying for a bigram census it discards. This restores the
    * projection-only path: the SAME size/array_distinct division on the
    * SAME token array, cell-identical to what gopherQuality re-derives
    * through the aggregation (the scalars are per-doc constants), and
    * every doc appears exactly once on both paths (explode_outer keeps
    * bigram-less docs there; no explode exists here).
    *
    * Assumes `doc_id` is unique in the documents table: this path emits
    * one row per documents ROW, while gopherQuality collapses through two
    * doc_id-keyed aggregations, so a duplicated doc_id would give
    * duplicate rows here only (SelectionSpec asserts the uniqueness on
    * the fixture). */
  private[graft] def distinctFracs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      Fns.words(col("text")).as("t"))
    d.select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"))
      .select(col("doc_id"),
        when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .otherwise(0.0).as("distinct_frac"))
  }

  /** Repetition-based quality signals (the Gopher-paper filter family:
    * excessive repetition marks machine-generated/boilerplate text):
    * distinct-token fraction and the share of the most frequent word
    * bigram. Per-doc stats are narrow codegen'd projections; the top-
    * bigram count is two keyed aggregations (doc,bigram)→doc — linear in
    * corpus size, the same shape at 100 TB. All divisions are single IEEE
    * ops on identically-derived operands, so the doubles (and the keep
    * comparisons on them) are bit-exact vs the oracle. */
  def gopherQuality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      Fns.words(col("text")).as("t"))
    // ONE tokenize pass (round 17): the per-doc scalars ride the bigram
    // explode (explode_outer keeps bigram-less docs — the old left
    // join's no-match rows) and re-aggregate as max() through the two
    // keyed levels, so the corpus is scanned and tokenized once instead
    // of twice-plus-a-doc_id-join. Every output cell is the same
    // integer/division as before.
    // the scalars are computed in their OWN projection below the explode:
    // folded into the generate's select they analyze into a Project ABOVE
    // the Generate and re-evaluate per BIGRAM row (array_distinct per
    // bigram — measured 2× the whole query)
    val pre = d.select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      size(array_distinct(col("t"))).cast("long").as("n_distinct"),
      Fns.bigramsArr(col("t")).as("bgs"))
    val base = pre.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      explode_outer(col("bgs")).as("bg"))
    val top = base
      .groupBy("doc_id", "bg")
      .agg(count(col("bg")).as("c"),
        max(col("n_tokens")).as("n_tokens"),
        max(col("n_distinct")).as("n_distinct"))
      .groupBy("doc_id")
      .agg(max(when(col("bg").isNotNull, col("c"))).as("top_bigram_n"),
        max(col("n_tokens")).as("n_tokens"),
        max(col("n_distinct")).as("n_distinct"))
    top
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .otherwise(0.0).as("distinct_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        when(col("n_tokens") > 1,
          coalesce(col("top_bigram_n"), lit(0L)).cast("double") /
            (col("n_tokens") - 1).cast("double"))
          .otherwise(0.0).as("top_bigram_frac"))
      .withColumn("keep",
        col("distinct_frac") > 0.3 && col("top_bigram_frac") < 0.2)
      .orderBy("doc_id")
  }

  /** Duplicated-5-gram character fraction (the other half of the Gopher
    * repetition family next to [[gopherQuality]]'s top-bigram share): the
    * share of a document's letter characters that sit inside word 5-grams
    * occurring more than once IN THAT DOCUMENT, counting every occurrence.
    * High values mark looping/boilerplate generations that token-level
    * stats miss.
    *
    * Scale shape: 5-grams are generated map-side from the token array and
    * immediately collapsed to (doc_id, xxhash64(gram), gram_chars) — the
    * shuffle carries three int64s per gram, never the gram text — then two
    * keyed aggregations ((doc,hash)→count, doc→dup char sum), both
    * map-side combined. Per-doc gram count is linear in document length,
    * so the whole plan is linear in corpus size with no per-key buffering
    * — the same shape at 100 TB. The final division is a single IEEE op
    * on int64-derived operands (bit-exact vs the oracle, which groups by
    * the gram text itself — identical groups absent a 64-bit hash
    * collision within one document). */
  def repetitionFilter(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"),
      Fns.words(col("text")).as("t"))
    // sum of token lengths ≡ count of letter chars (tokens are the
    // maximal letter runs) — one O(n) scan, same trick as textStats
    // ONE tokenize pass (round 17, same move as [[gopherQuality]]): the
    // per-doc scalars ride the 5-gram explode (explode_outer keeps
    // gram-less docs) and re-aggregate as max() through both keyed
    // levels — one corpus scan + tokenize + letter-count instead of two
    // of each plus a doc_id join. Cells are integer-identical.
    // scalars in their OWN projection below the explode (same trap as
    // [[gopherQuality]]: folded into the generate's select they analyze
    // into a Project ABOVE the Generate and the regexp letter-count
    // re-runs per 5-GRAM row — measured 3× the whole query)
    val pre = d.select(col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
        .cast("long").as("sum_token_len"),
      when(size(col("t")) >= 5,
          transform(sequence(lit(0), size(col("t")) - 5),
            i => concat_ws(" ", element_at(col("t"), i + 1),
                                element_at(col("t"), i + 2),
                                element_at(col("t"), i + 3),
                                element_at(col("t"), i + 4),
                                element_at(col("t"), i + 5))))
        .otherwise(array().cast("array<string>")).as("gs"))
    val all = pre.select(col("doc_id"), col("n_tokens"),
      col("sum_token_len"), explode_outer(col("gs")).as("g"))
    val counts = all
      .select(col("doc_id"), col("n_tokens"), col("sum_token_len"),
        when(col("g").isNotNull, xxhash64(col("g"))).as("h"),
        (length(col("g")) - 4).cast("long").as("glen"))
      .groupBy("doc_id", "h")
      .agg(count(col("h")).as("c"), max(col("glen")).as("glen"),
        max(col("n_tokens")).as("n_tokens"),
        max(col("sum_token_len")).as("sum_token_len"))
    counts
      .groupBy("doc_id")
      .agg(coalesce(sum(when(col("h").isNotNull && col("c") > 1,
          col("c") * col("glen"))), lit(0L)).as("dup_chars"),
        max(col("n_tokens")).as("n_tokens"),
        max(col("sum_token_len")).as("sum_token_len"))
      .select(col("doc_id"), col("n_tokens"), col("sum_token_len"),
        col("dup_chars").as("dup_5gram_chars"))
      .withColumn("dup_frac",
        when(col("sum_token_len") > 0,
          col("dup_5gram_chars").cast("double") /
            col("sum_token_len").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") < 0.3)
      .orderBy("doc_id")
  }

  /** Per-source document quota ("domain cap"): keep at most `cap`
    * documents per source, chosen by a deterministic multiplicative hash
    * of doc_id (Knuth 2654435761 mod 2³²) so the sample is stable across
    * runs and engines — the domain-balancing step of web-corpus prep,
    * where a handful of giant domains would otherwise dominate the mix.
    *
    * Scale shape: one exchange keyed by source; the row_number + rank
    * filter pair is rewritten by Spark to a WindowGroupLimit, so each
    * partition retains only its top-`cap` rows BEFORE the sort
    * materializes — a mega-domain costs a bounded per-partition heap,
    * not a domain-sized sort. */
  def domainCap(s: SparkSession, dir: String, cap: Int = 15): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("hk"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)).as("hk"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** Sequential Poisson (priority) sampling — Ohlsson 1998's
    * probability-proportional-to-size scheme, the weighted complement of
    * the uniform [[domainCap]] quota: per language keep the `k` docs with
    * the smallest priority u/w, where u is the deterministic Knuth
    * multiplicative hash of the doc id and w = n_chars. Longer documents
    * draw proportionally smaller priorities, so inclusion probability
    * tracks size — the standard way a curation pipeline biases a fixed
    * per-language budget toward content-rich documents while staying
    * reproducible with no RNG. Both division operands are
    * exactly-representable doubles (u < 2³², w an int), so the single
    * IEEE division — and therefore the kept set — is bit-identical
    * across engines.
    *
    * Scale shape: one exchange keyed by lang; the row_number + rank
    * filter pair rewrites to a WindowGroupLimit, so each partition keeps
    * a bounded top-`k` heap rather than sorting a language's worth of
    * corpus. The streaming twin ([[graft.streaming.Streams
    * .streamPpsSample]]) maintains the same kept set incrementally with
    * a bounded per-group aggregator. */
  def ppsSample(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("pr"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
          .cast("double") / col("n_chars").cast("double")).as("pr"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("rk"))
      .orderBy("lang", "rk")
  }

  /** Per-language ADAPTIVE length gates: instead of one global min/max
    * length cutoff (which over-trims verbose languages and under-trims
    * terse ones), each language's gates are its own order-statistic
    * percentiles — the element at rank ⌈0.05·n⌉ / ⌈0.95·n⌉ of its length
    * distribution (always an actual data value, so the census
    * hash-checks unrounded; same explicit row_number formula on both
    * engines as [[graft.operators.Relational.percentilesDisc]]). Output:
    * each language's gates and how many docs fall short/long/within.
    *
    * Scale shape: one lang-keyed sort-based window (spills; at 100 TB
    * the same gates come from an approx_percentile sketch — this is the
    * exact form), then the classify pass re-scans the corpus map-side
    * against the BROADCAST gate table (|langs| rows) into one lang-keyed
    * count aggregation. No doc-keyed exchange anywhere. */
  def adaptiveFilter(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    // tie order within equal n_chars doesn't affect the value AT a rank
    val ranked = d
      .withColumn("rn", row_number().over(W.partitionBy("lang").orderBy("n_chars")))
      .withColumn("n", count(lit(1)).over(W.partitionBy("lang")))
    val gates = ranked.groupBy("lang").agg(
      max(when(col("rn") === ceil(lit(0.05) * col("n")), col("n_chars"))).as("lo"),
      max(when(col("rn") === ceil(lit(0.95) * col("n")), col("n_chars"))).as("hi"))
    d.join(broadcast(gates), "lang")
      .groupBy("lang")
      .agg(max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(when(col("n_chars") < col("lo"), 1L).otherwise(0L)).as("n_short"),
        sum(when(col("n_chars") > col("hi"), 1L).otherwise(0L)).as("n_long"),
        sum(when(col("n_chars").between(col("lo"), col("hi")), 1L)
          .otherwise(0L)).as("n_kept"))
      .orderBy("lang")
  }

  /** Tokenizer-efficiency census: characters per BPE-ish token by
    * language — the compression-ratio metric used to compare tokenizer
    * vocabularies across languages (a lang whose ratio sags pays more
    * sequence length for the same text). One map-side-combined keyed
    * aggregation over language-collapsed counts; the corpus is scanned
    * once and only (lang, sums) rows are exchanged. The ratio is a single
    * IEEE division of two exact int64 sums. */
  def tokenCompression(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("n_chars"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[.,]"), lit(0)))
          .cast("long").as("n_bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_bpe")).as("sum_tokens"))
      .withColumn("chars_per_token",
        when(col("sum_tokens") > 0,
          col("sum_chars").cast("double") / col("sum_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("lang")

  /** Character-distribution diversity per document, scored with Gini
    * impurity 1 − Σ(cᵢ/n)² — the log-free stand-in for character entropy
    * (libm log isn't bit-portable; Σcᵢ² is an exact int64, so the single
    * division and subtraction are IEEE-identical on both engines). Low
    * diversity flags degenerate text (padding runs, binary-ish blobs) the
    * way an entropy filter would in a training-data pipeline. Two keyed
    * aggregations, linear at any scale. */
  def charDiversity(s: SparkSession, dir: String): DataFrame = {
    // explicit [^\n] instead of '.': Java regex '.' also excludes \r and
    // the Unicode line separators while RE2's excludes only \n — the
    // negated class means both engines drop exactly the same character
    val per = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("[^\\n]"), lit(0))).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val agg = per.groupBy("doc_id").agg(
      sum(col("c")).cast("long").as("n_chars"),
      count(lit(1)).as("n_distinct"),
      sum(col("c") * col("c")).cast("long").as("sum_sq"))
    Tables.documents(s, dir).select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("sum_sq"), lit(0L)).as("sum_sq"),
        when(col("n_chars") > 0,
          lit(1.0) - col("sum_sq").cast("double") /
            (col("n_chars") * col("n_chars")).cast("double"))
          .otherwise(0.0).as("gini"))
      .orderBy("doc_id")
  }

  /** Zipf rank–frequency census of the corpus vocabulary: the top-`topN`
    * words by global frequency with the LOCAL log–log slope between
    * consecutive ranks, Δln(freq)/Δln(rank) — the fit a corpus-health
    * check runs to see whether the token distribution follows the ~ −1
    * power law natural text obeys (a crawl whose slope collapses is
    * boilerplate- or spam-dominated). Slopes are per-row ratios of
    * exact-int logarithms (no cross-row float accumulation), rounded to
    * 4 dp to absorb cross-engine ln() ulps — the [[graft.operators
    * .Relational.percentiles]] precedent.
    *
    * Scale shape: one word-keyed count aggregation (map-side combined),
    * then rank + lag over the VOCABULARY-sized count table — the
    * partitionless row_number + `rank <= topN` filter rewrites to a
    * WindowGroupLimit, so each partition forwards only its top `topN`
    * candidates to the final sort rather than sorting the vocabulary in
    * one task. */
  def zipf(s: SparkSession, dir: String, topN: Int = 30): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byFreq = W.orderBy(col("cnt").desc, col("word"))
    val ranked = toks(s, dir).groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .filter(col("rank") <= topN)
    ranked
      .withColumn("prev_cnt", lag(col("cnt"), 1).over(byFreq))
      .withColumn("prev_rank", lag(col("rank"), 1).over(byFreq))
      .select(col("rank"), col("word"), col("cnt"),
        // rank 1 has no predecessor: 0.0, not null (the driver's compare
        // can't equate the NaN a null float becomes on both engines)
        coalesce(
          round((log(col("cnt").cast("double")) - log(col("prev_cnt").cast("double"))) /
            (log(col("rank").cast("double")) - log(col("prev_rank").cast("double"))), 4),
          lit(0.0)).as("local_slope"))
      .orderBy("rank")
  }

  /** Per-language Shannon entropy of the word distribution (nats) — the
    * diversity diagnostic a mixing pipeline reads next to
    * [[temperatureMix]]: a language whose entropy sags relative to its
    * vocabulary ceiling ln(V) is dominated by few tokens (template/spam
    * text) regardless of its raw size. H = ln(N) − Σc·ln(c)/N over the
    * VOCABULARY-sized (lang, word) count table, so the only float sum is
    * vocabulary-sized (per-term 1-ulp ln() noise ~1e-10 absolute against
    * the 4 dp rounding); corpus-sized data moves through exact int
    * counts only. Two keyed aggregations, both map-side combined. */
  def wordEntropy(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(s, dir)
      .select(col("lang"), explode(Fns.tokensArr(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    wc.groupBy("lang").agg(
        sum(col("cnt")).cast("long").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(col("cnt").cast("double") * log(col("cnt").cast("double"))).as("clogc"))
      .select(col("lang"), col("n_tokens"), col("vocab_size"),
        round(log(col("n_tokens").cast("double")) -
          col("clogc") / col("n_tokens").cast("double"), 4).as("entropy"),
        when(col("vocab_size") > 1,
          round((log(col("n_tokens").cast("double")) -
            col("clogc") / col("n_tokens").cast("double")) /
            log(col("vocab_size").cast("double")), 4))
          .otherwise(lit(0.0)).as("entropy_norm"))
      .orderBy("lang")
  }

  /** Per-source characteristic vocabulary by chi-square keyness: for
    * every (source, word), the 2×2 contingency test of the word's count
    * inside the source (`a`) against the rest of the corpus (`b`), and
    * the top-10 OVER-represented words per source —
    * χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), the corpus-linguistics
    * keyness statistic. This is how a curation pipeline fingerprints
    * what a crawl/source is actually about (and spots boilerplate or
    * spam vocab) without training anything.
    *
    * Integer-exact: χ² surfaces in micro units via the pinned two-step
    * `(q div d)·10⁶ + ((q mod d)·10⁶) div d` — exactly ⌊q·10⁶/d⌋, but
    * with every intermediate ≤ N⁴·10⁶ instead of N⁵·10⁶, so it stays in
    * DECIMAL(38,0)/HUGEINT range two orders of magnitude longer than the
    * naive association (the [[Evaluation.chi2]] discipline, hardened).
    *
    * Scale shape: the corpus collapses to (source, word) cells map-side;
    * word totals re-aggregate the CELLS (vocab-sized, not corpus-sized);
    * source totals and N broadcast. The per-source top-10 is a
    * row_number window that WindowGroupLimit bounds to a 10-row heap
    * per partition before any exchange — never a global sort. */
  def keyness(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("chi2_micro").desc, col("word"))
    val cells = Tables.documents(s, dir)
      .select(col("source"), explode(Fns.tokensArr(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("a"))
    val wt = cells.groupBy("word").agg(sum(col("a")).as("ab"))
    val st = cells.groupBy("source").agg(sum(col("a")).as("ac"))
    val n = cells.agg(sum(col("a")).as("n"))
    cells.join(wt, "word")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(n))
      .withColumn("b", col("ab") - col("a"))
      .withColumn("c", col("ac") - col("a"))
      .withColumn("d", col("n") - col("ab") - col("c"))
      .filter(expr("cast(a as decimal(38,0)) * d > cast(b as decimal(38,0)) * c"))
      .withColumn("q",
        expr("cast(n as decimal(38,0)) *" +
          " (cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c) *" +
          " (cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c)"))
      .withColumn("dn",
        expr("cast(ab as decimal(38,0)) * (c + d) * ac * (b + d)"))
      .withColumn("chi2_micro",
        expr("cast((q div dn) * 1000000 + ((q % dn) * 1000000) div dn" +
          " as bigint)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("source"), col("rank"), col("word"),
        col("a").as("cnt_in"), col("ab").as("cnt_all"), col("chi2_micro"))
      .orderBy("source", "rank")
  }

  /** Bigram-LM document scoring — the perplexity quality filter (CCNet
    * style): train a maximum-likelihood word-bigram model on the corpus
    * itself, score every document by its mean negative log-likelihood
    * under that model, and surface the `topN` most surprising documents —
    * the machine-generated/garbled/off-distribution candidates a curation
    * pipeline reviews or drops. P(w₂|w₁) = c(w₁w₂)/c(w₁·), with the
    * context count derived from the bigram table itself so the model is
    * self-consistent and every scored bigram is in-vocabulary (no
    * smoothing needed when scoring the training corpus).
    *
    * Scale shape: one bigram-keyed aggregation builds the LM (bounded by
    * OBSERVED bigram types, not corpus size); the context marginal is a
    * vocabulary-keyed re-aggregation OF THE LM TABLE (the corpus is never
    * re-read); scoring re-joins the bigram stream to the scored LM on the
    * bigram key — a linear equi-join AQE can broadcast when the LM fits —
    * and collapses doc-keyed. The final top-N is a TakeOrdered, never a
    * global sort. The per-doc float sum is order-sensitive across ~100
    * terms, so the mean NLL is rounded to 4 decimals (house float-parity
    * discipline, same as [[wordEntropy]]). */
  def docPerplexity(s: SparkSession, dir: String, topN: Int = 25): DataFrame = {
    // bigram-less docs drop on the RAW text (round 18): ≥2 tokens ⟺ two
    // letter runs ⟺ one regex find — `filter(size(t) >= 2)` on the
    // computed array is pushed below the projection with the tokenize
    // INLINED, paying split+filter twice per row on BOTH corpus passes
    // this subtree compiles into (guide §4.4's duplication, expression
    // flavor). Row set is identical: tokens are exactly the maximal
    // [a-zA-Z] runs.
    val d = Tables.documents(s, dir)
      .filter(col("text").rlike("[a-zA-Z][^a-zA-Z]+[a-zA-Z]"))
      .select(col("doc_id"), col("lang"),
        Fns.words(col("text")).as("t"))
    val bg = d
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(0), size(col("t")) - 2),
          i => struct(element_at(col("t"), i + 1).as("w1"),
                      element_at(col("t"), i + 2).as("w2")))).as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    // STABILIZE the LM table (round 17): `lm` feeds the context totals,
    // the scored join AND (transitively) the final per-doc join — three
    // compiled subtrees, each re-running the corpus tokenize+explode
    // underneath without the checkpoint (measured: 6 live document
    // scans in the final adaptive plan). The bigram LM is vocabulary²-
    // bounded — the table a perplexity service ships, orders of
    // magnitude under the corpus — so materializing it once is the
    // guide-§5 trade at every scale; the per-occurrence scoring join
    // below still re-reads the corpus exactly once.
    val lm = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .stable
    val ctx = lm.groupBy("w1").agg(sum(col("cb")).cast("long").as("cu"))
    val scored = lm.join(ctx, "w1")
      .select(col("w1"), col("w2"),
        (log(col("cu").cast("double")) - log(col("cb").cast("double"))).as("nll"))
    bg.join(scored, Seq("w1", "w2"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("sum_nll"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        round(col("sum_nll") / col("n_bigrams"), 4).as("avg_nll"))
      .orderBy(col("avg_nll").desc, col("doc_id")).limit(topN)
  }

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "la", "les"),
    "es" -> Seq("el", "los", "las"))

  /** Marker-token language identification (n-gram heuristic): count marker
    * hits per language, argmax with a fixed precedence order. The fixture
    * labels are synthetic so accuracy is incidental; the operator contract
    * is the deterministic rule itself (oracle implements the same rule). */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      Fns.words(col("text")).as("t"))
    val withScores = LangMarkers.foldLeft(d) { case (df, (lang, markers)) =>
      df.withColumn(s"s_$lang",
        size(filter(col("t"), w => w.isin(markers.map(lit): _*))).cast("long"))
    }
    val best = LangMarkers.map(_._1).foldLeft((lit("und"), lit(0))) {
      case ((bestLang, bestScore), lang) =>
        val better = col(s"s_$lang") > bestScore
        (when(better, lit(lang)).otherwise(bestLang),
         when(better, col(s"s_$lang")).otherwise(bestScore))
    }
    withScores
      .select(col("doc_id"), col("lang").as("labeled_lang"), best._1.as("pred_lang"),
        col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
      .orderBy("doc_id")
  }

  private val MinVocabCount = 5L

  /** Min-count vocabulary pruning + per-language UNK census — the
    * tokenizer-prep step that decides which words the model vocabulary
    * keeps (corpus frequency ≥ [[MinVocabCount]]) and how much of each
    * language's token stream collapses to `<unk>`.
    *
    * Scale shape: the corpus-sized token stream collapses to (lang, word)
    * counts FIRST (map-side combinable, vocabulary×languages-sized), so
    * vocabulary membership is decided by a join between two
    * vocabulary-sized tables — the token stream itself is touched exactly
    * once and never joined; the global vocab size rides along as a
    * broadcast 1-row aggregate. The (lang, word) exchange feeds both the
    * vocab derivation and the membership probe, so Spark reuses it. */
  def vocabPrune(s: SparkSession, dir: String): DataFrame = {
    val langWord = Tables.documents(s, dir)
      .select(col("lang"), explode(Fns.tokensArr(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
    val keep = langWord.groupBy("w").agg(sum(col("c")).as("cnt"))
      .filter(col("cnt") >= MinVocabCount)
    val vsize = keep.agg(count(lit(1)).as("vocab_size"))
    langWord
      .join(keep.select(col("w"), lit(true).as("in_vocab")), Seq("w"), "left")
      .groupBy("lang")
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(0L)).as("n_unk"))
      .crossJoin(broadcast(vsize))
      // exact int64 → double conversions + one IEEE division: oracle-exact
      .select(col("lang"), col("n_tokens"), col("n_unk"),
        (col("n_unk").cast("double") / col("n_tokens").cast("double")).as("unk_frac"),
        col("vocab_size"))
      .orderBy("lang")
  }

  /** Per-document novelty: the fraction of a doc's distinct shingles whose
    * FIRST corpus appearance (minimum doc_id) is this document — the
    * incremental-value / memorization-risk score a crawl pipeline computes
    * per snapshot before deciding what a new crawl actually adds.
    *
    * Scale shape: every per-shingle structure is SORT-based, never a
    * buffered list — the same discipline as [[cdcDedup]]. The (h, doc_id)
    * stream collapses to distinct pairs with a map-side-combined keyed
    * aggregation (duplicate shingles within a doc die before the wire),
    * then the first owner is `min(doc_id) over (partition by h)` — a
    * sort-based window that spills, so a boilerplate shingle present in
    * every document of a 100 TB corpus costs sort time, not a
    * doc-count-sized array in one aggregation buffer. The per-doc census
    * is then an ordinary map-side-combined doc-keyed aggregation. No
    * corpus-sized join anywhere, and no per-key occurrence list —
    * unlike the dedup family's [[pairStats]], novelty must census ALL
    * shingles (no stop-shingle df cap applies), so the unbounded-set
    * formulation it replaces was the one OOM hazard in this file. */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    shinglesRaw(s, dir)
      .select(col("doc_id"), Fns.polyHash(col("sh")).as("h"))
      .groupBy("h", "doc_id").agg(count(lit(1)).as("dup"))
      .withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  /** Content-defined chunking (the rsync/LBFS rolling-hash technique):
    * chunk boundaries close wherever the 16-codepoint rolling window hash is
    * ≡ 0 mod 32 ([[graft.functions.CdcBoundariesExpr]]), so boundaries —
    * and therefore chunk CONTENT fingerprints — realign within one window
    * of an edit. An insertion shifts [[chunkDocs]]'s fixed-stride grid for
    * the whole remainder of the document but leaves all except O(1) CDC
    * chunks intact (asserted in `PipelineSpec`) — the chunking you want
    * when near-identical crawls must dedup at the chunk level. Expected
    * chunk ≈ 32 chars.
    *
    * Scale shape: narrow per-doc pipeline — one codegen'd O(n) boundary
    * scan, map-side posexplode of the chunk spans, per-chunk fingerprint
    * as a TOP-LEVEL projection (the interpreted-HOF-lambda trap does not
    * apply); zero shuffles before the output sort. */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunkTable(s, dir).orderBy("doc_id", "chunk_idx")

  /** Unsorted CDC chunk table shared by [[cdcChunks]] and [[cdcDedup]]. */
  private def cdcChunkTable(s: SparkSession, dir: String): DataFrame =
    cdcChunksOf(Tables.documents(s, dir))

  /** The CDC chunk pipeline over any documents-shaped frame (doc_id,
    * text) — batch and streaming share this single definition of chunk
    * semantics, so the streaming census can never drift from the batch
    * oracle. Narrow (per-row) end to end: safe under a streaming source. */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame = {
    val d = docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        // a boundary at the last byte would open an empty chunk: drop it
        filter(Fns.cdcBoundaries(col("text")),
          b => b < length(col("text"))).as("bs"))
    d.select(col("doc_id"), col("text"),
        posexplode(zip_with(
          concat(array(lit(1)), transform(col("bs"), b => b + 1)),
          concat(col("bs"), array(length(col("text")))),
          (a, b) => struct(a.as("st"), b.as("en")))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col.st").cast("long").as("chunk_start"),
        (col("col.en") - col("col.st") + 1).cast("long").as("chunk_len"),
        Fns.polyHash(expr("substring(text, col.st, col.en - col.st + 1)"))
          .as("chunk_hash"))
  }

  /** Chunk-level deduplication over the CDC chunk table — the payoff of
    * content-defined boundaries: byte ranges shared verbatim between
    * near-identical crawls land in IDENTICALLY-fingerprinted chunks, so
    * "how much of each document is already stored elsewhere?" is a
    * first-occurrence census per chunk hash. The canonical copy of a
    * chunk is its (doc_id, chunk_idx)-minimum occurrence; every other
    * occurrence counts toward its document's duplicated bytes.
    *
    * Scale shape: one exchange keyed by chunk_hash with a sort-based
    * `row_number` (spills gracefully — no per-hash occurrence list is
    * ever buffered, unlike a collect_list formulation that a hot
    * boilerplate chunk would blow up), then a map-side-combined per-doc
    * aggregation. */
  def cdcDedup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    cdcChunkTable(s, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("rn") > 1, col("chunk_len")).otherwise(0L)).as("dup_bytes"),
        sum(col("chunk_len")).as("total_bytes"))
      .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
        col("dup_bytes"), col("total_bytes"),
        (col("dup_bytes").cast("double") / col("total_bytes").cast("double"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Skip-gram (center, context) pair counts at window ≤ 2 — the
    * word2vec/SGNS training-pair generation step, counted over ordered
    * pairs with the context FOLLOWING the center (each unordered
    * co-occurrence is counted exactly once). Top-30 by count with a full
    * deterministic tiebreak.
    *
    * Scale shape: pairs are generated MAP-SIDE from each doc's token
    * array (two bounded `transform`s over positions — never a positional
    * self-join of the corpus against itself), so pair volume is exactly
    * 2n−3 per doc and the only exchange is the final (w, c) count. */
  def skipgrams(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(Fns.words(col("text")).as("t"))
    def offs(k: Int) =
      when(size(col("t")) > k,
        transform(sequence(lit(1), size(col("t")) - k),
          i => struct(element_at(col("t"), i).as("w"),
            element_at(col("t"), i + k).as("c"))))
        .otherwise(array().cast("array<struct<w:string,c:string>>"))
    d.select(explode(concat(offs(1), offs(2))).as("p"))
      .groupBy(col("p.w").as("w"), col("p.c").as("c"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("w"), col("c"))
      .limit(30)
  }

  /** TF-IDF-style term weighting (the VLDB'12 MR-tutorial workload): top-3
    * terms per document by tf·N/df — the multiplicative-inverse form of
    * idf, rank-equivalent to tf·log(N/df) but exactly reproducible across
    * engines (log bit-parity across libm implementations is not
    * guaranteed; integer products and one double division are). */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val t = toks(s, dir)
    val tf = t.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // document frequency FROM the tf table (round 17): tf already holds
    // one row per (doc, word), so counting its rows per word IS the
    // distinct-doc count — and both consumers now share the identical
    // (doc_id, word) exchange subtree, which AQE reuses: one corpus
    // tokenize pass instead of two, one aggregation instead of a
    // distinct + aggregation
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // corpus size as a broadcast 1-row subplan, not a driver-side count():
    // one job per invocation, and at scale no separate full-corpus pass
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "word").crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "word", "tf", "df", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex token
    * stream (letter runs / digit runs / single punctuation). */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
        col("doc_id"),
        size(filter(split(col("text"), " +"), w => w =!= lit(""))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[.,]"), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Corpus bigram frequency table, top 20 — the n-gram counting pass of a
    * language-model data pipeline. TakeOrdered top-k after a map-side
    * combined count; ties broken lexicographically for determinism. */
  def bigrams(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(Fns.words(col("text")).as("t"))
    d.select(explode(Fns.bigramsArr(col("t"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)
  }

  /** Distributed BPE tokenizer training — learn the first
    * [[BpeRounds]] merge rules over the corpus vocabulary, the
    * tokenizer-fitting job an LLM data platform runs before tokenizing
    * a corpus. Each round: count adjacent symbol pairs (weighted by word
    * frequency), adopt the most frequent pair as a merge rule (ties by
    * pair lexicographically), and apply it to every word with EXACT
    * greedy left-to-right semantics. Output is the learned merge table
    * (round, a, b, merged, cnt).
    *
    * Greedy non-overlapping application is expressed relationally so
    * both engines replay it bit-for-bit (no reliance on any engine's
    * string-replace scan semantics): mark positions where (tᵢ, tᵢ₊₁)
    * equals the rule, group CONSECUTIVE matched positions into runs
    * (the row-number difference trick), and take every even-offset match
    * within its run — exactly the positions greedy scanning merges
    * (e.g. `a a a a` with rule (a,a) → matches at 0,1,2 → take 0 and 2
    * → `aa aa`). Matched-and-taken positions emit the merged symbol and
    * drop their successor; the word is reassembled in position order.
    *
    * Scale shape: the corpus is touched ONCE (the initial wordcount);
    * every round then runs on the (word, n) vocabulary table — pair
    * counting is one map-side-combined aggregate, the adopted rule is a
    * broadcast 1-row TakeOrdered, and the merge application is windows
    * over one (word)-keyed sort. Vocab and rule are
    * `localCheckpoint`ed each round so the unrolled loop's lineage stays
    * linear (the 1-row rule feeds both the output and the next round —
    * without the checkpoint each reuse would recompute the whole
    * chain). */
  private val BpeRounds = 5

  // trained model memoized per (session, corpus): the loop is eager
  // (per-round localCheckpoints), so q_bpe_train and q_bpe_apply share
  // one training run.
  private val bpeCache = CorpusMemo[(DataFrame, DataFrame)]()

  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeModel(s, dir)._1.orderBy("round")

  /** Apply side of the BPE trainer: per-round corpus compression — the
    * weighted total token count after each learned merge (round 0 =
    * characters) and the exact ppm ratio vs round 0. This is the number a
    * tokenization pipeline actually watches while growing the merge
    * table: how much shorter the corpus gets per rule adopted. Rides the
    * memoized training run; the totals are one aggregate per round over
    * the checkpointed vocabulary tables. */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val totals = bpeModel(s, dir)._2
    val base = totals.filter(col("round") === 0)
      .select(col("total_tokens").as("base"))
    totals.crossJoin(broadcast(base))
      .select(col("round"), col("total_tokens"),
        when(col("base") > 0,
          expr("total_tokens * 1000000L div base")).otherwise(0L)
          .as("ratio_ppm"))
      .orderBy("round")
  }

  private def bpeModel(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    bpeCache(s, dir)(trainBpe(s, dir))

  private def trainBpe(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val W = org.apache.spark.sql.expressions.Window
    // vocabulary: distinct words with corpus frequency, split into chars
    var vocab = Tables.documents(s, dir)
      .select(explode(Fns.words(col("text")))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("toks", split(regexp_replace(col("word"), "(.)", "$1 "), " "))
      .withColumn("toks", slice(col("toks"), lit(1), size(col("toks")) - 1))
      .stable
    val merges = Seq.newBuilder[DataFrame]
    val totals = Seq.newBuilder[DataFrame]
    def roundTotal(r: Int, v: DataFrame): DataFrame =
      v.agg(coalesce(sum(col("n") * size(col("toks"))), lit(0L))
          .cast("long").as("total_tokens"))
        .select(lit(r.toLong).as("round"), col("total_tokens"))
    totals += roundTotal(0, vocab)
    for (rnd <- 1 to BpeRounds) {
      val top = vocab
        .select(col("n"), explode(Fns.bigramsArr(col("toks"))).as("pair"))
        .groupBy("pair").agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(substring_index(col("pair"), " ", 1).as("a"),
          element_at(split(col("pair"), " "), 2).as("b"), col("cnt"))
        .stable
      merges += top.select(lit(rnd.toLong).as("round"), col("a"), col("b"),
        concat(col("a"), col("b")).as("merged"), col("cnt"))
      val w = W.partitionBy("word").orderBy("i")
      val ex = vocab.select(col("word"), col("n"),
          posexplode(col("toks")).as(Seq("i", "t")))
        .crossJoin(broadcast(top.select(col("a"), col("b"))))
        .withColumn("nxt", lead("t", 1).over(w))
        .withColumn("m", col("t") === col("a") && col("nxt") === col("b"))
        // run grouping: rn counts matches so far; within a run of
        // consecutive matched positions, i - rn is constant
        .withColumn("rn", sum(when(col("m"), 1L).otherwise(0L)).over(
          w.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("grp", when(col("m"), col("i") - col("rn")))
        .withColumn("taken", col("m") &&
          (col("rn") - min(when(col("m"), col("rn")))
            .over(W.partitionBy("word", "grp"))) % 2 === 0)
        .withColumn("dropped",
          coalesce(lag("taken", 1, false).over(w), lit(false)))
      vocab = ex.filter(!col("dropped"))
        .select(col("word"), col("n"), col("i"),
          when(col("taken"), concat(col("a"), col("b"))).otherwise(col("t"))
            .as("t"))
        .groupBy("word", "n")
        .agg(array_sort(collect_list(struct(col("i"), col("t"))))
          .getField("t").as("toks"))
        .stable
      totals += roundTotal(rnd, vocab)
    }
    // both outputs derive only from per-round checkpointed tables (tops
    // and vocabs), so they stay lazy: no extra jobs during training, and
    // any re-evaluation is a handful of 1-row aggregates over RDD scans
    (merges.result().reduce(_.union(_)),
     totals.result().reduce(_.union(_)))
  }

  /** Bigram next-token prediction table: for every head word with ≥ 50
    * bigram continuations, the top-3 most likely next tokens with exact
    * integer conditional probabilities (ppm of the head's continuation
    * mass). This is the count-based n-gram language model a data pipeline
    * builds for perplexity-style fluency filtering and autocomplete-style
    * QA of a corpus — the model-building complement of [[oovFilter]]'s
    * model-applying cut, and log-free like it (ranking by raw count ≡
    * ranking by conditional probability at fixed head).
    *
    * Scale shape: one (bigram)-keyed count (map-side combined), the head
    * totals are a second aggregation of that same table (not a rescan),
    * and the final top-3 is a WindowGroupLimit over the vocab²-bounded
    * bigram table — the corpus text never rides a shuffle wider than
    * tokenization. */
  def nextToken(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(Fns.words(col("text")).as("t"))
      .select(explode(Fns.bigramsArr(col("t"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .select(substring_index(col("bigram"), " ", 1).as("head"),
        element_at(split(col("bigram"), " "), 2).as("next_word"), col("cnt"))
    val heads = bg.groupBy("head").agg(sum("cnt").as("head_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("head").orderBy(col("cnt").desc, col("next_word"))
    bg.join(heads.filter(col("head_total") >= 50), Seq("head"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("head"), col("next_word"), col("cnt"), col("head_total"),
        expr("cnt * 1000000L div head_total").as("p_ppm"), col("rank"))
      .orderBy("head", "rank")
  }

  /** Structured-PII detection and masking over synthesized contact
    * strings: each customer row is rendered into a support-ticket-style
    * line (name + phone + email, all derived deterministically from the
    * key so both engines construct identical bytes), then the PII classes
    * are detected by pattern, masked (phone digits blanked, email keeps
    * only the domain), and verified by hash. The class-aware
    * complement of [[redact]]'s blanket digit masking — a real pipeline
    * runs exactly this shape over crawled text before training. Narrow
    * per-row projection, zero shuffle, embarrassingly parallel. */
  def piiScan(s: SparkSession, dir: String): DataFrame = {
    val line = concat(
      col("c_name"), lit(" phone 555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" email "), lower(regexp_replace(col("c_name"), "#", ".")),
      lit("@example.com"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), line.as("text"))
      .select(col("c_custkey"),
        size(regexp_extract_all(col("text"), lit("555-[0-9]{4}"), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("text"),
          lit("[a-z0-9.]+@[a-z.]+"), lit(0))).cast("long").as("n_emails"),
        Fns.polyHash(
          regexp_replace(
            regexp_replace(col("text"), "555-[0-9]{4}", "555-XXXX"),
            "[a-z0-9.]+@", "***@")).as("masked_hash"))
      .orderBy("c_custkey")
  }

  /** Benchmark decontamination: split the corpus into train/test by
    * content hash (deterministic, reproducible — the same discipline as
    * the sampling ops), then flag every test document sharing a word
    * 3-gram shingle with ANY train document, reporting the overlap size.
    * This is the eval-leakage check a training pipeline runs before
    * publishing a split; production uses longer shingles (8–13 tokens) to
    * ignore common phrases, but the machinery — hash split, int64 shingle
    * hashes (no raw text on the wire), distinct-shingle equi-join, per-doc
    * overlap counts — is identical at any n. Candidate volume is bounded
    * by the shingle join exactly as in [[dedupNgram]]; the oracle hashes
    * shingles identically, so collisions reproduce bit-for-bit. */
  def decontamination(s: SparkSession, dir: String): DataFrame = {
    // distinct AFTER hashing, matching the oracle's `SELECT DISTINCT
    // doc_id, h` exactly — the shared memo is one row per distinct
    // STRING, so projecting h and re-distincting collapses an
    // intra-document hash collision to one row exactly like hashing
    // the occurrence stream and distincting did (r14: fed from
    // [[hashedShingles]] instead of a fourth tokenize scan)
    val hashed = hashedShingles(s, dir)
      .select(col("doc_id"), col("h1").as("h"))
      .distinct()
    val split = Tables.documents(s, dir)
      .select(col("doc_id"), pmod(Fns.polyHash(col("text")), lit(10L)).as("b"))
    val test = split.filter(col("b") === 0).select("doc_id")
    val trainSh = hashed
      .join(split.filter(col("b") =!= 0).select("doc_id"), Seq("doc_id"))
      .select("h").distinct()
    val testSh = hashed.join(test, Seq("doc_id"))
    val counts = testSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val shared = testSh.join(trainSh, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    counts.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      // flag on the shared-shingle FRACTION (one exact division): with
      // short shingles any doc shares a few n-grams by chance, so the
      // leak signal is bulk overlap, not mere presence
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
      .withColumn("contaminated", col("overlap_frac") >= 0.6)
      .orderBy("doc_id")
  }

  /** Collocation mining: score each corpus bigram by PMI-equivalent lift
    * N·c(ab)/(c(a)·c(b)) — the association measure that separates real
    * collocations from chance co-occurrence. The log in textbook PMI is
    * monotone, so ranking by lift is rank-identical while staying
    * bit-portable across engines (libm log is not — same trade as
    * [[tfidf]]); all operands are exact int64 counts ≪ 2⁵³, so the one
    * double division is IEEE-identical. Corpus totals ride a broadcast
    * 1-row subplan; unigram joins are plain equi-joins (vocabulary-sized,
    * broadcast here, shuffle at web scale). Count floor 5, top 50 by
    * (lift, bigram) — a total order, so the cutoff is deterministic. */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(Fns.words(col("text")).as("t"))
    val uni = d.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bgs = d.select(explode(Fns.bigramsArr(col("t"))).as("bigram"))
    val bc = bgs.groupBy("bigram").agg(count(lit(1)).as("c_ab"))
    val n = bgs.agg(count(lit(1)).as("n_bg"))
    bc.filter(col("c_ab") >= 5)
      .crossJoin(broadcast(n))
      .join(uni.select(col("w").as("__wa"), col("c").as("c_a")),
        element_at(split(col("bigram"), " "), 1) === col("__wa"))
      .join(uni.select(col("w").as("__wb"), col("c").as("c_b")),
        element_at(split(col("bigram"), " "), 2) === col("__wb"))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab") * col("n_bg")).cast("double") /
         (col("c_a") * col("c_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(50)
  }

  /** Whole-document fingerprint: polynomial rolling hash over every
    * character — the cheap stand-in for a content-defined chunking hash;
    * integer arithmetic, oracle-reproducible. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Fns.polyHash(col("text")).as("fp"))
      .orderBy("doc_id")

  // ------------------------------------------------------------ similarity

  /** Importance sampling with a continuous per-document weight — the
    * data-mixing step that keeps each document with probability
    * proportional to a quality proxy (here length, capped at 1): keep iff
    * hash(text) mod 10⁶ < 10⁶·weight. Deterministic (no RNG — same
    * discipline as the discrete-rate [[mixtureSample]]), reproducible
    * across runs and engines, and embarrassingly parallel: one narrow
    * filter, no shuffle. */
  def importanceSample(s: SparkSession, dir: String): DataFrame = {
    val weight = least(lit(1.0), col("n_chars").cast("double") / lit(1500.0))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), weight.as("weight"),
        pmod(Fns.polyHash(col("text")), lit(1000000L)).as("__h"))
      .filter(col("__h").cast("double") < lit(1000000.0) * col("weight"))
      .select("doc_id", "lang", "n_chars", "weight")
      .orderBy("doc_id")
  }

  /** Int8 scalar quantization of the embedding column — the compression
    * step a vector store applies before indexing at 100 TB (4× smaller
    * than f32, distance computations on int8). Per vector: min/max range,
    * scale = range/255, q = clamp(floor((x−min)/scale + 0.5)), and the
    * max absolute reconstruction error |x − (min + q·scale)|. Every step
    * is elementwise-exact cross-engine: floor/abs/min/max are IEEE-exact,
    * the same division/multiply chain runs on both sides, and the only
    * aggregations are order-free (array min/max) — no sum, no libm. Narrow
    * projection, zero shuffle. */
  def embeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), v.as("v"))
      .withColumn("minv", array_min(col("v")))
      .withColumn("maxv", array_max(col("v")))
      .withColumn("scale", (col("maxv") - col("minv")) / lit(255.0))
      .withColumn("max_abs_err",
        when(col("scale") === 0, 0.0).otherwise(array_max(
          transform(col("v"), x => abs(x - (col("minv") +
            greatest(least(floor((x - col("minv")) / col("scale") + 0.5),
              lit(255.0)), lit(0.0)) * col("scale")))))))
      .select("vec_id", "minv", "maxv", "scale", "max_abs_err")
      .orderBy("vec_id")
  }

  private def embDouble(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Embedding-store health census — per label: vector count, dimension,
    * the norm² distribution (min/max/mean in exact micro units via the
    * strict left-to-right [[graft.functions.Fns.dotD]] fold, floored so
    * both engines land on the same integer), zero vectors, and dead
    * (exactly-zero) dimensions. This is the check a vector platform runs
    * on every re-embedding batch BEFORE indexes rebuild: a collapsed
    * encoder shows up as zero/deflated norms or dead dimensions long
    * before ANN recall visibly degrades (`q_ann_recall` is the
    * downstream symptom; this is the upstream cause monitor).
    *
    * Scale shape: everything per-row computes map-side (codegen'd fold +
    * array filter); one label-keyed aggregation; mean routed through
    * DECIMAL(38,0) so the sum can't overflow at corpus scale. */
  def embHealth(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("label"), size(col("v")).cast("long").as("dim"),
        floor(Fns.dotD(col("v"), col("v")) * lit(1e6)).cast("long").as("n2"),
        size(filter(col("v"), x => x === 0.0)).cast("long").as("zd"))
    rows.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), max(col("dim")).as("dim"),
        min(col("n2")).as("min_norm2_micro"),
        max(col("n2")).as("max_norm2_micro"),
        expr("cast(sum(cast(n2 as decimal(38,0))) div count(1) as bigint)")
          .as("avg_norm2_micro"),
        sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero_vecs"),
        sum(col("zd")).as("n_zero_dims"))
      .orderBy("label")
  }

  // The bucketed embedding table IS the LSH index: (vec_id, v, nrm) fanned
  // out to its (table, bucket) cells. Built once per (session, corpus) and
  // shared by the pairwise near-dup blocker and the probe-side ANN — the
  // index-build-once / probe-many shape a production vector store uses.
  // Size is vectors × tables rows (tiny next to the corpus); at 100 TB the
  // same table persists as a bucketed parquet layout instead.
  private val lshIndexCache = CorpusMemo[DataFrame]()

  private def lshIndex(s: SparkSession, dir: String): DataFrame =
    lshIndexCache(s, dir) {
      embDouble(s, dir).withColumn("nrm", normD(col("v")))
        .select(col("vec_id"), col("v"), col("nrm"),
          explode(LshPlanes.tableBuckets(col("v"))).as("tb"))
        .select(col("vec_id"), col("v"), col("nrm"),
                col("tb.t").as("t"), col("tb.bucket").as("bucket"))
        .stable
    }

  /** Brute-force cosine top-k: probes (vec_id < 5) broadcast against the
    * full corpus, per-probe top-10 via window rank. The exact baseline the
    * ANN variant is measured against. Dot products are strict left-to-right
    * folds → bit-identical to the oracle. */
  def similarityTopk(s: SparkSession, dir: String): DataFrame = {
    val e = embDouble(s, dir).withColumn("nrm", normD(col("v")))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (dotD(col("pv"), col("v")) / (col("pn") * col("nrm"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .orderBy("probe_id", "rank")
  }

  private val IvfCells = 16
  private val IvfNprobe = 2

  /** ANN via IVF (inverted-file index): a coarse quantizer of 16 centroids
    * partitions the corpus into cells; a probe scans only its nprobe=2
    * closest cells, then exact cosine re-ranks the candidates. Centroids
    * here are the first 16 corpus vectors (a deterministic stand-in for a
    * k-means codebook — training is an offline batch job at scale; lookup
    * structure and query path are identical) — which also makes the whole
    * assignment+probe+rank path deterministic and hash-checked against
    * the DuckDB oracle; the exact twin is [[similarityTopk]].
    *
    * Scale shape: assignment is a broadcast of 16 centroids over the
    * corpus (one narrow pass), the cell layout can be persisted/bucketed
    * once, and each query touches nprobe/cells of the data. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embDouble(s, dir).withColumn("nrm", normD(col("v")))
    val cents = e.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    def rankCells(df: DataFrame, idCol: String, vecCol: String, nrmCol: String,
                  keep: Int, out: String): DataFrame = {
      val scored = df.crossJoin(broadcast(cents))
        .select(df.columns.toIndexedSeq.map(col) :+ col("cent_id") :+
          (dotD(col(vecCol), col("cv")) / (col(nrmCol) * col("cn"))).as("ccos"): _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("ccos").desc, col("cent_id"))
      scored.withColumn("r", row_number().over(w)).filter(col("r") <= keep)
        .withColumnRenamed("cent_id", out)
    }
    val assigned = rankCells(e, "vec_id", "v", "nrm", 1, "cell")
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val probeCells = rankCells(
      e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn")),
      "probe_id", "pv", "pn", IvfNprobe, "cell")
      .select(col("probe_id"), col("pv"), col("pn"), col("cell"))
    val cand = assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (dotD(col("pv"), col("v")) / (col("pn") * col("nrm"))).as("cos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .orderBy("probe_id", "rank")
  }

  /** Embedding near-duplicate pairs via hyperplane-LSH blocking + exact
    * cosine verify: candidates are pairs sharing any (table, bucket) of
    * [[LshPlanes]], verified with the exact left-to-right-fold cosine and
    * kept at ≥ 0.4 (fixture vectors are random; real dup corpora would use
    * ≥ 0.95). Precision is exact; recall is the LSH OR-amplification
    * probability, and the DuckDB oracle reproduces the identical plane
    * constants so the blocked output is deterministic and hash-checkable.
    *
    * At 100 TB this is an equi-join on (table, bucket) — a linear shuffle,
    * never the O(n²) cross product of the brute-force formulation. */
  def embeddingNeardup(s: SparkSession, dir: String): DataFrame = {
    val eb = lshIndex(s, dir)
    val a = eb.select(col("t"), col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = eb.select(col("t"), col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dotD(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= 0.4)
      .distinct() // a pair can share buckets in several tables; cos is functional in the pair
      .orderBy("id_a", "id_b")
  }

  /** ANN via multi-table random-hyperplane LSH: independent tables of
    * sign-bit buckets; a probe's candidates are the union of its buckets,
    * then exact cosine re-rank keeps the top 10. Hyperplane components are
    * a deterministic hash of (plane, dim), so the index is reproducible
    * with no stored state — and, since round 2, the DuckDB oracle
    * regenerates the identical planes, making the whole candidate+rank
    * path hash-checked (recall < 1 vs the exact twin [[similarityTopk]]
    * is the documented trade, not an excuse to skip verification).
    *
    * At 100 TB: candidate generation is an equi-join on (table, bucket) —
    * a linear shuffle, never the O(n²) cross product; tables/planes tune
    * the recall/cost point, and the bucketed layout can be persisted once
    * and reused across probe batches. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val eb = lshIndex(s, dir)
    val probes = eb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
              col("nrm").as("pn"), col("t"), col("bucket"))
    val cand = eb.join(broadcast(probes), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (dotD(col("pv"), col("v")) / (col("pn") * col("nrm"))).as("cos"))
      .distinct() // union of buckets across tables; cos is functional in the pair
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .orderBy("probe_id", "rank")
  }

  /** All-corpus k-NN graph (k = 3) over the LSH index: every vector is a
    * probe, candidates are bucket-mates in any of the 8 tables, exact
    * cosine re-ranks. The k-NN graph is the substrate for graph-based
    * semantic clustering / connected-component dedup over embeddings.
    *
    * Scale shape: unlike [[annLsh]] (5 broadcast probes) this is the
    * symmetric self-equi-join on (table, bucket) — one linear shuffle of
    * id-only pairs. Vectors are joined back to the deduplicated id pairs
    * afterwards, so the wide 64-dim arrays never ride through the
    * pair-dedup exchange (ship ids, not payloads — the same discipline as
    * the shingle pipeline). */
  /** The deduplicated LSH candidate pair table — directed (src, nb)
    * bucket-mate pairs over [[lshIndex]]. Memoized per (session, corpus)
    * (round 18): [[knnGraph]] and [[hardNegatives]] build the IDENTICAL
    * pair set (same index, same dedup), so without the memo each ran the
    * 8-table self-join + distinct end to end. Id-only rows (tiny, like
    * the ngram/minhash pair memos). */
  private val embPairCache = CorpusMemo[DataFrame]()

  private def embPairs(s: SparkSession, dir: String): DataFrame =
    embPairCache(s, dir) {
      val idx = lshIndex(s, dir)
      idx.select(col("vec_id").as("src"), col("t"), col("bucket"))
        .join(idx.select(col("vec_id").as("nb"), col("t"), col("bucket")),
          Seq("t", "bucket"))
        .filter(col("src") =!= col("nb"))
        .select("src", "nb").distinct()
        .stable
    }

  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val pairs = embPairs(s, dir)
    val e = embDouble(s, dir).withColumn("nrm", normD(col("v")))
    val scored = pairs
      .join(e.select(col("vec_id").as("src"), col("v").as("sv"),
        col("nrm").as("sn")), Seq("src"))
      .join(e.select(col("vec_id").as("nb"), col("v").as("nv"),
        col("nrm").as("nn")), Seq("nb"))
      .select(col("src"), col("nb"),
        (dotD(col("sv"), col("nv")) / (col("sn") * col("nn"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("nb"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy("src", "rank")
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the 2 most-similar candidates carrying a DIFFERENT label —
    * the "looks alike, isn't" pairs a metric-learning run wants in its
    * batches. Candidates come from the shared multi-table LSH index
    * (same blocking as [[knnGraph]] — never an all-pairs join); labels
    * ride the id-only pair exchange and the label-mismatch filter runs
    * BEFORE vectors join back, so only genuine negative candidates pay
    * the dot-product cost. Cosines are the strict left-to-right folds
    * the oracle replays bit-for-bit; ties break by neighbor id. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val lbl = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val pairs = embPairs(s, dir) // shared memoized candidate table
    val e = embDouble(s, dir).withColumn("nrm", normD(col("v")))
    val scored = pairs
      .join(lbl.select(col("vec_id").as("src"), col("label").as("src_label")),
        Seq("src"))
      .join(lbl.select(col("vec_id").as("nb"), col("label").as("nb_label")),
        Seq("nb"))
      .filter(col("src_label") =!= col("nb_label"))
      .join(e.select(col("vec_id").as("src"), col("v").as("sv"),
        col("nrm").as("sn")), Seq("src"))
      .join(e.select(col("vec_id").as("nb"), col("v").as("nv"),
        col("nrm").as("nn")), Seq("nb"))
      .select(col("src"), col("src_label"), col("nb"), col("nb_label"),
        (dotD(col("sv"), col("nv")) / (col("sn") * col("nn"))).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("nb"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .orderBy("src", "rank")
  }

  /** GPT-style sequence packing: concatenate the corpus token stream in
    * doc_id order and cut it every `SeqLen` tokens — the standard
    * pack-then-slice step that turns variable-length documents into
    * fixed-length training sequences with zero padding. Output is the
    * per-sequence manifest (docs spanned, tokens, doc_id range).
    *
    * The global running token offset is computed as a two-phase prefix
    * sum — per-block partials, a running offset over the small block
    * table, then a within-block window — so no stage ever needs the
    * single-partition global window that a naive `Window.orderBy(doc_id)`
    * cumsum would plan. The block size is ADAPTIVE: `blk = doc_id div
    * greatest(PackBlock, (max_id + 1) div PackMaxBlocks)`, with the
    * corpus extent coming from a 1-row aggregate broadcast onto the
    * stream. That caps the block-offset table at PackMaxBlocks + 1 rows
    * AT ANY CORPUS SIZE (10⁰… docs alike), so both the unpartitioned
    * running-offset window over it and its broadcast re-join are bounded
    * — a fixed `div 64` would make the table corpus-linear (n/64 rows
    * through one window task and one driver broadcast at 10¹⁰ docs).
    * Block boundaries cannot affect the output: the two-phase sum is
    * exact for every monotone blocking, so the manifest is bit-identical
    * for any block size and the oracle computes the same prefix sum with
    * one flat window, which is fine at DuckDB's scale. */
  private val SeqLen = 256L
  private val PackBlock = 64L
  private val PackMaxBlocks = 10000L

  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val ext = Tables.documents(s, dir).agg(max(col("doc_id")).as("mx"))
    // empty docs drop on the RAW text (round 18): n > 0 ⟺ any non-space
    // char (tokens here are the maximal non-space runs) — the filter on
    // the computed n pushed below the projection with the split INLINED,
    // paying the tokenize twice per row; `.stable` because this narrow
    // (doc_id, n, blk) table feeds BOTH the block-totals aggregation and
    // the within-block cumulative join — without it each consumer
    // re-scans and re-splits the corpus (one row per doc, the same
    // bounded-intermediate class as the rfm base).
    val d = Tables.documents(s, dir)
      .filter(col("text").rlike("[^ ]"))
      .select(col("doc_id"),
        size(filter(split(col("text"), " +"), t => t =!= lit("")))
          .cast("long").as("n"))
      .crossJoin(broadcast(ext))
      .withColumn("blk", expr(
        s"doc_id div greatest(${PackBlock}L, (mx + 1) div $PackMaxBlocks)"))
      .drop("mx")
      .stable
    val blockTotals = d.groupBy("blk").agg(sum("n").as("bt"))
    val wBlk = w.orderBy("blk")
      .rowsBetween(w.unboundedPreceding, -1)
    val offsets = blockTotals
      .withColumn("off", coalesce(sum("bt").over(wBlk), lit(0L)))
      .drop("bt")
    val wIn = w.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(w.unboundedPreceding, -1)
    val cum = d.join(broadcast(offsets), "blk")
      .withColumn("cb", col("off") + coalesce(sum("n").over(wIn), lit(0L)))
    cum
      .select(col("doc_id"), col("n"), col("cb"),
        explode(sequence(expr(s"cb div $SeqLen"),
          expr(s"(cb + n - 1) div $SeqLen"))).as("seq"))
      .groupBy(col("seq").as("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("cb") + col("n"), (col("seq") + 1) * SeqLen) -
            greatest(col("cb"), col("seq") * SeqLen)).as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("seq_id")
  }

  /** Fixed-point BM25 retrieval scoring (k₁ = 1.2, b = 0.75) for a fixed
    * conjunctive term set, top 15 docs. All arithmetic is integer-exact:
    * with S = Σ doc lengths and N = corpus size, the per-term score
    *
    *   idf·tf_norm = [(10⁶·(2N−2df+1)) div (2df+1)] · (22·S·tf)
    *                 div (10·S·tf + 3·S + 9·dl·N)
    *
    * is the BM25 formula with the 0.5-idf-smoothing and k₁/b fractions
    * cleared to integers (×2 and ×10·S respectively) and the log dropped
    * for its rational argument — the same monotone log-free routing as
    * the PMI collocations, so ranking is deterministic and bit-identical
    * in both engines (libm log is NOT correctly rounded; a double-log
    * BM25 can hash-diverge cross-engine). The idf product runs through
    * decimal(38,0)/HUGEINT so it cannot overflow int64 at corpus scale.
    *
    * Scale shape: tf is one (doc, term)-keyed aggregation of the filtered
    * token stream, df and the corpus totals are broadcast one-row/3-row
    * subplans, and the final ranking is TakeOrdered — no corpus-sized
    * sort, no driver materialization. */
  private val Bm25Terms = Seq("spark", "table", "hash")

  def bm25(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        Fns.words(col("text")).as("t"))
    // `.stable` (round 18): dl feeds both the corpus stats aggregate and
    // the per-doc score join — two compiled subtrees, each re-running
    // the scan+tokenize underneath. One narrow row per doc (the same
    // bounded-intermediate class as the rfm base); the tf branch below
    // still tokenizes exactly once.
    val dl = toks.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
      .stable
    val stats = dl.agg(count(lit(1)).as("nn"), sum("dl").as("ss"))
    val tf = toks.select(col("doc_id"), explode(col("t")).as("w"))
      .filter(col("w").isin(Bm25Terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("dfc"))
    tf.join(dl, "doc_id")
      .join(broadcast(df), "w")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr("""CAST((1000000 * (2*nn - 2*dfc + 1)) div (2*dfc + 1)
                AS DECIMAL(38,0)) * (22 * ss * tf)
                div (10 * ss * tf + 3 * ss + 9 * dl * nn)""").as("ts"))
      .groupBy("doc_id").agg(sum("ts").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(15)
  }

  /** Deterministic shard-export manifest: route every document to one of
    * 16 output shards by content hash (the reproducible, RNG-free
    * assignment a 100 TB corpus export uses so any shard can be re-built
    * independently) and report per-shard docs / tokens / chars / id
    * range — the manifest a downstream trainer validates against. One
    * narrow scan plus one 16-group aggregation; at cluster scale the
    * same hash becomes the `repartition` key of the actual write. */
  def shardExport(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        pmod(polyHash(col("text")), lit(16L)).as("shard"),
        size(filter(split(col("text"), " +"), t => t =!= lit("")))
          .cast("long").as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")

  /** Temperature-based data mixing (α = 0.5): per-language sampling
    * weights ∝ √n — the T5/multilingual-LM recipe that up-weights
    * low-resource slices relative to proportional sampling. Weights are
    * floor(√n) (IEEE sqrt is correctly rounded, floor makes it an exact
    * integer in both engines) and shares/targets are integer div against
    * the broadcast weight total, so the whole mixing table is
    * bit-reproducible. Per-language doc targets assume a 100 000-doc
    * budget. One groupBy(lang) over a narrow scan plus a broadcast 1-row
    * total — nothing here grows with the corpus beyond the first count. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val byLang = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = byLang.agg(sum("weight").as("w_tot"))
    byLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("weight"),
        expr("(weight * 1000000) div w_tot").as("share_ppm"),
        expr("(weight * 100000) div w_tot").as("target_docs"))
      .orderBy("lang")
  }

  /** Verbatim-substring dedup (the span-level complement of the whole-doc
    * near-dup family, after Lee et al. 2022's "Deduplicating Training
    * Data Makes Language Models Better"): every 20-token window of every
    * document is hashed (stride 1), and a document is flagged when it
    * shares a span hash with a lower-id document — quotation / boilerplate
    * reuse that whole-doc Jaccard misses. Output: flagged doc, how many of
    * its distinct spans are duplicated, and the earliest witness doc.
    *
    * Scale shape: span rows grow linearly in corpus tokens; ownership is
    * ONE groupBy(span hash) and the flagging join is span→owner (linear,
    * one row per span) — there is NO pair explosion anywhere, unlike
    * shingle-Jaccard, because the question is "seen before?", not "how
    * similar?". The hash is computed in a top-level projection after the
    * explode so it stays codegen'd (HOF lambdas run interpreted). */
  /** OOV-bigram fluency filter — the log-free stand-in for an n-gram-LM
    * perplexity cut (the KenLM pass of a web-corpus pipeline): score each
    * document by the fraction of its word bigrams that fall outside the
    * corpus top-200 bigram vocabulary, in exact integer ppm, and surface
    * the 25 most out-of-model documents. A perplexity score proper is a
    * sum of logs (not cross-engine bit-stable); the OOV fraction ranks
    * fluency the same way on a fixed vocabulary and hashes exactly.
    *
    * Scale shape: the vocabulary is a TakeOrdered top-k (per-partition
    * heaps) broadcast to a left join against the bigram stream; one
    * (doc)-keyed aggregation scores the corpus. Ties at the vocabulary
    * boundary break lexicographically in both engines. */
  def oovFilter(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        Fns.words(col("text")).as("t"))
    // tokenize ONCE: the (doc, bigram) multiset feeds both the global
    // vocabulary (second-level aggregation) and the per-doc scoring.
    // Both branches sit in one action, so the (doc_id, bigram) shuffle
    // is planned once and reused (ReuseExchange) — one corpus pass at
    // 100 TB instead of two, with no materialized intermediate
    val base = d
      .select(col("doc_id"), explode(bigramsArr(col("t"))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("k"))
    val top = base.groupBy("bigram").agg(sum("k").as("cnt"))
      .orderBy(col("cnt").desc, col("bigram")).limit(200)
      .select(col("bigram"), lit(1).as("seen"))
    base.join(broadcast(top), Seq("bigram"), "left")
      .groupBy("doc_id")
      .agg(sum("k").as("n_bg"),
        sum(when(col("seen").isNull, col("k")).otherwise(lit(0L))).as("n_oov"))
      .select(col("doc_id"), col("n_bg"), col("n_oov"),
        expr("(n_oov * 1000000) div n_bg").as("oov_ppm"))
      .orderBy(col("oov_ppm").desc, col("doc_id"))
      .limit(25)
  }

  private val SpanTokens = 20

  /** Raw-text test for "at least [[SpanTokens]] tokens": 19 (letter-run,
    * separator) pairs then a 20th run start. Valid only for the ASCII
    * [[Fns.TokenPattern]] tokenizer (tokens are exactly the maximal
    * [a-zA-Z] runs); a query that switches to `tokensArrUnicode` must
    * change the letter class here too. The possessive runs never give
    * back letters, and the lookbehind starts a match only at a run start,
    * so `find` is linear: without it every offset inside a long letter
    * run rescans the rest of the run (3 runs of 10⁵ letters: 76 s
    * possessive, 37 ms anchored, JDK 17 on one Xeon vCPU). The match
    * from a run start covers whole runs, so the row set is the same. */
  private[graft] val SpanPrefilter =
    s"(?<![a-zA-Z])(?:[a-zA-Z]++[^a-zA-Z]++){${SpanTokens - 1}}[a-zA-Z]"

  def substringDedup(s: SparkSession, dir: String): DataFrame = {
    // span-less docs drop on the RAW text (round 18): one regex find with
    // an early exit on long docs ([[SpanPrefilter]]), instead of the
    // pushed-down `size(t) >= 20` re-tokenizing every row a second time
    // below the span projection; the row set is identical.
    val d = Tables.documents(s, dir)
      .filter(col("text").rlike(SpanPrefilter))
      .select(col("doc_id"),
        Fns.words(col("text")).as("t"))
    val spans = d
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("t")) - SpanTokens),
          i => concat_ws(" ", slice(col("t"), i + 1, lit(SpanTokens))))).as("sp"))
      .select(col("doc_id"), polyHash(col("sp")).as("h"))
      .distinct()
    // ONE pass over the span table (round 17): the owner (min doc_id)
    // and the span's document count are PER-SPAN-HASH window aggregates
    // — the old groupBy-then-join-back shape compiled the corpus-sized
    // span pipeline (tokenize + 20-token span explode + hash + distinct)
    // into BOTH join inputs, re-running it end to end, and then shuffled
    // both for the SMJ. The window needs exactly the join's h-exchange
    // and nothing else; rows, counts, and witnesses are integer-identical.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    spans
      .withColumn("owner", min("doc_id").over(w))
      .withColumn("nd", count(lit(1)).over(w))
      .filter(col("nd") > 1 && col("doc_id") > col("owner"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"), min("owner").as("first_witness"))
      .orderBy("doc_id")
  }
}

/** Deterministic random-hyperplane LSH shared by [[Pipeline.annLsh]] and
  * [[Pipeline.embeddingNeardup]] (and regenerated verbatim by the DuckDB
  * oracle of the latter — see [[graft.Oracles]]).
  *
  * 8 tables × 5 sign bits: tuned for the fixture's near-orthogonal random
  * vectors (best true neighbors sit at cos ≈ 0.4 ⇒ per-plane agreement
  * only ~0.63, so recall needs OR-amplification across tables). On a real
  * corpus with near-dups at cos ≥ 0.9, fewer tables with more planes give
  * the same recall far cheaper; planes-per-table should grow ~log(corpus)
  * to keep bucket occupancy constant at scale.
  *
  * Plane components are (m − 500)/512 with m = mix(plane·dim + d) mod 1000:
  * the /512 (power of two) makes every constant an exactly-representable
  * double, so the oracle's SQL literals convert to the identical bits. */
private[graft] object LshPlanes {
  val NTables = 8
  val PlanesPerTable = 5
  val Dim = 64

  private def mix(x0: Int): Int = { // xorshift-style integer mix
    var x = x0 * 0x9e3779b1
    x ^= x >>> 16; x *= 0x85ebca6b; x ^= x >>> 13; x *= 0xc2b2ae35; x ^= x >>> 16
    x
  }

  /** The 64 components of plane `p`, exactly-representable doubles. */
  def planeValues(p: Int): IndexedSeq[Double] =
    (0 until Dim).map(d => (math.floorMod(mix(p * Dim + d), 1000) - 500) / 512.0)

  // Planes materialized driver-side as literal arrays: the per-row work is
  // one codegen'd `Fns.dotD` per plane instead of interpreted regeneration.
  private def plane(p: Int): Column = array(planeValues(p).map(lit): _*)

  private def bucketFor(v: Column, t: Int): Column = {
    val bits = (0 until PlanesPerTable).map { j =>
      val p = t * PlanesPerTable + j
      when(Fns.dotD(v, plane(p)) > 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** array<struct<t,bucket>> of the vector's bucket in every table. */
  def tableBuckets(v: Column): Column =
    array((0 until NTables).map(t =>
      struct(lit(t).as("t"), bucketFor(v, t).as("bucket"))): _*)
}
