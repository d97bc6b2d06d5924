package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.util.Checkpoints.StableOps

/** Pipeline-quality evaluation operators: the measurements a production
  * training-data platform runs continuously over its own indexes and
  * models — ANN recall against the exact baseline, and a
  * nearest-prototype classifier confusion matrix over the labeled
  * embedding corpus.
  *
  * Both are deterministic and integer-exact (counts and ppm fractions,
  * no libm), so the DuckDB oracle reproduces them bit-for-bit; and both
  * ride plans that are already verified hash-green ([[Pipeline.annLsh]],
  * [[Pipeline.similarityTopk]], the [[Clustering.labelCentroids]]
  * centroid table), so the eval layer adds no new scale hazard: its
  * inputs are top-k tables (10 rows per probe) and a k-row centroid
  * broadcast.
  *
  * Reference analog: the reference proves its own correctness by diffing
  * against a sequential oracle (`test-mr.sh:60-117`); these queries are
  * the same philosophy applied to approximate operators, where the
  * "diff" is a quantified recall/accuracy instead of byte equality.
  */
object Evaluation {

  /** Recall@10 of the multi-table LSH ANN ([[Pipeline.annLsh]]) against
    * the exact brute-force top-10 ([[Pipeline.similarityTopk]]), per
    * probe: |ANN ∩ exact| / |exact| in exact parts-per-million. The
    * continuous index-quality monitor of a vector store — run on a probe
    * sample, it detects recall regressions after re-index or plane/table
    * retuning.
    *
    * Scale shape: both inputs end at 10 rows per probe, so the eval join
    * is probe-sample-sized regardless of corpus size; the cost is the two
    * underlying (already linear-shuffle) pipelines, and the LSH index is
    * the shared cached build. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = Pipeline.similarityTopk(s, dir).select(col("probe_id"), col("vec_id"))
    val ann = Pipeline.annLsh(s, dir)
      .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(ann, Seq("probe_id", "vec_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("probe_id"), col("n_exact"), col("n_hit"),
        expr("n_hit * 1000000L div n_exact").as("recall_ppm"))
      .orderBy("probe_id")
  }

  /** Nearest-prototype classifier evaluation: assign every labeled
    * vector to its closest per-label centroid (the
    * [[Clustering.labelCentroids]] prototypes, int64-quantized space,
    * codegen'd integer squared distance, ties by label) and cross-tab
    * predictions against true labels — the confusion matrix with exact
    * per-true-label share_ppm. This is the eval step of a
    * prototype-based labeling pipeline (few-shot classification over
    * embeddings); training-data platforms run it to monitor label noise
    * and embedding drift.
    *
    * Scale shape: the 10-row centroid table is an aggregate of one
    * (label, dim) shuffle and broadcasts to every executor; assignment is
    * a narrow map-side pass (corpus × k integer folds), and the output
    * is at most k² cells. Diagonal cells are the per-class hits. */
  /** Shared nearest-prototype distance table: every labeled vector ×
    * every per-label centroid with the exact integer squared distance
    * (vec_id, true_label, plabel, dist). The k-row centroid table is an
    * aggregate of one (label, dim) shuffle and broadcasts; the cross
    * join is a narrow map-side pass (corpus × k). Shared by the
    * confusion matrix, Cohen's kappa, the calibration curve, and the
    * centroid silhouette so all four evals score against the SAME
    * prototypes. */
  /** Memoized per (session, corpus) like the MinHash signature table:
    * four declared queries (confusion, kappa, calibration, silhouette)
    * ride this subtree, and the table is corpus × k fixed-width rows —
    * exactly what a production eval job materializes once per corpus
    * snapshot. */
  private val protoCache = graft.util.CorpusMemo[DataFrame]()

  private[operators] def protoDistances(s: SparkSession, dir: String): DataFrame =
    protoCache(s, dir)(computeProtoDistances(s, dir).stable)

  private def computeProtoDistances(s: SparkSession, dir: String): DataFrame = {
    val q = Clustering.labeledQVecs(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("true_label"),
        col("qv"))
    // per-label prototype centroids: the SAME cells (quantization +
    // truncated mean) as Clustering.labelCentroids, assembled to vectors
    val cents = Clustering.labelCentroidCells(s, dir)
      .select(col("label").cast("long").as("plabel"), col("i"), col("c"))
      .groupBy("plabel")
      .agg(array_sort(collect_list(struct(col("i"), col("c"))))
        .getField("c").as("cv"))
    q.crossJoin(broadcast(cents))
      .withColumn("dist", Fns.sqDistL(col("qv"), col("cv")))
  }

  def evalConfusion(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("plabel"))
    val pred = protoDistances(s, dir)
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("vec_id"), col("true_label"), col("plabel").as("pred_label"))
    val rowTot = pred.groupBy("true_label").agg(count(lit(1)).as("n_true"))
    pred.groupBy("true_label", "pred_label").agg(count(lit(1)).as("n"))
      .join(broadcast(rowTot), Seq("true_label"))
      .select(col("true_label"), col("pred_label"), col("n"), col("n_true"),
        expr("n * 1000000L div n_true").as("share_ppm"))
      .orderBy("true_label", "pred_label")
  }

  /** Cohen's kappa of the nearest-prototype classifier: chance-corrected
    * agreement between predicted and true labels, the single-number
    * companion to the confusion matrix a labeling pipeline tracks over
    * time (accuracy alone is inflated by class imbalance). All exact
    * integer arithmetic in ppm: po = diagonal/N, pe = Σ row_t·col_t / N²,
    * κ = (N·diag − Σrc) / (N² − Σrc).
    *
    * Scale shape: everything after the shared prototype assignment is
    * k²-sized (k = label count) — the marginals and their product sum are
    * tiny aggregates. The N·N products stay in int64 up to N ≈ 3·10⁹
    * rows; past that the same marginal cells would feed a DECIMAL(38)
    * fold, no shape change. */
  def kappa(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("plabel"))
    val pred = protoDistances(s, dir)
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("true_label"), col("plabel").as("pred_label"))
    // single-pass unpivot: each prediction emits its true label (row
    // marginal), its predicted label (column marginal), and — when they
    // agree — a diagonal marker, so ONE corpus pass feeds one k-row
    // aggregate (a naive cells→rowTot/colTot/tot fan-out replays the
    // whole prediction subtree per marginal: 3 corpus reads at 100 TB)
    val marginals = pred.select(explode(array(
        struct(col("true_label").as("lbl"), lit("r").as("kind")),
        struct(col("pred_label").as("lbl"), lit("c").as("kind")),
        struct(when(col("true_label") === col("pred_label"),
            col("true_label")).otherwise(lit(-1L)).as("lbl"),
          lit("a").as("kind")))).as("t"))
      .select(col("t.lbl").as("lbl"), col("t.kind").as("kind"))
      .groupBy("lbl")
      .agg(sum(when(col("kind") === "r", 1L).otherwise(0L)).as("rn"),
        sum(when(col("kind") === "c", 1L).otherwise(0L)).as("cn"),
        sum(when(col("kind") === "a" && col("lbl") >= 0, 1L)
          .otherwise(0L)).as("an"))
    marginals
      .agg(sum(col("rn")).as("n_total"), sum(col("an")).as("n_agree"),
        sum(col("rn") * col("cn")).as("sum_rc"))
      .select(col("n_total"), col("n_agree"),
        expr("n_agree * 1000000L div n_total").as("po_ppm"),
        expr("sum_rc * 1000000L div (n_total * n_total)").as("pe_ppm"),
        expr("(n_total * n_agree - sum_rc) * 1000000L div " +
          "(n_total * n_total - sum_rc)").as("kappa_ppm"))
  }

  /** Centroid (simplified) silhouette per label cluster: a = squared
    * distance to the own-label prototype, b = min squared distance to any
    * other prototype, s = (b−a)/max(a,b) ∈ [−1, 1] in ppm. The standard
    * embedding-space cluster-cohesion monitor, in its linear-time
    * centroid form — the classic all-pairs silhouette is O(n²) and can
    * never run at corpus scale, while this variant is one narrow pass
    * over the shared prototype-distance table. Squared distances keep it
    * integer-exact (no sqrt); the ratio is a floor of an IEEE-exact
    * division of two < 2⁵³ integers, so the oracle reproduces it
    * bit-for-bit. */
  def silhouette(s: SparkSession, dir: String): DataFrame = {
    val ab = protoDistances(s, dir)
      .groupBy("vec_id", "true_label")
      .agg(min(when(col("plabel") === col("true_label"), col("dist"))).as("a"),
        min(when(col("plabel") =!= col("true_label"), col("dist"))).as("b"))
    val sil = ab.withColumn("s_ppm",
      when(greatest(col("a"), col("b")) === 0, lit(0L))
        .otherwise(floor((col("b") - col("a")).cast("double") * lit(1e6) /
          greatest(col("a"), col("b")).cast("double")).cast("long")))
    sil.groupBy("true_label")
      .agg(count(lit(1)).as("n_vecs"),
        floor(sum(col("s_ppm")).cast("double") / count(lit(1)))
          .cast("long").as("mean_sil_ppm"),
        min(col("s_ppm")).as("min_sil_ppm"),
        max(col("s_ppm")).as("max_sil_ppm"))
      .orderBy("true_label")
  }

  /** Calibration curve (reliability diagram) of the nearest-prototype
    * classifier: pseudo-confidence from the top-2 distance margin,
    * conf = d₂/(d₁+d₂) ∈ [0.5, 1], binned into ten equal-width buckets
    * over the OBSERVED confidence range (high-dimensional margins
    * cluster tightly near 0.5, so fixed [0.5, 1] buckets would collapse
    * into one) with per-bin accuracy, mean confidence, and |acc − conf|
    * gap — the table behind an expected-calibration-error monitor. A
    * data platform runs this to decide whether classifier scores can
    * gate data (on a calibrated classifier, higher-confidence bins show
    * higher accuracy).
    *
    * Integer-exact throughout: conf_ppm is a floored IEEE division of
    * < 2⁵³ integers, bin sums are int64, per-bin means use integral
    * division — so the DuckDB oracle hash-matches. Scale shape: one
    * narrow pass over the shared prototype-distance table, then a
    * ≤ 10-row aggregate. */
  def calibration(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("plabel"))
    val per = protoDistances(s, dir)
      .withColumn("r", row_number().over(w)).filter(col("r") <= 2)
      .groupBy("vec_id", "true_label")
      .agg(min(when(col("r") === 1, col("plabel"))).as("pred_label"),
        min(when(col("r") === 1, col("dist"))).as("d1"),
        min(when(col("r") === 2, col("dist"))).as("d2"))
    val conf = per
      .withColumn("conf_ppm",
        when(col("d1") + col("d2") === 0, lit(500000L))
          .otherwise(floor(col("d2").cast("double") * lit(1e6) /
            (col("d1") + col("d2")).cast("double")).cast("long")))
      .withColumn("hit",
        when(col("pred_label") === col("true_label"), lit(1L))
          .otherwise(lit(0L)))
    // observed-range bounds: one tiny broadcast aggregate; +1 in the
    // denominator keeps the top value in bin 9 and guards the
    // all-equal-confidence case without a branch
    val bounds = conf.agg(min(col("conf_ppm")).as("cmin"),
      max(col("conf_ppm")).as("cmax"))
    val scored = conf.crossJoin(broadcast(bounds))
      .withColumn("bin",
        expr("(conf_ppm - cmin) * 10L div (cmax - cmin + 1)"))
    scored.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("n_hit"),
        expr("sum(hit) * 1000000L div count(1)").as("acc_ppm"),
        expr("sum(conf_ppm) div count(1)").as("avg_conf_ppm"))
      .withColumn("gap_ppm", abs(col("acc_ppm") - col("avg_conf_ppm")))
      .orderBy("bin")
  }

  /** Embedding-drift monitor: per-label centroid shift between the two
    * vec_id-parity halves of the embedding corpus — the vector-space
    * companion to [[driftTvd]]/[[ksTest]] (a re-embedded or upstream-
    * shifted corpus moves its class centroids before any scalar metric
    * notices). Same int64 quantization and truncated-mean cells as
    * [[Clustering.labelCentroidCells]], computed per half from ONE
    * (label, dim, half) aggregation; the shift is the exact L1 distance
    * between the paired centroid vectors plus the dimension-max shift.
    *
    * Scale shape: one corpus-linear shuffle to ≤ k·64·2 cells, then a
    * k-row tail. */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val cells = Clustering.labeledQVecs(s, dir)
      .select(col("label"), pmod(col("vec_id"), lit(2L)).as("half"),
        posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("label", "half", "i")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("c", Clustering.truncDiv(col("sx"), col("n")))
    val paired = cells.groupBy("label", "i")
      .agg(min(when(col("half") === 0L, col("c"))).as("c0"),
        min(when(col("half") === 1L, col("c"))).as("c1"),
        max(when(col("half") === 0L, col("n"))).as("n0"),
        max(when(col("half") === 1L, col("n"))).as("n1"))
    paired.groupBy("label")
      .agg(max(col("n0")).as("n_even"), max(col("n1")).as("n_odd"),
        sum(abs(col("c0") - col("c1"))).as("l1_shift"),
        max(abs(col("c0") - col("c1"))).as("max_dim_shift"))
      .orderBy("label")
  }

  /** Distribution-drift monitor: total-variation distance between the
    * early and late half of the event stream, per event type, over a
    * 10-bin equal-width histogram of `value`. TVD = ½·Σ|p_b − q_b| is the
    * libm-free drift metric (PSI's ln() is not bit-reproducible across
    * engines; TVD in exact ppm shares is), and it is what a feed monitor
    * alerts on when an upstream schema or logging change shifts a
    * metric's distribution.
    *
    * Scale shape: the time/value bounds are one tiny broadcast aggregate;
    * tagging is map-side; the histogram is a (type, half, bin) count —
    * ≤ 10·2·k cells regardless of corpus size. No window over a global
    * ordering anywhere (an ntile-based split would single-partition the
    * sort at 100 TB; the midpoint-boundary split stays embarrassingly
    * parallel). */
  /** Two-sample Kolmogorov–Smirnov statistic between the early and late
    * half of the event stream, per event type: D = max |F_early(x) −
    * F_late(x)| over the pooled observed values — the unbinned companion
    * to [[driftTvd]] (TVD sees only what the 10 bins see; KS catches a
    * pure location shift inside one bin). Exact ppm arithmetic: the two
    * CDFs are cumulative integer counts over distinct values, so the
    * statistic is a max of |integer − integer|.
    *
    * Scale shape: distinct (type, value) cells first (one shuffle), then
    * a per-type ordered window over CELLS (bounded by distinct values,
    * not rows) whose partitioning is reused by the total-count window and
    * the final per-type aggregate — a per-type sort is the price of an
    * exact KS; the sketch alternative (KLL quantiles) trades exactness
    * for a mergeable pass. */
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("tus"), col("value"))
    val bounds = ev.agg(min(col("tus")).as("tmin"), max(col("tus")).as("tmax"))
    val cells = ev.crossJoin(broadcast(bounds))
      .withColumn("early",
        (col("tus") * 2 <= col("tmin") + col("tmax")).cast("long"))
      .groupBy("event_type", "value")
      .agg(sum(col("early")).as("ce"), sum(lit(1L) - col("early")).as("cl"))
    val wCum = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    cells
      .withColumn("cume", sum(col("ce")).over(wCum))
      .withColumn("cuml", sum(col("cl")).over(wCum))
      .withColumn("ne", sum(col("ce")).over(wAll))
      .withColumn("nl", sum(col("cl")).over(wAll))
      .groupBy("event_type")
      .agg(max(col("ne")).as("n_early"), max(col("nl")).as("n_late"),
        max(abs(expr("cume * 1000000L div ne") -
          expr("cuml * 1000000L div nl"))).as("ks_ppm"))
      .orderBy("event_type")
  }

  /** Two-proportion z-test over a deterministic user split (user_id
    * parity as the arm assignment): per-user LANDING conversion (first
    * event by event time is a purchase — an "exists any purchase" metric
    * saturates to 100% on a dense event log and degenerates the pooled
    * variance), pooled standard error, z = (p_t − p_c)/√(p̂(1−p̂)(1/n_c +
    * 1/n_t)) — the experiment-analysis primitive a platform runs over
    * event logs. The float discipline that makes a double-valued z
    * hash-reproducible: every input to the formula is an exact (< 2⁵³)
    * integer, each division/multiplication is a single correctly-rounded
    * IEEE op in a fixed written order, and √ is correctly rounded by
    * IEEE 754 (unlike ln/exp, which is why [[driftTvd]] avoids PSI but z
    * can keep its sqrt). A degenerate pool (0% or 100% conversion) has
    * zero variance; z is defined 0 there — under ANSI mode the raw 0/0
    * would throw, not NaN. Scale shape: one per-user window (first
    * event), one user-keyed aggregation, then a 1-row fold. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val users = graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"),
        pmod(col("user_id"), lit(2L)).as("arm"))
    val t = users.agg(
      sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_control"),
      sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("conv_control"),
      sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_treat"),
      sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("conv_treat"))
    val pc = col("conv_control").cast("double") / col("n_control")
    val pt = col("conv_treat").cast("double") / col("n_treat")
    val pp = (col("conv_control") + col("conv_treat")).cast("double") /
      (col("n_control") + col("n_treat"))
    val convTot = col("conv_control") + col("conv_treat")
    t.select(col("n_control"), col("conv_control"),
      col("n_treat"), col("conv_treat"),
      pc.as("p_control"), pt.as("p_treat"),
      when(convTot === 0L ||
          convTot === col("n_control") + col("n_treat"), lit(0.0))
        .otherwise((pt - pc) / sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_control") + lit(1.0) / col("n_treat"))))
        .as("z"))
  }

  def driftTvd(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("tus"), col("value"))
    val bounds = ev.agg(min(col("tus")).as("tmin"), max(col("tus")).as("tmax"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("tus") * 2 <= col("tmin") + col("tmax"), lit("early"))
          .otherwise(lit("late")))
      .withColumn("bin",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(lit(9L),
            floor((col("value") - col("vmin")) * lit(10.0) /
              (col("vmax") - col("vmin"))).cast("long"))))
    val cells = tagged.groupBy("event_type", "bin")
      .agg(sum(when(col("half") === "early", lit(1L)).otherwise(lit(0L))).as("ce"),
        sum(when(col("half") === "late", lit(1L)).otherwise(lit(0L))).as("cl"))
    val totals = cells.groupBy("event_type")
      .agg(sum(col("ce")).as("n_early"), sum(col("cl")).as("n_late"))
    cells.join(broadcast(totals), Seq("event_type"))
      .withColumn("pe", expr("ce * 1000000L div n_early"))
      .withColumn("pl", expr("cl * 1000000L div n_late"))
      .groupBy("event_type")
      .agg(max(col("n_early")).as("n_early"), max(col("n_late")).as("n_late"),
        expr("sum(abs(pe - pl)) div 2").as("tvd_ppm"))
      .orderBy("event_type")
  }

  /** Chi-square independence test of language × source over the
    * document corpus — "does each crawl source carry the same language
    * mix?", the categorical complement of the numeric drift monitors
    * ([[ksTest]], [[driftTvd]]). χ² = Σ (O−E)²/E with E = R·C/N is
    * evaluated cell-exactly in integer micro-units:
    * term = (O·N − R·C)²·10⁶ div (N·R·C), every factor an exact count,
    * the square routed through DECIMAL(38,0) (it overflows int64), and
    * the statistic the exact integer sum of the ≤ |langs|·|sources|
    * per-cell terms — so, unlike a float χ², it hash-verifies.
    *
    * Scale shape: ONE corpus pass collapses to the contingency cells;
    * marginals are re-aggregations of the CELL table (never a second
    * corpus read), broadcast back onto it; the output is 1 row with the
    * degrees of freedom alongside. */
  def chi2(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rt = cells.groupBy("lang").agg(sum(col("o")).as("r"))
    val ct = cells.groupBy("source").agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("nl"),
      countDistinct(col("source")).as("ns"))
    cells.join(broadcast(rt), "lang").join(broadcast(ct), "source")
      .crossJoin(broadcast(n))
      .withColumn("term",
        expr("cast((o * n - r * c) as decimal(38,0)) * (o * n - r * c)" +
          " * 1000000 div (cast(n as decimal(38,0)) * r * c)").cast("long"))
      .agg(max(col("n")).as("n_docs"), max(col("nl")).as("n_langs"),
        max(col("ns")).as("n_sources"),
        max(expr("(nl - 1) * (ns - 1)")).as("df"),
        sum(col("term")).as("chi2_micro"))
  }

  private val BloomM = 65521L // prime cell count
  private val BloomSeeds = Seq((131L, 7L), (137L, 11L), (139L, 13L))

  /** Bloom-filter geometry eval: build an m=65521-bit, k=3 bloom filter
    * over the customer key set using pinned affine hash rows — the same
    * every-engine-replayable discipline as the count–min sketch
    * ([[Pipeline.countMin]]) — then probe it with 20 000 synthetic keys
    * strictly above the corpus maximum (guaranteed non-members) and
    * report the MEASURED false-positive rate next to the load-based
    * prediction (bits_set/m)³, both in exact integer ppm (the cube is
    * evaluated in one pinned association, ((p·p) div 10⁶ · p) div 10⁶,
    * so both engines land on the same integer). This is the eval a
    * pipeline runs before trusting a bloom-join geometry at scale
    * (`q_bloom_join` uses Spark's built-in runtime filter; this query
    * makes the FPR trade-off itself observable and oracle-checked).
    *
    * Scale shape: the bit table is ≤ m rows no matter the corpus (the
    * distinct collapses map-side); the probe set is a constant-size
    * sequence fanned out of a 1-row max aggregate; probes explode to
    * ≤ k rows each and hit the broadcast bit table — one linear pass
    * per side, and the report is 1 row from crossJoined 1-row
    * aggregates. */
  def bloomFpr(s: SparkSession, dir: String): DataFrame = {
    def hashRowsOf(key: Column) = array(BloomSeeds.map { case (a, b) =>
      pmod(key * lit(a) + lit(b), lit(BloomM)) }: _*)
    val members = graft.Tables.customer(s, dir).select(col("c_custkey"))
    val bits = members.select(explode(hashRowsOf(col("c_custkey"))).as("bit"))
      .distinct()
    val probes = members.agg(max(col("c_custkey")).as("mx"))
      .select(explode(sequence(col("mx") + 1, col("mx") + 20000)).as("pk"))
    // a key's k hashes can self-collide, so membership is "all DISTINCT
    // bits present" — nb counts them before the explode
    val pb = probes.select(col("pk"), array_distinct(hashRowsOf(col("pk"))).as("bs"))
      .select(col("pk"), size(col("bs")).cast("long").as("nb"),
        explode(col("bs")).as("bit"))
    val fp = pb.join(broadcast(bits), "bit")
      .groupBy("pk", "nb").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("nb"))
      .agg(count(lit(1)).as("n_false_pos"))
    members.agg(count(lit(1)).as("n_members"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
      .crossJoin(broadcast(fp))
      .select(col("n_members"), lit(20000L).as("n_probes"),
        lit(BloomM).as("m_bits"), lit(3L).as("k_hashes"),
        col("bits_set"), col("n_false_pos"),
        expr("n_false_pos * 1000000L div 20000L").as("fpr_ppm"),
        expr(s"(bits_set * 1000000L div ${BloomM}L) * " +
          s"(bits_set * 1000000L div ${BloomM}L) div 1000000L * " +
          s"(bits_set * 1000000L div ${BloomM}L) div 1000000L")
          .as("fpr_pred_ppm"))
  }

  /** Exact ROC-AUC of a scalar signal as a binary classifier — here,
    * does document length (`n_chars`) predict English, per source. AUC
    * is the Mann–Whitney U statistic normalized by `n_pos·n_neg`: the
    * probability a random positive outranks a random negative, with ties
    * counted half. This is the eval a platform runs before trusting any
    * scalar quality/filter signal as a ranking feature (the threshold
    * twin is `q_quality_sweep`; this is the threshold-free version).
    *
    * Everything is integer-exact: scores collapse to (source, score)
    * cells first, ties contribute through the doubled form
    * `U·2 = Σ_cells pos·(2·neg_below + neg_tied)` so no halves appear,
    * and the final ratio routes through DECIMAL(38,0) because
    * `U2·10⁶` overflows int64 once `n_pos·n_neg` passes ~9·10¹².
    *
    * Scale shape: the corpus collapses map-side to at most
    * |sources| × |distinct lengths| cells (lengths are bounded by the
    * longest document, NOT by corpus size), the rank accumulation is a
    * per-source window over those cells, and the output is one row per
    * source. No global window, no per-row rank. */
  def auc(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("n_chars")
    val cells = graft.Tables.documents(s, dir)
      .groupBy("source", "n_chars")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).as("neg"))
    cells
      .withColumn("cnb", coalesce(sum(col("neg"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy("source")
      .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(expr("pos * (2 * cnb + neg)")).as("u2"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("source"), col("n_pos"), col("n_neg"),
        expr("cast(cast(u2 as decimal(38,0)) * 1000000" +
          " div (2 * cast(n_pos as decimal(38,0)) * n_neg) as bigint)")
          .as("auc_ppm"))
      .orderBy("source")
  }
}
