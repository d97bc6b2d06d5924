package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Fixture loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries read through here so every scan is a columnar parquet read
  * with Catalyst predicate pushdown / column pruning intact. At cluster
  * scale these would be partitioned tables behind a catalog; the loader is
  * the single seam where that swap happens.
  *
  * Footer-schema rule: a plain `spark.read.parquet(path)` infers the
  * schema with a one-task Spark job (`mergeSchemasInParallel`), even for
  * one file — 65–72 ms per load on a 4-vCPU Xeon VM, against 4.5–5.2 ms
  * when the schema is passed in. The queries chain many small jobs, so that
  * fixed cost shows: a `star_join` benchmark pass loads 22 tables. So
  * [[load]] reads the schema on the driver from the footer of the first
  * data file (names starting with `_` or `.` skipped; sorted by path, the
  * file Spark's inference picks), skipping the row-group metadata
  * (0.4–0.6 ms; the full footer costs 8–10 ms), converts it with the
  * converter Spark's inference uses, built from the session conf at call
  * time (so NTZ inference applies; [[eventsRaw]] converts under a copy of
  * that conf with `nanosAsLong` on), and hands it to
  * `spark.read.schema(...)`. Schema and optimized plan
  * are the same as with inference (`TablesSpec`). Nothing is cached: the
  * footer is read on every call, so a rewritten table is picked up as
  * before. Wherever Spark's inference would not read exactly that one
  * footer — a missing path, no data file, subdirectories (partition
  * discovery), summary files, `mergeSchema` on, or an unreadable footer —
  * the load falls through to plain `spark.read.parquet(path)`, so results
  * and errors are Spark's own.
  */
object Tables {
  private def load(spark: SparkSession, dir: String, name: String,
                   nanosAsLong: Boolean = false): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path, nanosAsLong) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }
  }

  /** The schema Spark's inference would give `path`, read on the driver
    * from one footer, or None where the rule above defers to Spark.
    * `nanosAsLong` converts TIMESTAMP(NANOS) columns to INT64 as
    * `spark.sql.legacy.parquet.nanosAsLong` does, without setting it. */
  private[graft] def footerSchema(spark: SparkSession, path: String,
                                  nanosAsLong: Boolean = false): Option[StructType] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val sqlConf =
        if (!nanosAsLong) spark.sessionState.conf
        else {
          val c = spark.sessionState.conf.clone()
          c.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
          c
        }
      val p = new Path(path)
      val listed = p.getFileSystem(conf).listStatus(p).toSeq
      val data = listed.filterNot { f =>
        val n = f.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      val summaries = Set("_metadata", "_common_metadata")
      val oneFooter = !spark.sessionState.conf.isParquetSchemaMergingEnabled &&
        data.forall(_.isFile) && !listed.exists(f => summaries(f.getPath.getName))
      if (!oneFooter) None
      else data.sortBy(_.getPath.toString).headOption.map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(sqlConf))
      }
    } catch { case NonFatal(_) => None }

  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")

  /** events.ts has been parquet TIMESTAMP(NANOS), which Spark's reader
    * rejects; read it as a raw INT64 (legacy nanosAsLong) and convert. The
    * fixture's timestamps are micro-aligned (verified: epoch_ns % 1000 == 0)
    * so the ns→µs integer division is lossless and DuckDB sees identical
    * instants. Only schema conversion needs `nanosAsLong`: with the INT64
    * schema passed in, Spark's vectorized and row readers both return the
    * raw nanos with the conf off, so the footer schema is converted under
    * a copy of the session conf and the session's own is not written. A
    * NANOS table in a layout the footer rule defers to Spark (partition
    * directories, summary files, `mergeSchema`) fails as Spark's inference
    * does unless the session sets `nanosAsLong` itself. */
  def eventsRaw(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events", nanosAsLong = true)

  /** Normalize whatever timestamp encoding the fixture was written with to
    * session-local TIMESTAMP (LTZ). Three encodings have been observed across
    * driver regenerations: parquet TIMESTAMP(NANOS) read as INT64 via
    * nanosAsLong; µs NTZ (isAdjustedToUTC=false → TimestampNTZType); and µs
    * LTZ. All sessions are pinned to UTC on both engines, so the NTZ→LTZ cast
    * is instant-preserving and oracle hashes are unchanged. */
  def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  def events(s: SparkSession, dir: String): DataFrame = normalizeEvents(eventsRaw(s, dir))
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}

/** Session tuning applied once per session before queries run.
  * Runtime-settable confs only (the session is created by the driver),
  * with one exception: the capacity of Spark's JVM-wide cache of
  * compiled generated classes, `spark.sql.codegen.cache.maxEntries`.
  * It is a static conf, read once when Spark's `CodeGenerator`
  * initializes, and its default of 100 is smaller than the set of classes
  * one multi-query pass generates (about 130 for the TPC-H star-join
  * list, 3 348 over all 266 declared queries at sf0.001, 3 374 at
  * sf0.1), so the LRU evicted each class before its query ran again and
  * every pass recompiled nearly all of its code with Janino. The first
  * `tune` in a JVM therefore creates that cache with
  * [[Engine.CodegenCacheEntries]] entries, before any code generation, by
  * initializing `CodeGenerator` under a clone of the session conf
  * ([[org.apache.spark.sql.GraftShims.sizeCodegenCache]]): the session's
  * conf is not written, and a value the deployment set explicitly wins
  * ([[Engine.codegenCacheEntries]]). Later `tune` calls leave it alone.
  *
  * Deployment knob registry (all optional; every default is the
  * fixture/CI-safe behavior — each knob is documented in depth at its
  * implementation site):
  *
  *  - `spark.graft.checkpoint.reliable` + `spark.graft.checkpoint.dir`
  *    — reliable DFS checkpoints for multi-executor clusters instead of
  *    `localCheckpoint` ([[graft.util.Checkpoints]]).
  *  - `spark.graft.minhash.sigsPath` — persist the per-corpus MinHash
  *    signature table as a [[graft.util.GenStore]] generation (table
  *    `sigs`; committed + corpus-fingerprinted; invalid indexes rebuild
  *    atomically; an archived corpus is served from the newest
  *    committed generation built from its dir)
  *    ([[graft.operators.Pipeline.minhashSigs]]). Indexes written
  *    before the GenStore fold — the flat layout, fixed-name
  *    `gen=<sha8>` and `gen=<sha8>-<nonce>` dirs without
  *    `_GRAFT_COMMITTED` — are not read: a live corpus rebuilds once
  *    (same rows), an archived one raises `IllegalStateException`; the
  *    old `gen=` dirs carry no commit marker, so GenStore's 60-minute
  *    sweep removes them, and top-level legacy files are left alone.
  *  - `spark.graft.stream.admitTtlMs` — processing-time TTL on the
  *    streaming admit index's carrier state; steady-state ingest only,
  *    DISABLE for backfill/replay ([[graft.streaming.Streams]]).
  *  - `spark.graft.stream.admitIndexPath` — durable parquet band index
  *    merged per admit drain; survives checkpoint wipes; compact with
  *    [[graft.streaming.AdmitIndex.compactAdmitIndex]] (optionally age-
  *    pruned — the TTL's complement).
  *  - `spark.graft.stream.lanes` — state-lane count for the banded
  *    streaming LSH flavors (default 8); enforced against the
  *    checkpoint contract ([[graft.streaming.LshStreams]]).
  *  - `spark.graft.ngram.dfCap` — stop-shingle document-frequency cap
  *    for the near-dup pair table; grow with corpus-wide duplication
  *    ([[graft.operators.Pipeline.maxShingleDf]]).
  *  - `spark.graft.zonemap.box` — the zone-map probe predicate;
  *    `spark.graft.zonemap.manifestPath` — persist the block manifest +
  *    laid-out table per corpus fingerprint (footer-stats-derived,
  *    generational); `spark.graft.zonemap.blockRows` — natural-layout
  *    block width, part of the manifest fingerprint
  *    ([[graft.operators.ZoneMaps]]).
  *  - `spark.graft.media.decodeFraction` / `spark.graft.media.frameStride`
  *    — multimodal decode budget: deterministic hash-sampled audit pass
  *    and video frame stride ([[graft.multimodal.Media]]).
  *  - `spark.graft.graph.memoPath` — persist the basket-graph memos
  *    (pairs/degrees/oriented/adj) per corpus fingerprint, plus — each
  *    in its own lazily-built store — the component label table
  *    (`<path>/components`) and PageRank's degree-attached edge list
  *    (`<path>/predges`); later sessions adopt instead of rebuilding.
  *    Each store is a [[graft.util.CorpusMemo.Store]]
  *    ([[graft.operators.Graph]]).
  *  - `spark.graft.graph.joinPartitions` — explicit width for the graph
  *    kernels' giant array-SMJ joins, credit aggregation and components
  *    contraction; when unset the persisted-memo path sizes the joins
  *    from table bytes against the per-task heap share
  *    ([[graft.operators.Graph.arrayJoinPartitions]]) and the contraction
  *    from its edge list's measured bytes
  *    ([[graft.operators.Graph.contractionWidth]]).
  *  - `spark.graft.ngram.observedCappedPpm` — OUTPUT, not input: the
  *    pair-memo build publishes its measured stop-shingle dropped
  *    fraction here (integer ppm) so deployments can gate on the df-cap
  *    recall cliff without scheduling the census query
  *    ([[graft.operators.Pipeline]]). Single-corpus-session assumption
  *    (ADVICE r16): the key is session-global and overwritten per
  *    pair-memo build — in a session touching several corpora it holds
  *    the LAST corpus's observation only; a multi-corpus deployment
  *    gate must sample it after each corpus's build (the stderr/logger
  *    warning still fires per build either way).
  *  - `spark.graft.ann.modelPath` — persist the trained k-means
  *    centroids + PQ codebooks per corpus fingerprint, one
  *    [[graft.util.CorpusMemo.Store]] per family (`<path>/kmeans`,
  *    `<path>/pq`); assignments recompute map-side from the k-row model
  *    ([[graft.operators.Clustering]]).
  *  - `spark.sql.autoBroadcastJoinThreshold` — set here to 64 MB, the
  *    single un-hinted broadcast policy; match to executor memory on a
  *    real cluster.
  *  - `fs.AbstractFileSystem.file.impl` — set here to
  *    [[graft.util.LocalFs]], which every Hadoop conf the session makes
  *    copies, so the `file:` FileContext behind every streaming
  *    checkpoint runs no shell commands: without libhadoop, Hadoop's own
  *    local filesystem forks a `chmod` or `readlink` process for nearly
  *    every checkpoint file (1 610 in one `perfbench` streaming run of a
  *    warm-up and a timed pass). Checksum sidecars and
  *    rename-with-overwrite are unchanged. A value already in the
  *    session conf, or a non-default one in the SparkContext's Hadoop
  *    conf, wins. */
object Engine {
  /** Generated-class cache capacity: one pass over the whole declared
    * surface uses about 3 350 classes (sf0.001 to sf0.1), 89–109 of
    * them (all batch, none streaming) recompiled on every pass (ROADMAP),
    * so the LRU never evicts a class still in use. A cached class holds
    * about 30 KB of heap. */
  val CodegenCacheEntries = 4096

  /** The capacity to create the generated-class cache with: the
    * deployment's explicit `spark.sql.codegen.cache.maxEntries` if set
    * (including 0, which Spark 4.1 reads as unbounded), else
    * [[CodegenCacheEntries]]. */
  def codegenCacheEntries(explicit: Option[Int]): Int =
    explicit.getOrElse(CodegenCacheEntries)

  private val codegenCacheSized = new AtomicBoolean(false)

  /** Create the generated-class cache, once per JVM, before any code
    * generation (see the class comment). */
  def sizeCodegenCache(spark: SparkSession): Unit =
    if (codegenCacheSized.compareAndSet(false, true))
      org.apache.spark.sql.GraftShims.sizeCodegenCache(spark, codegenCacheEntries)

  def tune(spark: SparkSession): SparkSession = {
    sizeCodegenCache(spark)
    // expose the custom codegen expressions to the SQL surface: the
    // session's function registry says which are already there
    org.apache.spark.sql.GraftShims
      .registerMissingFunctions(spark, GraftFunctions.builders)
    // programmatic twin of GraftExtensions' injectOptimizerRule: the
    // extraOptimizations hook accepts rules after session build
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.LevenshteinLengthGuard)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.LevenshteinLengthGuard
    }
    val c = spark.conf
    // InferFiltersFromGenerate excluded (round 18, guide §4.4): the rule
    // copies each Generate's child expression into an inferred
    // `size(e) > 0 AND isnotnull(e)` filter below it. For this engine's
    // generators that child is a COMPUTED array (tokenize + shingle
    // chains — higher-order functions, CodegenFallback, no
    // subexpression elimination), so the "free" filter re-runs the
    // whole tokenize per row just to skip rows the Generate would emit
    // nothing for anyway (plan census: q_bm25 / q_collocations /
    // q_token_positions each carried a duplicated tokenize filter).
    // Row sets are identical with the rule on or off — exploding an
    // empty/null array produces no rows either way — so every hash is
    // unchanged; only the duplicated evaluation disappears.
    // merged, not overwritten: a deployment excluding other rules keeps
    // them (idempotent across the per-query tune calls)
    val inferFilters =
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val excluded = c.getOption("spark.sql.optimizer.excludedRules")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty)
    if (!excluded.contains(inferFilters))
      c.set("spark.sql.optimizer.excludedRules",
        (excluded :+ inferFilters).mkString(","))
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // 64 MB: the ONE broadcast size policy for every un-hinted join.
    // Since round 9 only provably constant tables carry broadcast()
    // hints (nation/region/1-row aggregates — HintAudit enforces this);
    // everything else (customer/supplier/part, dedup drop/keep lists,
    // band indexes) broadcasts exactly when AQE measures it under this
    // cap and falls back to a shuffled join above it — size-bounded at
    // any corpus scale. On a real cluster this is the knob to match to
    // executor memory.
    c.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // the fork-free `file:` FileContext (see the class comment)
    import graft.util.LocalFs.{HadoopDefault, ImplKey}
    if (c.getOption(ImplKey).isEmpty &&
        Option(spark.sparkContext.hadoopConfiguration.get(ImplKey)).forall(_ == HadoopDefault))
      c.set(ImplKey, classOf[graft.util.LocalFs].getName)
    spark
  }
}
