package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Event record for the stateful session stream. */
case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long)

/** Event record with its type, for the transformWithState processor. */
case class EvT(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
               event_type: String)

/** Per-user current profile maintained by [[Streams.streamCurrentState]]:
  * cumulative event count and the latest event_type by (ts, event_id). */
case class CurProfile(user_id: Long, n_events: Long, last_ts_us: Long,
                      last_event_id: Long, last_type: String)

/** Event record with type and value for the streaming LOCF gap-fill. */
case class GfEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                event_type: String, value: Double)

/** Emitted per event by the streaming gap-fill: the event with its
  * carried most-recent purchase cents (−1 before any purchase). */
case class GfOut(event_id: Long, user_id: Long, event_type: String,
                 locf_cents: Long)

/** Per-user carried state for the streaming gap-fill. */
case class GfState(cents: Long)

/** One LSH band of one in-flight document for the admit stream. */
case class AdmitBand(doc_id: Long, b: Int, key: String)

/** Emitted per band row by [[Streams.streamLshAdmit]]: the band with the
  * earliest-id prior stream document sharing its key (−1 if this doc is
  * the band's first stream carrier). */
case class AdmitHit(doc_id: Long, b: Int, key: String, stream_match: Long)

/** Running per-user session state carried across micro-batches. */
case class SessState(lastTsMicros: Long, nSessions: Long, nEvents: Long)

/** Emitted per user per micro-batch: cumulative session/event counts. */
case class SessOut(user_id: Long, n_sessions: Long, n_events: Long)

/** Structured Streaming surface (SURVEY §2c streaming row). The reference
  * is strictly batch (rpc.go:23-27 has only Map/Reduce/Finished phases);
  * these operators are the 100 TB-pipeline extension: the same event
  * analytics, run incrementally.
  *
  * All queries read the events or documents parquet through `readStream`
  * and write to FILE sinks, so the whole source → transform → sink path is
  * the production shape: results land as files written by executors
  * (never materialized on the driver) and `Trigger.AvailableNow` drains the
  * source one-shot. A flavor supplies only its stream and a [[Sink]] kind;
  * [[drain]] owns the rest of the lifecycle, as the reference's worker owns
  * every file a job touches: it makes the sink and checkpoint dirs, runs
  * the stream, and reads the sink back on the caller's session. On a
  * cluster the same code runs on a schedule with a durable checkpoint.
  */
object Streams {

  /** How [[drain]] writes each micro-batch into the sink dir. */
  private[streaming] sealed trait Sink

  /** Append mode into a parquet FILE sink: executors write the result
    * files and the driver never holds the rows. */
  private[streaming] case object Append extends Sink

  /** [[Append]] that ENFORCES the drain fitting in one non-empty
    * micro-batch. Some flavors' batch-oracle equality holds only for a
    * single-batch drain (order-sensitive folds like the LOCF gap-fill, or
    * the admit stream's first-arrival-wins: a directory-of-part-files
    * source, a resumed checkpoint, or maxFilesPerTrigger can replay files
    * out of order across batches and silently diverge from the batch
    * oracle), so a split drain FAILS LOUDLY instead of returning
    * plausible-but-divergent rows. */
  private[streaming] case object AppendOneBatch extends Sink

  /** Complete mode through `foreachBatch`: the parquet file sink is
    * append-only by contract, so each trigger's full aggregate snapshot,
    * passed through `shape`, overwrites the previous one in `format`
    * (`parquet`, or `graftkv` for the kv connector's job-level commit) — a
    * distributed `batch.write`, never a driver collect. */
  private[streaming] final case class Complete(shape: DataFrame => DataFrame = identity,
                                               format: String = "parquet") extends Sink

  /** Run `out` one-shot (`Trigger.AvailableNow`: every available batch,
    * then the finalizing no-data batch where [[runsNoDataBatch]] says an
    * operator can still emit) into `sink`, block until it terminates, and
    * return what the sink holds, read on `out`'s session.
    * Every streaming flavor starts here and owns no file of its own:
    *
    *   - `dirs` is the (sink data, checkpoint) pair. By default it is a
    *     fresh pair under [[graft.util.TempDirs]], removed at JVM
    *     shutdown. Only [[LshStreams.streamLshAdmitAt]] passes its own:
    *     its resume path re-drains a kept checkpoint, and its durable
    *     admit index merges the sink's files.
    *   - The result is read with the sink's schema, so no inference job
    *     runs: `out.schema` for the append sinks, and for [[Complete]] the
    *     schema of `shape` over an empty frame of `out.schema` (analysis
    *     only). A parquet sink is read with that schema; a `graftkv`
    *     snapshot through `format("graftkv")`, whose schema is fixed.
    *   - Zero batches (an empty scheduling window, routine for a
    *     production one-shot run) leave no sink dir; the result is then an
    *     empty frame of that schema, for every sink kind.
    *
    * The stream runs under one conf policy:
    *
    *   - `spark.sql.shuffle.partitions = lanes`, which is the number of
    *     state-store partitions. Per-partition store setup dominates these
    *     fixture-sized micro-batches (2 lanes measured ~15% faster than 4,
    *     which beat 8); on a real cluster it scales with key cardinality.
    *   - `noDataMicroBatches.enabled = runsNoDataBatch(out)`, derived
    *     from the plan: on only where a stateful operator emits when the
    *     watermark passes the last input.
    *   - the RocksDB state-store provider when `rocksDb` is set
    *     (`transformWithState` requires it).
    *   - `spark.sql.artifact.isolation.enabled = false`, unless the
    *     caller's conf sets the key itself (then its value wins). With
    *     isolation on, each run's clone has its own session UUID, and the
    *     executor gives every UUID a fresh task class loader; Spark's
    *     generated-class cache is keyed on that loader, so every run
    *     recompiled all of its generated code (57 classes per `perfbench`
    *     streaming pass). Off, the stream's tasks run on the executor's
    *     default loader and compile once per JVM. graft adds no artifacts
    *     (jars, files, classes) to a session, so the isolated loader held
    *     nothing the default one lacks. The caller's own isolation stays
    *     as its conf says.
    *
    * The keys are set on the caller's session only while `start()` runs,
    * then restored: the stream's execution clones the session when it is
    * constructed inside `start()`, so every micro-batch, `foreachBatch`
    * body and state store reads the clone's copy. The caller's conf is
    * therefore never observed changed outside `start()`. A resumed
    * checkpoint keeps the lane count and provider it was created with. */
  private[streaming] def drain(out: Dataset[_], sink: Sink, lanes: Int = 2,
                               rocksDb: Boolean = false,
                               dirs: (String, String) = sinkDirs()): DataFrame = {
    val (data, ckpt) = dirs
    val s = out.sparkSession
    val w = out.toDF().writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    val writer = sink match {
      case Append => w.outputMode("append").format("parquet").option("path", data)
      case AppendOneBatch =>
        @volatile var nonEmpty = 0
        w.outputMode("append").foreachBatch { (batch: Dataset[Row], id: Long) =>
          if (!batch.isEmpty) {
            nonEmpty += 1
            if (nonEmpty > 1) throw new IllegalStateException(
              s"single-batch drain invariant violated (non-empty batch $id is " +
                "the " + nonEmpty + "th): this flavor's batch-oracle equality " +
                "requires the whole source in one micro-batch — re-drain with " +
                "a fresh checkpoint and no maxFilesPerTrigger")
            batch.write.mode("append").parquet(data)
          }
        }
      case Complete(shape, format) => w.outputMode("complete")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          shape(batch).write.mode("overwrite").format(format).save(data)
        }
    }
    val policy = Seq("spark.sql.shuffle.partitions" -> lanes.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> runsNoDataBatch(out).toString) ++
      Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // getOption would report a registered key's default as set, and the
    // restore would then pin it; getAll holds only the keys really set
    val conf = s.conf
    val set = conf.getAll
    val isolation = "spark.sql.artifact.isolation.enabled"
    val confs = policy ++ Option.when(!set.contains(isolation))(isolation -> "false")
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    // a session fixes its own isolation at its first job: fix the
    // caller's now, under its own conf, not inside the window below
    org.apache.spark.sql.GraftShims.isolatedJobs(s)
    val q = try {
      confs.foreach { case (k, v) => conf.set(k, v) }
      writer.start()
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
    try q.awaitTermination() finally q.stop()

    def empty(schema: StructType) =
      s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val (schema, format) = sink match {
      case Complete(shape, format) => (shape(empty(out.schema)).schema, format)
      case _                       => (out.schema, "parquet")
    }
    if (!new java.io.File(data).exists()) empty(schema)
    else if (format == "parquet") s.read.schema(schema).parquet(data)
    else s.read.format(format).load(data)
  }

  /** Whether [[drain]] runs the finalizing no-data micro-batch for `out`,
    * decided on its analyzed plan. That batch reads no input: it only moves
    * the watermark past the last input, so it matters only where a
    * stateful operator can emit a row when the watermark moves.
    *
    *   - No `EventTimeWatermark` in the plan: no batch, since nothing can
    *     close. This also covers the admit stream's TTL mode
    *     (`TimeMode.ProcessingTime`): there every no-data batch advances
    *     processing time, which with live TTL state schedules another one,
    *     an endless loop under `AvailableNow` (5 600+ committed no-data
    *     batches before the kill).
    *   - A watermark is present: run it, unless every stateful operator
    *     emits only when an input row arrives. Those are an inner join of
    *     two streams, `Deduplicate` (`dropDuplicates`) and
    *     `DeduplicateWithinWatermark`; their no-data batch only evicts
    *     state from a checkpoint that is thrown away. Every other stateful
    *     node keeps the batch: an aggregate (window and session window
    *     included) emits its closed groups then, an outer or semi join its
    *     expired unmatched rows, `flatMapGroupsWithState` and
    *     `transformWithState` their timers. So does any streaming node the
    *     match below does not list as stateless (projections, filters,
    *     sources, unions, typed maps, generators, a join with a static
    *     side). Without the batch these would silently emit fewer rows,
    *     not fail.
    *   - Complete sinks: Spark never schedules a no-data batch for a
    *     complete-mode aggregate, so the answer changes nothing there.
    *
    * A skipped batch leaves the final watermark out of the offset log.
    * Only a resumed checkpoint could see that, and the one caller that
    * resumes, [[LshStreams.streamLshAdmitAt]], has no watermark. */
  private[graft] def runsNoDataBatch(out: Dataset[_]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = out.queryExecution.analyzed
    plan.exists(_.isInstanceOf[EventTimeWatermark]) && plan.exists {
      case p if !p.isStreaming => false
      case j: Join => j.left.isStreaming && j.right.isStreaming && j.joinType != Inner
      case _: Deduplicate | _: DeduplicateWithinWatermark | _: EventTimeWatermark |
           _: Project | _: Filter | _: SubqueryAlias | _: Union | _: LeafNode |
           _: SerializeFromObject | _: DeserializeToObject | _: MapElements |
           _: TypedFilter | _: Generate => false
      case _ => true
    }
  }

  /** Fresh (data, checkpoint) dirs for a one-shot file sink — registered
    * with [[graft.util.TempDirs]] for recursive removal at JVM shutdown. */
  private[streaming] def sinkDirs(): (String, String) = {
    val root = graft.util.TempDirs.create("graft-stream-")
    (new java.io.File(root.toFile, "data").getAbsolutePath,
     new java.io.File(root.toFile, "ckpt").getAbsolutePath)
  }

  /** A fixture table as a stream, tolerant of both layouts: a single
    * `<table>.parquet` FILE beside the other tables (the sf fixtures — the
    * file source needs a directory, so the parent is scanned with a name
    * glob) or a `<table>.parquet/` DIRECTORY of part files (any real
    * deployment, and the 10× scale probe). */
  private def tableStream(s: SparkSession, dir: String, table: String,
                          schema: StructType,
                          options: Map[String, String] = Map.empty): DataFrame = {
    val f = new java.io.File(dir, s"$table.parquet")
    val r = s.readStream.schema(schema).options(options)
    if (f.isDirectory) r.parquet(f.getAbsolutePath)
    else r.option("pathGlobFilter", f.getName).parquet(dir)
  }

  /** The events table as a stream, normalized like the batch table. */
  private def eventStream(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeEvents(tableStream(s, dir, "events", Tables.eventsRaw(s, dir).schema))

  /** The documents table as a stream. `maxFilesPerTrigger=1` forces
    * multi-batch processing where layout allows, so incremental state
    * genuinely carries across micro-batches. */
  private[streaming] def documentsStream(s: SparkSession, dir: String): DataFrame =
    tableStream(s, dir, "documents", Tables.documents(s, dir).schema,
      Map("maxFilesPerTrigger" -> "1"))

  /** Event time in epoch microseconds, the fold order of the stateful
    * flavors. */
  private def micros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** Tumbling 1-hour event-time window, streaming form of
    * [[graft.operators.Relational.tumblingWindow]]. Complete output mode:
    * every trigger re-emits the full window table, so after one pass over
    * the fixture the result equals the batch group-by (oracle-checkable). */
  def streamWindow(s: SparkSession, dir: String): DataFrame = {
    val stream = eventStream(s, dir)
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
              col("event_type"), col("n"))
    drain(agg, Complete()).orderBy("hour", "event_type")
  }

  /** Watermarked tumbling window in APPEND mode: the streaming engine
    * emits a window only once its end is at or below the final watermark
    * (max event time − 1 h) — the closed-window contract a production
    * stream appends to its sink, verified here against a batch oracle that
    * reproduces exactly the closed set. (The aggregate keeps [[drain]]'s
    * finalizing no-data batch, which advances the watermark past the last
    * input and closes every eligible window before `AvailableNow` ends.) */
  def streamWindowWatermarked(s: SparkSession, dir: String): DataFrame = {
    val stream = eventStream(s, dir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
              col("event_type"), col("n"))
    drain(agg, Append).orderBy("hour", "event_type")
  }

  /** Streaming exact deduplication: `dropDuplicates` on (user_id, minute)
    * with the event-time column in the key set, so the 1-hour watermark
    * purges state for closed minutes — the bounded-state streaming form of
    * the pipeline's exact dedup. Append mode emits each first-seen key
    * immediately, so after one pass the sink equals the batch DISTINCT. */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val stream = eventStream(s, dir)
    val deduped = stream
      .select(col("user_id"), date_trunc("minute", col("ts")).as("m"))
      .withWatermark("m", "1 hour")
      .dropDuplicates("user_id", "m")
      .select(col("user_id"), date_format(col("m"), "yyyy-MM-dd HH:mm").as("minute"))
    drain(deduped, Append).orderBy("user_id", "minute")
  }

  /** Stream-static join: the event stream enriched per micro-batch against
    * a static order-count profile (broadcast — the static side is read
    * once per batch, never shuffled), then a running windowless aggregate
    * in complete mode. The join is planned per micro-batch, so at scale
    * the static side can be a slowly-refreshed dimension snapshot. */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val profile = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
    val stream = eventStream(s, dir)
    val joined = stream.join(broadcast(profile), Seq("user_id"), "left")
      .select(col("event_type"),
        when(coalesce(col("n_orders"), lit(0L)) >= 12, "heavy")
          .otherwise("light").as("tier"))
      .groupBy("event_type", "tier").agg(count(lit(1)).as("n"))
    drain(joined, Complete()).orderBy("event_type", "tier")
  }

  /** Stream-stream inner join with a time-interval condition: views joined
    * to same-user purchases within 30 minutes. Both sides carry watermarks
    * so join state is purged once the interval can no longer match — the
    * bounded-state form; inner-join matches emit as they arrive, so one
    * pass over the fixture equals the batch interval join. */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame =
    viewPurchaseJoin(s, dir, "inner")

  /** Stream-stream LEFT OUTER interval join: like [[streamStreamJoin]],
    * but views with no qualifying purchase are also emitted (null-padded,
    * coalesced to -1 for the sink) — once the watermark proves no future
    * purchase can still match, i.e. view_ts + 30 min falls below the final
    * global watermark — which is the MIN over both watermark nodes, each
    * tracking its own side's max event time (ms precision) − 1 h; the
    * purchase side's later start is what gates eviction here. Unmatched
    * views
    * still inside that horizon are retained as state, not emitted — the
    * bounded-state outer-join contract. The oracle reproduces exactly
    * this closed set: inner matches ∪ expired unmatched views. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame =
    viewPurchaseJoin(s, dir, "leftOuter")

  /** The watermarked views/purchases interval join of [[streamStreamJoin]]
    * (`inner`) and [[streamOuterJoin]] (`leftOuter`, unmatched views
    * carry purchase_id -1), drained and sorted. */
  private def viewPurchaseJoin(s: SparkSession, dir: String, joinType: String): DataFrame = {
    def src = eventStream(s, dir)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val purchaseId =
      if (joinType == "inner") col("purchase_id")
      else coalesce(col("purchase_id"), lit(-1L)).as("purchase_id")
    val joined = views.join(purchases,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      .select(col("user_id"), col("view_id"), purchaseId)
    drain(joined, Append).orderBy("user_id", "view_id", "purchase_id")
  }

  /** Streaming leaderboard: complete-mode running counts per user, with
    * each trigger's snapshot reduced to the top 10 (ties broken by
    * user_id) inside `foreachBatch` before it reaches the sink — the
    * "trending items" pattern, where the sink holds a bounded leaderboard
    * no matter how large the keyspace grows. The ranking cut is a
    * TakeOrderedAndProject over the aggregate snapshot, not a total
    * sort. */
  def streamTopk(s: SparkSession, dir: String): DataFrame = {
    val stream = eventStream(s, dir)
    val counts = stream.groupBy("user_id").agg(count(lit(1)).as("n"))
    drain(counts, Complete(_.orderBy(col("n").desc, col("user_id")).limit(10)))
      .orderBy(col("n").desc, col("user_id"))
  }

  /** Streaming aggregate into the `graftkv` V2 sink — the engine's own
    * connector as a STREAMING sink target: complete-mode per-type counts
    * go through `foreachBatch`, each trigger overwriting the `"key value"`
    * snapshot through the connector's job-level commit protocol. That
    * protocol is what makes the pattern production-safe: truncate is
    * deferred to job commit, so a batch that dies mid-write leaves the
    * previous snapshot fully readable — the complete-mode contract a kv
    * serving layer needs. Read-back is via `format("graftkv")`, closing
    * stream → V2 sink → V2 source in one declared query. */
  def streamKvSink(s: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(s, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .select(col("event_type").as("key"), col("n").cast("string").as("value"))
    drain(agg, Complete(format = "graftkv"))
      .select(col("key"), col("value").cast("bigint").as("n"))
      .orderBy("key")
  }

  /** Streaming CDC chunk dedup — the incremental first-occurrence census
    * that closes the loop between the content-defined-chunking family
    * ([[graft.operators.Pipeline.cdcDedup]]) and the `graftkv` V2 sink:
    * documents arrive as a stream, are chunked MAP-SIDE by the same
    * codegen'd rolling-hash boundary scan the batch path uses (one shared
    * definition, [[graft.operators.Pipeline.cdcChunksOf]]), and a
    * stateful per-chunk-hash aggregation maintains the census — canonical
    * owner (the (doc_id, chunk_idx)-minimum occurrence), occurrence
    * count, chunk length. Each trigger snapshots the census through the
    * kv connector's job-level commit protocol, so a batch that dies
    * mid-write leaves the previous snapshot fully readable.
    *
    * The census is ORDER-INSENSITIVE by construction — `min(owner)` and
    * `count` commute across any batch arrival order — so the streaming
    * result equals the batch oracle regardless of how the source splits
    * into micro-batches. State is one small fixed-width row per distinct
    * chunk hash (never an occurrence list), the same bounded-state
    * discipline as the batch census's sort-based `row_number`. */
  def streamCdcDedup(s: SparkSession, dir: String): DataFrame = {
    val census = graft.operators.Pipeline.cdcChunksOf(documentsStream(s, dir))
      .groupBy("chunk_hash")
      .agg(min(struct(col("doc_id"), col("chunk_idx"), col("chunk_len")))
             .as("o"),
           count(lit(1)).as("n_occ"))
    val snapshot = census.select(
      col("chunk_hash").cast("string").as("key"),
      concat_ws(":", col("o.doc_id"), col("o.chunk_idx"), col("o.chunk_len"),
                col("n_occ")).as("value"))
    val parts = split(col("value"), ":")
    drain(snapshot, Complete(format = "graftkv"))
      .select(col("key").cast("bigint").as("chunk_hash"),
        parts.getItem(0).cast("bigint").as("owner_doc"),
        parts.getItem(1).cast("bigint").as("owner_idx"),
        parts.getItem(2).cast("bigint").as("chunk_len"),
        parts.getItem(3).cast("bigint").as("n_occ"))
      .withColumn("dup_bytes", (col("n_occ") - 1) * col("chunk_len"))
      .orderBy("chunk_hash")
  }

  /** Streaming per-source document quota — the incremental twin of
    * [[graft.operators.Pipeline.domainCap]]: as documents stream in, each
    * source keeps the `cap` docs with the SMALLEST deterministic hash
    * (Knuth multiplicative, same constant as the batch path), maintained
    * by the bounded [[graft.functions.BoundedTopK]] aggregator. Min-K is
    * a commutative/associative semilattice, so the kept set is
    * independent of micro-batch arrival order BY CONSTRUCTION and equals
    * the batch quota exactly; and because the hash is uniform, the kept
    * set is a uniform K-subset per source — this is the streaming-safe
    * form of per-domain reservoir sampling. State per source is ≤ `cap`
    * fixed-width pairs (never an occurrence list); each trigger
    * snapshots the full quota table to the sink, final snapshot wins. */
  def streamDomainCap(s: SparkSession, dir: String, cap: Int = 15): DataFrame = {
    val topk = udaf(new graft.functions.BoundedTopK(cap))
    val kept = documentsStream(s, dir)
      .select(col("source"),
        pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
          .cast("double").as("pr"), // < 2^32, exactly representable
        col("doc_id"))
      .groupBy("source")
      .agg(topk(col("pr"), col("doc_id")).as("kept"))
    drain(kept, Complete(_.select(col("source"),
        posexplode(col("kept.items")).as(Seq("pos", "e")))
      .select(col("source"), col("e.doc_id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))))
      .orderBy("source", "rk")
  }

  /** Streaming sequential-Poisson (probability-proportional-to-size)
    * sample — the incremental twin of [[graft.operators.Pipeline
    * .ppsSample]]: as documents stream in, each language keeps the `k`
    * docs with the SMALLEST priority u/w (u = the deterministic Knuth
    * hash, w = n_chars), maintained by the bounded
    * [[graft.functions.BoundedTopK]] aggregator. Min-K over a
    * commutative priority is a semilattice, so the kept PPS sample is
    * independent of micro-batch arrival order BY CONSTRUCTION and equals
    * the batch sample exactly — the streaming-safe form of weighted
    * reservoir sampling (u/w priorities after Ohlsson's sequential
    * Poisson scheme; both operands are exactly-representable doubles, so
    * the single IEEE division is bit-identical across engines). State
    * per language is ≤ `k` fixed-width pairs; each trigger snapshots the
    * sample table to the sink, final snapshot wins. */
  def streamPpsSample(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val topk = udaf(new graft.functions.BoundedTopK(k))
    val kept = documentsStream(s, dir)
      .select(col("lang"),
        (pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
          .cast("double") / col("n_chars").cast("double")).as("pr"),
        col("doc_id"))
      .groupBy("lang")
      .agg(topk(col("pr"), col("doc_id")).as("kept"))
    drain(kept, Complete(_.select(col("lang"),
        posexplode(col("kept.items")).as(Seq("pos", "e")))
      .select(col("lang"), col("e.doc_id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))))
      .orderBy("lang", "rk")
  }

  /** Streaming CDC current-state via Spark 4's `transformWithState` — the
    * new arbitrary-stateful API (typed `ValueState` handles, RocksDB state
    * store required): each user's profile (cumulative event count + latest
    * event_type by event time) is updated per micro-batch and the updated
    * snapshot emitted — the streaming twin of a batch arg-max, and the
    * operator a CDC pipeline uses to maintain a serving table. State is
    * one tiny struct per user, O(users) not O(events). Within a batch rows
    * fold in (ts, event_id) order, so a one-pass run equals the batch
    * oracle deterministically. */
  def streamCurrentState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Encs}

    class CurrentProcessor extends StatefulProcessor[Long, EvT, CurProfile] {
      @transient private var st: ValueState[CurProfile] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[CurProfile]("cur",
          Encs.product[CurProfile], TTLConfig.NONE)
      override def handleInputRows(user: Long, rows: Iterator[EvT],
                                   timerValues: TimerValues): Iterator[CurProfile] = {
        val evs = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
        if (evs.isEmpty) Iterator.empty
        else {
          var cur = if (st.exists()) st.get()
                    else CurProfile(user, 0L, Long.MinValue, Long.MinValue, "")
          evs.foreach { e =>
            val t = micros(e.ts)
            val newer = t > cur.last_ts_us ||
              (t == cur.last_ts_us && e.event_id > cur.last_event_id)
            cur = CurProfile(user, cur.n_events + 1,
              if (newer) t else cur.last_ts_us,
              if (newer) e.event_id else cur.last_event_id,
              if (newer) e.event_type else cur.last_type)
          }
          st.update(cur)
          Iterator.single(cur)
        }
      }
    }

    val stream = eventStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[EvT]
    val out = stream.groupByKey(_.user_id)
      .transformWithState(new CurrentProcessor, TimeMode.None(), OutputMode.Append())
    // one snapshot lands per (user, batch); keep the LATEST per user —
    // n_events is strictly increasing across a user's snapshots, so the
    // struct max is the final profile even if the AvailableNow drain
    // split into several micro-batches (maxFilesPerTrigger, resumed
    // checkpoints). With a single batch this is a no-op.
    drain(out, Append, rocksDb = true)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("last_type"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.last_type").as("last_type"))
      .orderBy("user_id")
  }

  /** Streaming LOCF gap-fill (20th flavor) — [[graft.operators.Temporal
    * .gapFill]]'s production shape: every incoming event is emitted
    * carrying the user's most recent purchase amount, with ONE int64 of
    * state per user (the carried cents — exactly the bounded state the
    * batch query's Scaladoc promises a streaming version would keep).
    * Within a batch the group's events fold in (ts, event_id) order, so
    * the single-`AvailableNow`-drain result equals the batch window and
    * the two share one oracle; across batches the carried cents resumes
    * from state, the no-future-leak invariant by construction. The
    * single-batch drain is a HARD invariant enforced in code (the drain
    * goes through the single-batch sink wrapper and fails loudly on a
    * split drain): a multi-file source or resumed checkpoint could
    * replay files out of (ts, event_id) order across batches and the
    * LOCF fold would silently diverge from the batch window.
    *
    * Scale shape: one user-keyed state exchange; output is event-sized
    * but map-emitted (no window over the corpus); state is O(users) ×
    * one long. */
  def streamGapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value")).as[GfEv]

    def fn(user: Long, events: Iterator[GfEv],
           state: GroupState[GfState]): Iterator[GfOut] = {
      val evs = events.toArray.sortBy(e => (micros(e.ts), e.event_id))
      var c = state.getOption.map(_.cents).getOrElse(-1L)
      val out = evs.map { e =>
        if (e.event_type == "purchase") c = math.floor(e.value * 100).toLong
        GfOut(e.event_id, user, e.event_type, c)
      }
      if (evs.nonEmpty) state.update(GfState(c))
      out.iterator
    }

    val out = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    drain(out, AppendOneBatch)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("locf_cents"))
      .orderBy("event_id")
  }

  /** Stateful sessionization via flatMapGroupsWithState: a session closes
    * after 30 minutes of silence. State is one tiny struct per user
    * (last-seen time + counters), so state size is O(users), not O(events)
    * — the shape that survives unbounded streams. Within a batch events are
    * sorted by (ts, event_id) before folding, which makes the single-batch
    * result equal to the batch sessionization oracle. */
  def streamSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = eventStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id")).as[Ev]

    def fn(user: Long, events: Iterator[Ev], state: GroupState[SessState]): Iterator[SessOut] = {
      val evs = events.toArray.sortBy(e => (micros(e.ts), e.event_id))
      if (evs.isEmpty) Iterator.empty
      else {
        var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
        evs.foreach { e =>
          val t = micros(e.ts)
          val newSession = st.lastTsMicros == Long.MinValue || t - st.lastTsMicros > 1800L * 1000000L
          st = SessState(t, st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
        }
        state.update(st)
        Iterator.single(SessOut(user, st.nSessions, st.nEvents))
      }
    }

    val out = stream.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
    // one cumulative snapshot lands per (user, batch); keep the LATEST per
    // user (n_events strictly increases across a user's snapshots) so the
    // result is identical even if the AvailableNow drain splits into
    // several micro-batches — same discipline as streamCurrentState
    drain(out, Append)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_sessions"))).as("s"))
      .select(col("user_id"), col("s.n_sessions").as("n_sessions"),
        col("s.n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Streaming drift monitor (15th flavor) — live traffic (odd
    * event_ids) streams in and is binned against a FROZEN reference
    * distribution (even event_ids): per-(type, bin) counts aggregate in
    * complete mode, and the post-drain batch join computes per-type
    * total-variation distance against the static reference cells —
    * [[graft.operators.Evaluation.driftTvd]]'s production shape, where
    * the reference histogram is pinned before the stream starts and live
    * drift is re-evaluated per micro-batch. Bin bounds come from the
    * reference ONLY (a monitor cannot peek at future traffic for its
    * histogram edges), so out-of-range live values clamp into the edge
    * bins — both engines apply the same clamp.
    *
    * Scale shape: the stream side is a map-side projection plus one
    * stream-static broadcast join on a constant key (the 1-row bounds
    * aggregate), state is the fixed ≤ k·10-cell complete-mode table, and
    * the reference cells are a static aggregate computed once. */
  def streamDrift(s: SparkSession, dir: String): DataFrame = {
    val ref = graft.Tables.events(s, dir)
      .filter(pmod(col("event_id"), lit(2L)) === 0L)
    val bounds = ref.agg(min(col("value")).as("vmin"),
      max(col("value")).as("vmax")).withColumn("k", lit(1))
    def binCol = when(col("vmax") === col("vmin"), lit(0L))
      .otherwise(least(lit(9L), greatest(lit(0L),
        floor((col("value") - col("vmin")) * lit(10.0) /
          (col("vmax") - col("vmin"))).cast("long"))))
    val refCells = ref.withColumn("k", lit(1))
      .join(broadcast(bounds), Seq("k"))
      .groupBy(col("event_type"), binCol.as("bin"))
      .agg(count(lit(1)).as("cr"))
    val live = eventStream(s, dir)
      .filter(pmod(col("event_id"), lit(2L)) === 1L)
      .withColumn("k", lit(1))
      .join(broadcast(bounds), Seq("k"))
      .groupBy(col("event_type"), binCol.as("bin"))
      .agg(count(lit(1)).as("cl"))
    val drained = drain(live, Complete())
    // full outer so a bin populated on only one side still contributes
    // its full share to the distance
    val cells = refCells
      .join(drained, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cl"), lit(0L)).as("cl"))
    val totals = cells.groupBy("event_type")
      .agg(sum(col("cr")).as("n_ref"), sum(col("cl")).as("n_live"))
    cells.join(broadcast(totals), Seq("event_type"))
      .withColumn("pr", expr("cr * 1000000L div n_ref"))
      .withColumn("pl", expr("cl * 1000000L div n_live"))
      .groupBy("event_type")
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_live")).as("n_live"),
        expr("sum(abs(pr - pl)) div 2").as("tvd_ppm"))
      .orderBy("event_type")
  }

  /** Streaming HLL distinct monitor (16th flavor) — the live
    * distinct-cardinality gauge a pipeline keeps over an arriving
    * corpus: documents stream in, each row's 3-token shingles and their
    * (bucket, rho) observables are computed MAP-SIDE (the same pinned
    * scrambled hash and 22-branch rank as the batch census,
    * [[graft.operators.Pipeline.hllDistinct]]), and the 256-register
    * table aggregates in complete mode. max() is commutative and
    * idempotent, so the drained registers equal the batch registers BY
    * CONSTRUCTION regardless of micro-batch arrival order (`StreamsSpec`
    * forces a multi-trigger split) — the streaming estimate is
    * bit-identical to the batch estimate. State is exactly 256
    * fixed-width rows no matter how much data arrives: the reason HLL
    * (not a distinct set) is the production shape for this monitor. */
  def streamHll(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pipeline.{hllEstimate, hllFilled, hllObserved, hllStats, hllWords}
    val drained = drain(hllObserved(hllWords(documentsStream(s, dir))), Complete())
    // post-drain: fill the never-observed buckets and reduce to the
    // single-row estimate — the batch census's own formulas
    hllStats(hllFilled(drained))
      .select(hllEstimate.as("est_hll"), col("n_zero"), col("max_rho"))
  }

  /** 19th flavor — live changepoint monitor: the streaming twin of
    * [[graft.operators.Temporal.changepoint]]. State is the hourly count
    * cell table (complete mode — counts are commutative, so the drained
    * cells equal the batch cells regardless of micro-batch order, and
    * state is ≤ hours-in-corpus rows); the max-CUSUM argmax runs
    * post-drain over the cells with the same pinned earliest-hour tie
    * rule, so the live monitor and the batch census produce the SAME
    * split row — the property that lets an alerting pipeline page on the
    * streaming result and trust the batch backfill to agree. */
  def streamChangepoint(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Temporal.{changepointOf, hourlyCells}
    changepointOf(drain(hourlyCells(eventStream(s, dir)), Complete()))
  }

  /** 18th flavor — streaming EXACT percentile monitor: the live
    * p50/p95/p99 gauge (here over event value in cents, per hourly
    * window). The production problem is that exact order statistics
    * normally need the sorted data; the streaming shape here keeps
    * state as (window, cents) COUNT cells — counts are commutative, so
    * complete-mode aggregation is micro-batch-order-insensitive, and
    * the post-drain pass computes the exact percentile as the smallest
    * value whose cumulative count reaches ⌈q·n⌉ over the cell table
    * (cells per window are bounded by the value domain, not the event
    * count — the same reason the batch equi-depth histogram works).
    * Unlike an approx-percentile sketch this is EXACT, and unlike a
    * sort it never materializes per-event state. */
  def streamPercentile(s: SparkSession, dir: String): DataFrame = {
    val cells = eventStream(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"),
        expr("cast(floor(value * 100) as bigint)").as("cents"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("cents"), col("n"))
    val drained = drain(cells, Complete())
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("hour")
      .orderBy("cents")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    def pct(q: Int) = min(when(
      col("cum") * 100 >= col("tot") * q, col("cents"))).as(s"p$q")
    drained
      .withColumn("cum", sum(col("n")).over(wh))
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("hour")))
      .groupBy("hour")
      .agg(max(col("tot")).as("n_events"), pct(50), pct(95), pct(99))
      .orderBy("hour")
  }

  /** 17th flavor — streaming rolling 7-day active users (the live WAU
    * counter, streaming twin of [[graft.operators.Temporal.activeUsers]]):
    * each event fans out MAP-SIDE to the ≤ 7 window-days it contributes
    * to, a watermarked `dropDuplicates` on (window-day, user) keeps
    * exactly one state row per contribution (state purges as the
    * watermark passes a day — never unbounded), and a windowed count in
    * append mode emits each day's exact distinct-user total once the
    * 8-day watermark closes it. Two chained stateful operators — dedup
    * feeding a windowed aggregate — under one watermark, the shape
    * Spark 4 supports natively.
    *
    * Append semantics: a day [d, d+1) emits when d+1 ≤ final watermark
    * (max fanned day + 6d − 8d), so the last three observed days stay
    * open — exactly the closed set the oracle reproduces (same contract
    * as [[streamWindowWatermarked]]). */
  def streamActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val stream = eventStream(s, dir)
    val contrib = stream
      .select(explode(sequence(date_trunc("DAY", col("ts")),
          date_trunc("DAY", col("ts")) + expr("INTERVAL 6 DAYS"),
          expr("INTERVAL 1 DAY"))).as("wday"),
        col("user_id"))
      .withWatermark("wday", "8 days")
      .dropDuplicates("wday", "user_id")
    val agg = contrib
      .groupBy(window(col("wday"), "1 day"))
      .agg(count(lit(1)).as("wau"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("wau"))
    drain(agg, Append).orderBy("day")
  }
}
