package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-recovery contract: a streaming query stopped and restarted
  * from its checkpoint must process every input exactly once — no
  * duplicates, no loss — including its aggregation STATE surviving the
  * restart. This is the streaming twin of the reference's crash-recovery
  * battery (`test-mr.sh:270-317` re-runs killed workers and diffs against
  * the sequential oracle): there the coordinator's task table makes
  * re-execution safe; here the checkpoint (WAL + state store) plus the
  * file-sink transaction log make it exactly-once.
  *
  * Mechanics proven:
  *  - the file SOURCE records processed files in the checkpoint, so a
  *    restart resumes at the first unseen file;
  *  - the parquet SINK's `_spark_metadata` transaction log commits files
  *    atomically per batch, so `spark.read` sees exactly the committed
  *    set even if a crash left partial files;
  *  - watermark + window STATE is restored from the state store, so
  *    windows spanning the restart still aggregate their pre-restart
  *    rows.
  */
class RecoverySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  private def tempRoot(): java.io.File = {
    val d = Files.createTempDirectory("graft_recovery").toFile
    d.deleteOnExit(); d
  }

  test("restart from checkpoint is exactly-once for a passthrough sink") {
    val root = tempRoot()
    val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    val ev = Tables.events(spark, sf).select("event_id", "event_type")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ev.schema).parquet(src)
      val q = stream.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    // first half of the input, first run
    ev.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    runOnce()
    val afterFirst = spark.read.parquet(sink).count()
    // second half lands while the query is DOWN; restart from checkpoint
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    runOnce()
    // and an idle restart with nothing new must be a no-op
    runOnce()
    val out = spark.read.parquet(sink)
    assert(afterFirst === ev.filter(col("event_id") % 2 === 0).count())
    assert(out.count() === ev.count(), "no loss, no duplicates")
    assert(out.select(countDistinct(col("event_id"))).collect()(0).getLong(0)
      === ev.count(), "every id exactly once")
  }

  test("windowed aggregation state survives the restart") {
    val root = tempRoot()
    val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
    val ev = Tables.events(spark, sf).select(col("ts"), col("event_type"))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ev.schema).parquet(src)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour"), col("event_type"), col("n"))
      val q = agg.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    // split at a MID-WINDOW instant: the [12:00, 13:00) window gets rows
    // from both runs, so its correct total REQUIRES the restored state —
    // and every run-2 row is ≥ the persisted watermark (max run-1 ts −
    // 1 h < 12:00), so nothing is late-dropped
    val cut = lit("2024-01-15 12:30:00").cast("timestamp")
    ev.filter(col("ts") < cut).write.mode("append").parquet(src)
    runOnce()
    ev.filter(col("ts") >= cut).write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(sink)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    assert(got.map(_._1).distinct.length === got.length,
      "each closed window emitted exactly once across both runs")
    // closed set equals the batch oracle over the FULL input with the
    // final-watermark closure rule: the watermark persists in the
    // checkpoint and advances monotonically, so after both runs it is
    // the GLOBAL max event time − 1 h
    val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val want = ev
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(to_timestamp(col("hour"), "yyyy-MM-dd HH:mm:ss")
        + expr("INTERVAL 1 HOUR") <= lit(mx) - expr("INTERVAL 1 HOUR"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    assert(got.toMap === want.toMap)
    assert(got.nonEmpty)
    // the boundary window itself must have merged both runs' rows
    val boundary = got.toMap.filter(_._1._1 == "2024-01-15 12:00:00")
    val firstHalf = ev.filter(col("ts") >= lit("2024-01-15 12:00:00")
        && col("ts") < lit("2024-01-15 12:30:00"))
    val secondHalf = ev.filter(col("ts") >= lit("2024-01-15 12:30:00")
        && col("ts") < lit("2024-01-15 13:00:00"))
    // assert only when the boundary window actually CLOSED (its end is
    // at or below the final watermark) — otherwise append mode rightly
    // emitted nothing for it
    val boundaryClosed = !mx.toInstant.minusSeconds(3600)
      .isBefore(java.time.Instant.parse("2024-01-15T13:00:00Z"))
    if (firstHalf.count() > 0 && secondHalf.count() > 0 && boundaryClosed) {
      assert(boundary.values.sum === firstHalf.count() + secondHalf.count(),
        "the restart-spanning window aggregated rows from both runs")
    }
  }

  test("a windowed checkpoint resumes across Hadoop's LocalFs and graft's, both ways") {
    import graft.util.LocalFs
    // an untuned session opens its checkpoint FileContext on Hadoop's
    // LocalFs, a tuned one on graft's
    val stock = spark.newSession()
    val tuned = Engine.tune(spark.newSession())
    assert(!stock.conf.getAll.contains(LocalFs.ImplKey))
    assert(tuned.conf.get(LocalFs.ImplKey) === classOf[LocalFs].getName)
    val ev = Tables.events(spark, sf).select(col("ts"), col("event_type"))
    val cut = lit("2024-01-15 12:30:00").cast("timestamp")
    // the windowed restart above, its first run on `first` and its
    // second on `second`
    def restart(first: SparkSession, second: SparkSession): Map[(String, String), Long] = {
      val root = tempRoot()
      val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
      def runOnce(s: SparkSession): Unit = {
        val agg = s.readStream.schema(ev.schema).parquet(src)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("hour"), col("event_type"), col("n"))
        val q = agg.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      ev.filter(col("ts") < cut).write.mode("append").parquet(src)
      runOnce(first)
      ev.filter(col("ts") >= cut).write.mode("append").parquet(src)
      runOnce(second)
      assert(new java.io.File(s"$ckpt/state/0/0/.1.delta.crc").isFile,
        "state commits carry Hadoop's .crc sidecars")
      val got = spark.read.parquet(sink)
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      assert(got.map(_._1).distinct.length === got.length,
        "each closed window emitted exactly once across both runs")
      got.toMap
    }
    val mx = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val want = ev
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .filter(to_timestamp(col("hour"), "yyyy-MM-dd HH:mm:ss")
        + expr("INTERVAL 1 HOUR") <= lit(mx) - expr("INTERVAL 1 HOUR"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(want.nonEmpty)
    assert(restart(stock, tuned) === want)
    assert(restart(tuned, stock) === want)
  }
}
