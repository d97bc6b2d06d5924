package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.util.CorpusMemo

/** One benchmark process: a closed loop with one client (this thread)
  * over a workload's query list on `local[<cores>]`.
  *
  *  1. Build the session, then run an untimed warm-up pass that writes
  *     every query's output as parquet under `--dump` (the outputs the
  *     oracle check compares) together with `oracle_sql.json`. Set-up
  *     ends here.
  *  2. Run timed passes, each forced with the `noop` sink as `graft.Bench`
  *     forces queries, until `--seconds` have passed. With `--trace 1`
  *     untraced and traced passes alternate (at least untraced, traced,
  *     untraced), so tracing overhead is the difference of the two.
  *
  * Every pass starts by dropping the corpus's memos
  * (`CorpusMemo.invalidate`), so each pass builds them once and its later
  * consumers read them. Raw timings and trace records go to `--out` as
  * one JSON document when the run ends.
  *
  * Arguments: --corpus DIR --dump DIR --out FILE --queries q1,q2,...
  * --seconds S --trace 0|1 --work DIR */
object Main {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  /** Driver epoch milliseconds at nanosecond resolution. */
  private def now: Double = ms0 + (System.nanoTime() - nano0) / 1e6
  /** (busy, stolen) jiffies of the whole machine (Linux /proc/stat). */
  private def jiffies: Seq[Long] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      Seq(f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Throwable => Seq(0L, 0L) }
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def jiffiesBetween(j0: Seq[Long], j1: Seq[Long]): Map[String, Long] =
    Map("busy_jiffies" -> (j1(0) - j0(0)), "steal_jiffies" -> (j1(1) - j0(1)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val corpus = opt("corpus")
    val dump = opt("dump")
    val queries = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors

    val j0 = jiffies
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Engine.tune(spark)
    val sessionEnd = now

    def noop(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def toParquet(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dump/$name")

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val tracer = new Tracer(spark)

    def call(name: String, traced: Boolean,
             sink: (String, DataFrame) => Unit): Map[String, Any] = {
      val fn = SparkEntry.queries(name)
      val conf0 = if (traced) spark.conf.getAll else Map.empty[String, String]
      val memo0 = CorpusMemo.liveEntries
      val j0 = jiffies
      val start = now
      var built = Double.NaN
      val error =
        try {
          val df = fn(spark, corpus)
          built = now
          if (traced) tracer.watch(df.sparkSession)
          sink(name, df)
          None
        } catch {
          case e: Throwable => Some(e.toString.linesIterator.nextOption().getOrElse("").take(300))
        }
      val end = now
      val j1 = jiffies
      val memo1 = CorpusMemo.liveEntries
      val changed = if (!traced) Nil else {
        val conf1 = spark.conf.getAll
        (conf0.keySet ++ conf1.keySet).toSeq.sorted.filter(k => conf0.get(k) != conf1.get(k))
      }
      error.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
      Map("query" -> name, "start" -> start,
        "built" -> (if (built.isNaN) end else built), "end" -> end,
        "error" -> error, "memo_before" -> memo0, "memo_after" -> memo1,
        "conf_changed" -> changed) ++ jiffiesBetween(j0, j1)
    }

    def pass(index: Int, traced: Boolean,
             sink: (String, DataFrame) => Unit): Map[String, Any] = {
      CorpusMemo.invalidate(spark, corpus)
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      val live0 = CorpusMemo.liveEntries
      if (traced) tracer.attach()
      val j0 = jiffies
      val start = now
      val calls = queries.map(call(_, traced, sink))
      val end = now
      val j1 = jiffies
      if (traced) tracer.detach()
      val stored = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      // what the pass leaves live on the heap (memos, caches, state); the
      // ContextCleaner drops the blocks of broadcasts and shuffles the
      // first collection found unreachable, and the second frees them
      System.gc()
      Thread.sleep(300)
      System.gc()
      val liveHeap = heapPools.map(_.getUsage.getUsed).sum / 1048576.0
      Map("pass" -> index, "traced" -> traced, "start" -> start, "end" -> end,
        "memo_live_start" -> live0, "memo_live_end" -> CorpusMemo.liveEntries,
        "stored_bytes" -> stored,
        "heap_peak_mb" -> heapPeak, "live_heap_mb" -> liveHeap,
        "calls" -> calls) ++ jiffiesBetween(j0, j1)
    }

    val warm = pass(0, traced = false, toParquet)
    val setupEnd = now
    val j1 = jiffies
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dump, "oracle_sql.json"),
      json.writeValueAsString(queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val loop0 = now
    // traced runs alternate untraced / traced passes and end on an
    // untraced one, so the passes still warming up do not bias the
    // tracing overhead toward either side
    def done = now - loop0 >= seconds * 1000 &&
      (!trace || passes.size >= 3 && passes.size % 2 == 1)
    while (passes.isEmpty || !done) {
      val traced = trace && passes.size % 2 == 1
      passes += pass(passes.size + 1, traced, noop)
    }

    val result = Map(
      "cores" -> cores, "jvm_start" -> jvmStart,
      "session_end" -> sessionEnd, "setup_end" -> setupEnd,
      "setup_jiffies" -> jiffiesBetween(j0, j1),
      "warm" -> warm, "passes" -> passes.toSeq,
      "vm_hwm_kb" -> vmHwmKb, "trace" -> (if (trace) tracer.records else null))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), json.writeValueAsString(result))
    spark.stop()
    sys.exit(0)
  }

  /** Peak resident set size of this process (Linux), in KiB. */
  private def vmHwmKb: Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }
}
