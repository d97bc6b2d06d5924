package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.util.TempDirs

/** The footer-schema rule of [[Tables]]: every loader yields the schema
  * and optimized plan that `spark.read.parquet` infers, starts no Spark
  * job doing so, and fails exactly as `spark.read.parquet` fails. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.eventsRaw _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  /** Schema on success, exception class on failure. */
  private def outcome(df: => DataFrame): Either[String, StructType] =
    try Right(df.schema) catch { case e: Exception => Left(e.getClass.getName) }

  private def assertParity(dir: String, name: String,
                           load: (SparkSession, String) => DataFrame): Unit = {
    val mine = load(spark, dir)
    // eventsRaw reads as inference does with nanosAsLong on, without
    // setting it, so the reference read sets it
    def infer = spark.read.parquet(s"$dir/$name.parquet")
    val ref = if (name == "events") withConf(NanosAsLong, "true")(infer) else infer
    assert(mine.schema === ref.schema, s"$dir: $name schema")
    assert(mine.queryExecution.optimizedPlan
      .sameResult(ref.queryExecution.optimizedPlan), s"$dir: $name plan")
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Writes `events.parquet` under `dir` with a real TIMESTAMP(NANOS) `ts`
    * column holding `us` (in µs), which Spark itself cannot write. */
  private def writeNanosEvents(dir: String, us: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try us.zipWithIndex.foreach { case (u, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", u * 1000L))
    } finally w.close()
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every fixture table loads with the schema and plan Spark infers") {
    loaders.foreach { case (name, load) => assertParity(sf, name, load) }
  }

  test("Spark-written part-file directories with _SUCCESS and .crc files") {
    val dir = TempDirs.create("graft_tables_").toString
    loaders.foreach { case (name, load) =>
      load(spark, sf).repartition(3)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val events = new java.io.File(s"$dir/events.parquet").list().toSeq
    assert(events.contains("_SUCCESS") && events.exists(_.endsWith(".crc")),
      s"expected Spark's marker and checksum files: $events")
    loaders.foreach { case (name, load) => assertParity(dir, name, load) }
  }

  test("all event timestamp encodings, including parquet TIMESTAMP(NANOS)") {
    import spark.implicits._
    val us = Seq(1700000000000000L, 1700000123456000L)
    val base = us.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("event_id", "us")
    Seq(
      "nanos_long" -> base.select($"event_id", ($"us" * 1000L).as("ts")),
      "micros_ntz" -> base.select($"event_id",
        timestamp_micros($"us").cast(TimestampNTZType).as("ts")),
      "micros_ltz" -> base.select($"event_id", timestamp_micros($"us").as("ts"))
    ).foreach { case (encode, df) =>
      val dir = TempDirs.create(s"graft_tables_$encode").toString
      df.write.parquet(s"$dir/events.parquet")
      assertParity(dir, "events", Tables.eventsRaw _)
    }
    // a real TIMESTAMP(NANOS) column, which Spark cannot write: the footer
    // path must honor nanosAsLong exactly as inference does
    val dir = TempDirs.create("graft_tables_nanos").toString
    writeNanosEvents(dir, us)
    assertParity(dir, "events", Tables.eventsRaw _)
    assert(Tables.eventsRaw(spark, dir).schema("ts").dataType === LongType)
    assert(Tables.events(spark, dir).select(unix_micros($"ts")).as[Long]
      .collect().sorted.toSeq === us)
    // with nanosAsLong off, the footer path gives what inference gives or
    // defers to it (and so fails as it does)
    withConf(NanosAsLong, "false") {
      val ref = outcome(spark.read.parquet(s"$dir/events.parquet"))
      Tables.footerSchema(spark, s"$dir/events.parquet") match {
        case Some(schema) => assert(Right(schema) === ref)
        case None         => assert(ref.isLeft)
      }
    }
  }

  test("loading events leaves the session conf unchanged, TIMESTAMP(NANOS) included") {
    val us = Seq(1700000000000000L, 1700000123456000L)
    val dir = TempDirs.create("graft_tables_conf").toString
    writeNanosEvents(dir, us)
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(Tables.events(s, sf).count() > 0)
    assert(Tables.events(s, dir).select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).sorted.toSeq === us)
    assert(s.conf.getAll === before)
  }

  test("layouts whose schema is not one file's footer defer to inference") {
    import spark.implicits._
    val dir = TempDirs.create("graft_tables_defer").toString
    // partition directories: the schema gains the partition column
    Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "k")
      .write.partitionBy("k").parquet(s"$dir/orders.parquet")
    assert(Tables.orders(spark, dir).schema ===
      spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(Tables.orders(spark, dir).columns.contains("k"))
    // one parquet file written by Spark, moved to a name of our choosing
    def writeFile(df: DataFrame, to: String): Unit = {
      val tmp = TempDirs.create("graft_tables_file").resolve("t").toString
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(java.nio.file.Paths.get(to).getParent)
      Files.move(part.toPath, java.nio.file.Paths.get(to))
    }
    val narrow = Seq(1L).toDF("r_regionkey")
    val wide = Seq((2L, "x")).toDF("r_regionkey", "r_name")
    // part files with different columns under mergeSchema: the union,
    // though the first file by name lacks r_name
    writeFile(narrow, s"$dir/region.parquet/part-0.parquet")
    writeFile(wide, s"$dir/region.parquet/part-1.parquet")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Tables.region(spark, dir).schema ===
        spark.read.parquet(s"$dir/region.parquet").schema)
      assert(Tables.region(spark, dir).columns.toSeq === Seq("r_regionkey", "r_name"))
    }
    // a summary file, which inference reads before any data file
    writeFile(narrow, s"$dir/nation.parquet/part-0.parquet")
    writeFile(wide, s"$dir/nation.parquet/_common_metadata")
    assert(Tables.nation(spark, dir).schema ===
      spark.read.parquet(s"$dir/nation.parquet").schema)
    assert(Tables.nation(spark, dir).columns.toSeq === Seq("r_regionkey", "r_name"))
  }

  test("loading a table starts no Spark job") {
    val sc = spark.sparkContext
    val started = new AtomicInteger(0)
    val marker = "graft-tables-spec-marker"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
              p.getProperty("spark.job.description") == marker)) markerSeen = true
        else if (!markerSeen) started.incrementAndGet()
    }
    Tables.lineitem(spark, sf) // first use of the session outside the count
    sc.addSparkListener(listener)
    try {
      Tables.lineitem(spark, sf)
      // the listener bus is asynchronous and in order: once the marker job
      // is seen, every job the load started has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen)
      assert(started.get() === 0)
    } finally sc.removeSparkListener(listener)
  }

  test("a missing table and an empty directory fail as spark.read.parquet does") {
    val dir = TempDirs.create("graft_tables_err").toString
    val missing = outcome(Tables.lineitem(spark, dir))
    assert(missing.isLeft)
    assert(missing === outcome(spark.read.parquet(s"$dir/lineitem.parquet")))
    val table = Files.createDirectory(java.nio.file.Paths.get(s"$dir/lineitem.parquet"))
    val empty = outcome(Tables.lineitem(spark, dir))
    assert(empty.isLeft)
    assert(empty === outcome(spark.read.parquet(s"$dir/lineitem.parquet")))
    // an empty Spark output: only the marker file, no data file
    Files.createFile(table.resolve("_SUCCESS"))
    val marked = outcome(Tables.lineitem(spark, dir))
    assert(marked.isLeft)
    assert(marked === outcome(spark.read.parquet(s"$dir/lineitem.parquet")))
  }
}
