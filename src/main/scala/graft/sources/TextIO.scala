package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's I/O model (`/root/reference/src/mr/worker.go`):
  *
  *  - source: one whole text file per map task, map sees (filename,
  *    contents) — `worker.go:60-70`, `mrsequential.go:39-49`;
  *  - sink: line-oriented `"key value\n"` partition files — `worker.go:125-141`.
  *
  * Re-expressed on Spark's file sources. Unlike the reference, the sink is
  * binary-safe on read-back only for keys/values without the separator —
  * the same documented quirk as `worker.go:112-115` (lines that don't split
  * into exactly two fields are dropped); parquet is the engine's native
  * format, this exists for byte-compatible interchange with the reference.
  */
object TextIO {

  private def tempDir(prefix: String): String =
    graft.util.TempDirs.create(prefix).toString

  /** Whole-file scan: DataFrame(name, contents), one row per file — the
    * reference's map-task input model. Each file is one row, so at scale
    * parallelism = #files, exactly like the reference's task-per-file
    * queue (`coordinator.go:263-266`). */
  def wholeTextFiles(s: SparkSession, globPath: String): DataFrame =
    s.read.option("wholetext", "true").text(globPath)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("name"),
        col("value").as("contents"))

  /** `"key value"` text sink, one directory of part files ≙ mr-out-R. */
  def writeKv(df: DataFrame, outDir: String): Unit =
    df.select(concat_ws(" ", col("key"), col("value")).as("value"))
      .write.mode("overwrite").text(outDir)

  /** Read back a [[writeKv]] directory (or reference mr-out files): rows
    * that don't split into exactly two fields are dropped, mirroring
    * `worker.go:112-115`. */
  def readKv(s: SparkSession, dir: String): DataFrame =
    s.read.text(dir)
      .select(split(col("value"), " ").as("f"))
      .filter(size(col("f")) === 2)
      .select(element_at(col("f"), 1).as("key"), element_at(col("f"), 2).as("value"))

  /** Declared end-to-end exercise of the reference's I/O model: a bounded
    * document sample (doc_id < 50) is materialized one text FILE per doc
    * (the map-task input layout of `worker.go:60-70`, via a partitionBy
    * text write), whole-file-scanned back, word-counted, pushed through
    * the `"key value"` sink and re-read — surfacing (word, cnt). The file
    * writes ARE the operator under test (I/O), and the sample bound keeps
    * the file fan-out constant regardless of corpus scale. */
  def textRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft_textio")
    val docsDir = s"$tmp/docs"
    val kvDir = s"$tmp/kv"
    graft.Tables.documents(s, dir).filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text").as("value"))
      .write.partitionBy("doc_id").mode("overwrite").text(docsDir)
    val counts = wholeTextFiles(s, s"$docsDir/doc_id=*/part-*")
      .select(explode(graft.functions.Fns.tokensArr(col("contents"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word").as("key"), col("cnt").cast("string").as("value"))
    writeKv(counts, kvDir)
    readKv(s, kvDir)
      .select(col("key").as("word"), col("value").cast("bigint").as("cnt"))
      .orderBy("word")
  }

  // KV layout built once per (session, corpus) and shared across the
  // q_kv_source invocations of a run — same memoization discipline as the
  // bucketed/partitioned layouts (the layout IS part of the operator; the
  // bench warm list charges it to setup, not steady state).
  private val kvLayoutCache = graft.util.CorpusMemo[String]()

  /** Declared exercise of the [[graft.sources.kv.KvDataSource]] V2
    * connector: the corpus wordcount is materialized through the
    * `"key value"` sink, then read back via `format("graftkv")` with a
    * prefix predicate — which the connector receives as a pushed
    * `StringStartsWith` and evaluates inside the partition readers before
    * any row is built (asserted in `KvSourceSpec`; Spark re-evaluates it
    * post-scan as the conservative correctness backstop). The oracle
    * recomputes the filtered wordcount straight from the documents
    * table, closing the loop over the sink format, the connector parse,
    * and the pushdown. */
  /** The per-corpus wordcount `"key value"` layout, written through the
    * connector's OWN V2 sink (memoized — the layout IS the investment). */
  def kvWordcountLayout(s: SparkSession, dir: String): String =
    kvLayoutCache(s, dir) {
      val tmp = tempDir("graft_kvsrc")
      // the canonical wordcount (single tokenizer definition — a drifted
      // copy here would silently break the q_kv_source hash check),
      // written through the connector's OWN V2 sink so the declared query
      // exercises both directions of the format
      graft.operators.MrSuite.wordCount(s, dir)
        .select(col("word").as("key"), col("cnt").cast("string").as("value"))
        .write.format("graftkv").mode("overwrite").save(tmp)
      tmp
    }

  // second kv layout (per-word document frequency) for the multi-source
  // connector→plugin-API query; same memo discipline as the wordcount one
  private val kvDfLayoutCache = graft.util.CorpusMemo[String]()

  /** Per-word document-frequency `"key value"` layout via the V2 sink. */
  def kvDocFreqLayout(s: SparkSession, dir: String): String =
    kvDfLayoutCache(s, dir) {
      val tmp = tempDir("graft_kvdf")
      graft.operators.MrSuite.tokenPairs(s, dir)
        .select(col("word"), col("doc_id")).distinct()
        .groupBy("word").agg(count(lit(1)).as("df"))
        .select(col("word").as("key"), col("df").cast("string").as("value"))
        .write.format("graftkv").mode("overwrite").save(tmp)
      tmp
    }

  def kvSource(s: SparkSession, dir: String): DataFrame =
    s.read.format("graftkv").load(kvWordcountLayout(s, dir))
      .filter(col("key").startsWith("s"))
      .select(col("key"), col("value").cast("bigint").as("cnt"))
      .orderBy("key")

  /** Declared CSV→JSON→ORC format roundtrip: a bounded sample flows
    * through the CSV sink/source (schema inference), the JSON sink/source,
    * then the columnar ORC sink/source, and the result is aggregated —
    * proving all three engine-native interchange formats preserve values
    * end to end. */
  def formatRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft_fmt_rt")
    val d = graft.Tables.documents(s, dir).filter(col("doc_id") < 50)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    writeCsv(d, s"$tmp/c")
    writeJson(readCsv(s, s"$tmp/c"), s"$tmp/j")
    readJson(s, s"$tmp/j").write.mode("overwrite").orc(s"$tmp/o")
    s.read.orc(s"$tmp/o")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** Declared dirty-CSV ingestion under PERMISSIVE mode — the
    * source-side complement of the `try_*` expression family: one
    * malformed row must not kill a 10-hour ingest, it must land in the
    * corrupt-record column with the parsed columns nulled. The dirty
    * file derives deterministically from customer (every key ≡ 5 mod 11
    * gets a non-numeric balance field), so the oracle recomputes the
    * good/corrupt split and the decimal-exact sum of the surviving
    * balances straight from the base table. The malformed-row census —
    * total / parsed / rescued-to-corrupt-column counts — is exactly the
    * data-quality report an ingest job emits before promoting a batch.
    * Narrow scan, one aggregate; the CSV write is the bounded layout
    * investment. */
  // dirty-CSV layout memoized like the kv layout above — plan-only
  // sweeps and warm bench runs must not pay (or leak) a fresh write
  private val csvLayoutCache = graft.util.CorpusMemo[String]()

  def csvDirty(s: SparkSession, dir: String): DataFrame = {
    val tmp = csvLayoutCache(s, dir) {
      val t = tempDir("graft_csvdirty")
      graft.Tables.customer(s, dir)
        .select(concat_ws(",",
          col("c_custkey"),
          col("c_name"),
          when(col("c_custkey") % 11 === 5, lit("oops"))
            .otherwise(col("c_acctbal").cast("string"))).as("value"))
        .write.mode("overwrite").text(s"$t/csv")
      t
    }
    val schema = "c_custkey LONG, c_name STRING, c_acctbal DOUBLE, _corrupt STRING"
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(s"$tmp/csv")
      .agg(count(lit(1)).as("n_rows"),
        count(col("c_acctbal")).as("n_parsed"),
        count(col("_corrupt")).as("n_corrupt"),
        graft.functions.Fns.sumD2(col("c_acctbal")).as("sum_balance"))
  }

  /** Declared parquet schema-evolution read: two snapshot generations of
    * the orders table — v1 with the original (orderkey, totalprice)
    * schema, v2 after the table gained a status column — are written as
    * separate parquet directories and read back together with
    * `mergeSchema`, the engine's schema-evolution contract: v1 rows
    * surface the new column as NULL, which the aggregate folds into an
    * "unknown" bucket. The snapshots derive deterministically from orders
    * (keys ≡ 0 and ≡ 1 mod 3), so the oracle reproduces the merged result
    * straight from the base table. Footer merging is distributed at scale
    * (one task per file footer), and the sum is decimal-routed. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft_evo")
    val o = graft.Tables.orders(s, dir)
    o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmp/v1")
    o.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$tmp/v2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
      .groupBy(coalesce(col("o_orderstatus"), lit("unknown")).as("status"))
      .agg(count(lit(1)).as("n"),
           graft.functions.Fns.sumD2(col("o_totalprice")).as("sum_price"))
      .orderBy("status")
  }

  /** CSV and JSON source/sink wrappers (engine-native formats beyond the
    * reference's text model). */
  def readCsv(s: SparkSession, path: String): DataFrame =
    s.read.option("header", "true").option("inferSchema", "true").csv(path)
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
  def readJson(s: SparkSession, path: String): DataFrame = s.read.json(path)
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
