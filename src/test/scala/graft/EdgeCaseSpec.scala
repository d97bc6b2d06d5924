package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Empty-input robustness: every operator family must plan and run on
  * zero-row tables (the first thing a user hits pointing the engine at an
  * empty partition of a 100 TB table). */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Zero-row copies of every fixture table, preserving schemas. */
  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft_empty")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"${SparkTestSession.Sf}/$t.parquet")
        .limit(0).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events needs the raw (nanos-as-long) path to read, so rebuild a
    // typed empty frame through the normalizer instead
    Tables.events(spark, SparkTestSession.Sf)
      .limit(0).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  // a representative query per operator family, and every stream flavor
  // (the I/O roundtrips excluded: their file-source machinery needs real
  // files)
  private val families = Seq(
    "q_wordcount", "q_grouped_agg", "q_join_multi", "q_window_rank",
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_minhash", "q_dedup_clusters",
    "q_embedding_neardup", "q_similarity_topk", "q_tfidf", "q_cube_docs",
    "q_asof_join", "q_range_join", "q_session_window", "q_pivot",
    "q_fuzzy_join", "q_moving_agg", "q_argmax", "q_chunking",
    "q_except_all", "q_window_navigation", "q_sessionize",
    "q_map_functions", "q_approx_topk", "q_approx_percentile",
    "q_variant_extract", "q_lateral_topk", "q_upsert", "q_grep",
    // round-4 second/third wave
    "q_recursive_cte", "q_mr_cogroup", "q_gopher_quality", "q_scd2",
    "q_collocations", "q_funnel", "q_char_diversity", "q_skyline",
    "q_retention", "q_anomaly", "q_gaps_islands", "q_schema_evolution",
    "q_decontamination", "q_range_frame_time", "q_embedding_quantize",
    "q_dedup_containment", "q_zorder", "q_try_functions",
    "q_importance_sample", "q_sql_udtf", "q_percentiles_disc",
    // round-5 eval + analysis wave
    "q_equidepth_hist", "q_next_token", "q_pii_scan",
    "q_ann_recall", "q_eval_confusion", "q_kv_source", "q_bpe_train",
    "q_incremental_agg", "q_degree_hist",
    // streaming on an empty scheduling window: zero batches fire and the
    // sink read-back must yield an empty frame, not a path error
    "q_stream_window", "q_stream_topk", "q_stream_dedup",
    "q_stream_outer_join", "q_stream_current",
    // round-6 wave: connector-fed cogroup + stream→kv-sink loop
    "q_mr_kv_cogroup", "q_stream_kv_sink",
    // round-8 wave: data selection & evaluation
    "q_dsir", "q_rank_fusion", "q_source_similarity", "q_langid_eval",
    "q_quality_sweep", "q_lsh_pr_sweep", "q_stream_lsh_ingest",
    "q_multimodal_dedup", "q_dataset_card",
    // the remaining stream flavors (q_stream_hll has its own case below:
    // its empty-input answer is one estimate row)
    "q_stream_window_wm", "q_stream_sessions", "q_stream_static_join",
    "q_stream_stream_join", "q_stream_cdc_dedup", "q_stream_domain_cap",
    "q_stream_pps_sample", "q_stream_lsh_admit", "q_stream_gap_fill",
    "q_stream_active_users", "q_stream_percentile", "q_stream_changepoint",
    "q_stream_drift")

  /** A stream flavor's zero-row answer must carry the columns and types
    * of its answer on real data (nullability aside): the zero-batch
    * read-back builds its frame from a schema, not from sink files. */
  private def assertStreamSchema(name: String, empty: org.apache.spark.sql.DataFrame): Unit =
    if (name.startsWith("q_stream_")) {
      def cols(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
      assert(cols(empty) === cols(SparkEntry.queries(name)(spark, SparkTestSession.Sf)),
        s"$name zero-row schema")
    }

  // per-family registered tests: one broken family fails by name instead
  // of aborting the whole empty-input sweep
  families.foreach { name =>
    test(s"$name runs on zero-row inputs") {
      val df = SparkEntry.queries(name)(spark, emptyDir)
      val n = df.count()
      assert(n === 0L, s"$name returned $n rows on empty input")
      assertStreamSchema(name, df)
    }
  }

  test("triangle census of an empty graph is the all-zero row") {
    val r = SparkEntry.queries("q_triangle_count")(spark, emptyDir).collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === 0L && r.head.getLong(1) === 0L &&
           r.head.getLong(2) === 0L && r.head.getDouble(3) === 0.0)
  }

  test("stream HLL of an empty corpus is the all-zero-register estimate row") {
    // 256 empty registers: harmonic sum 256, so the raw estimate is
    // floor(0.7213 / (1 + 1.079/256) * 65536 / 256) = 183
    val df = SparkEntry.queries("q_stream_hll")(spark, emptyDir)
    val r = df.collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === 183L && r.head.getLong(1) === 256L &&
           r.head.getLong(2) === 0L)
    assertStreamSchema("q_stream_hll", df)
  }
}
