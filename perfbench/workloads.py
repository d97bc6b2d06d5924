"""The benchmark's workloads: the queries each one runs and the corpus it
runs them on. `scale` multiplies the fixture's sf0.1 row counts."""
import corpus

WORKLOADS = {
    # The reference's MapReduce app suite on both paths (declarative and
    # the mr.MapReduceJob plugin API) and the near-dup chain: map /
    # shuffle / fold work plus the per-corpus memo layer, the tokenizer
    # (Generate) and the clustering loop's iterative supersteps.
    "pipeline": {
        "queries": [
            "q_wordcount", "q_inverted_index",
            "q_mr_wordcount", "q_mr_inverted_index",
            "q_dedup_ngram", "q_dedup_clusters", "q_dedup_apply",
        ],
        # queries that read a per-corpus memo (CorpusMemo) another query
        # of the chain may already have built
        "memo_consumers": [
            "q_dedup_ngram", "q_dedup_clusters", "q_dedup_apply",
        ],
        # plugin-API query -> its declarative twin
        "mr_twins": {"q_mr_wordcount": "q_wordcount",
                     "q_mr_inverted_index": "q_inverted_index"},
        "corpus": {"scale": 0.02, "dup_share": corpus.FIXTURE_DUP_SHARE},
    },
    # Read-only scans, joins and aggregates on Zipf-skewed keys: no memo
    # consumers, no tokenizer, no streams, so it is the control for
    # pipeline-layer changes. Every other join here is small enough to be
    # broadcast; q_bloom_join turns broadcasts off in its own session, so
    # the list also holds a shuffled join.
    "star_join": {
        "queries": [
            "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q10",
            "q_tpch_q18", "q_skew_audit", "q_bloom_join",
        ],
        "memo_consumers": [],
        "mr_twins": {},
        # Zipf exponent 1: the z = 1 setting of the Chaudhuri-Narasayya
        # skewed TPC-D generator (z from 0, uniform, to 4)
        "corpus": {"scale": 0.05, "zipf": 1.0},
    },
    # Structured Streaming flavors, each on a fresh checkpoint: engine
    # start-up, RocksDB state stores, per-batch planning, WAL commits and
    # sink lanes over late and out-of-order events in several part files.
    "streaming": {
        "queries": [
            "q_stream_window", "q_stream_stream_join", "q_stream_current",
            "q_stream_kv_sink",
        ],
        "memo_consumers": [],
        "mr_twins": {},
        "corpus": {"scale": 0.02, "late_share": 0.05, "event_parts": 4},
    },
}
