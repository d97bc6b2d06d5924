"""Seeded corpus generator for the benchmark workloads.

Writes the fixture's ten-table layout (same table names, arrow types and
value domains as the fixtures described in FIXTURES.md), so every
declared query and its DuckDB oracle run unchanged. Entity keys are dense
`0..n-1` like the fixtures (the re-keying scheme of `tools/make_scaled.py`
with one copy); on top of that the generator adds the input properties
each workload varies:

- near-duplicate documents at the share and in the form the sf0.1 fixture
  has them (FIXTURE_* below), so documents share shingles and LSH bands;
- Zipf-skewed `l_partkey` / `o_custkey`;
- a late / out-of-order share of events, and the events table written as
  a directory of part files.

Every table is written with ROW_GROUPS row groups. The same (seed, spec)
gives byte-identical files.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Row groups per table file (and per events part file).
ROW_GROUPS = 4

# Document text as measured on the sf0.1 fixture (seed 42, 5 000
# documents, 270 454 words); FixtureProfileTest checks that the generator
# reproduces each figure.
# - 250 documents (5 %) end in the tag " dup"; 243 of them are another
#   document's text copied verbatim plus the tag (the other 7 copy a
#   text whose document was itself replaced by a copy).
FIXTURE_DUP_SHARE = 0.05
# - untagged texts have 10..99 words (mean 54.1), uniformly;
FIXTURE_WORDS_PER_DOC = (10, 99)
# - every word is one of the 30 in WORDS, each 3.26-3.40 % of all words,
#   i.e. drawn uniformly;
# - lang shares en 0.412, zh 0.151, es 0.149, fr 0.148, de 0.140, which
#   LANG_P rounds to two places.
# The fixture has no late events: event_id order is event-time order.

# Late events. The share is the benchmark's choice (the fixture has
# none); each late event is delayed by up to twice the 1 hour watermark
# the event-time stream queries declare, so about half of them trail the
# newest earlier event by more than the watermark delay.
LATE_MAX_US = 2 * 3600 * 1_000_000

# Row counts of the fixture at sf0.1; a spec's `scale` multiplies them.
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def zipf_keys(rng, n_keys, size, s):
    """Keys in [0, n_keys) with Zipf(s) frequencies over a seeded
    permutation, so the hot keys are spread over the key range."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    cdf = np.cumsum(w / w.sum())
    ranks = np.minimum(np.searchsorted(cdf, rng.random(size)), n_keys - 1)
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def day_ts(rng, first_day, n_days, size):
    days = rng.integers(0, n_days, size)
    return pa.array(EPOCH_1995 + (first_day + days) * DAY_US,
                    pa.timestamp("us"))


def pick(rng, values, size, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size, p=p)].tolist(), pa.string())


def documents(rng, n, dup_share):
    """Texts of uniform words over the fixture vocabulary, with lengths
    uniform over FIXTURE_WORDS_PER_DOC; exactly a `dup_share` of them are
    another (untagged) document's text plus the tag ` dup`, as the
    fixture's near-duplicates are."""
    lo, hi = FIXTURE_WORDS_PER_DOC
    lengths = rng.integers(lo, hi + 1, n)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in lengths]
    dups = rng.choice(n, int(round(dup_share * n)), replace=False)
    sources = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(sources, len(dups))):
        texts[i] = texts[j] + " dup"
    return texts, len(dups)


def events(rng, n, users, late_share):
    """Event times ascend with event_id over 30 days, as in the fixture,
    except exactly a `late_share` that arrive up to LATE_MAX_US late
    (their ts lies before rows written ahead of them), so the stream sees
    out-of-order data."""
    gaps = rng.exponential(30 * DAY_US / n, n)
    ts = EPOCH_2024 + np.cumsum(gaps).astype(np.int64)
    late = rng.choice(n, int(round(late_share * n)), replace=False)
    ts[late] -= rng.integers(1, LATE_MAX_US, len(late))
    ts = np.maximum(ts, EPOCH_2024)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    }), len(late)


def build(spec, seed):
    """All ten tables for `spec` (see workloads.py) and a dict of the
    generated properties."""
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = {t: max(int(round(n * spec["scale"])), 10)
            for t, n in BASE_ROWS.items()}
    rows["supplier"] = max(rows["supplier"], 25)
    c, s, p, o = (rows[t] for t in ("customer", "supplier", "part", "orders"))
    li, e, d, v = (rows[t] for t in ("lineitem", "events", "documents",
                                     "embeddings"))
    skew = spec.get("zipf", 0.0)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pick(rng, SEGMENTS, c)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, s))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(900 + (np.arange(p) % 1000) / 10.0)})
    custkey = (zipf_keys(rng, c, o, skew) if skew
               else rng.integers(0, c, o).astype(np.int64))
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(custkey),
        "o_orderstatus": pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": day_ts(rng, 0, 2405, o),
        "o_orderpriority": pick(rng, PRIORITIES, o)})
    partkey = (zipf_keys(rng, p, li, skew) if skew
               else rng.integers(0, p, li).astype(np.int64))
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], li),
        "l_linestatus": pick(rng, ["F", "O"], li),
        "l_shipdate": day_ts(rng, 1, 2499, li)})
    t["events"], n_late = events(rng, e, max(e * 3 // 200, 10),
                                 spec.get("late_share", 0.0))
    texts, n_dup = documents(rng, d, spec.get("dup_share", 0.0))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, d, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.normal(size=(v, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v, dtype=np.int64)),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v).astype(np.int32))})
    props = {"near_dup_docs": n_dup, "late_events": n_late,
             "zipf_s": skew, "event_parts": spec.get("event_parts", 1)}
    return t, props


def _write(table, path):
    rg = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rg, compression="snappy")


def write(spec, seed, out_dir, oracle_dir=None):
    """Generate the corpus into `out_dir` and return its summary (rows,
    bytes and a content fingerprint per table, plus the properties).

    With `event_parts` > 1 the events table is a directory
    `events.parquet/` of part files (the layout the streaming sources read
    incrementally). DuckDB cannot read a directory by that name, so
    `oracle_dir` then receives the same rows as one file, with every other
    table hard-linked from `out_dir`."""
    tables, props = build(spec, seed)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    parts = spec.get("event_parts", 1)
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name == "events" and parts > 1:
            os.makedirs(path)
            step = -(-table.num_rows // parts)
            for i in range(parts):
                _write(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
        else:
            _write(table, path)
    if oracle_dir:
        shutil.rmtree(oracle_dir, ignore_errors=True)
        os.makedirs(oracle_dir)
        for name in TABLES:
            src = os.path.join(out_dir, f"{name}.parquet")
            dst = os.path.join(oracle_dir, f"{name}.parquet")
            if os.path.isdir(src):
                _write(tables[name], dst)
            else:
                os.link(src, dst)
    return summary(out_dir, tables, props)


def _files(path):
    if os.path.isdir(path):
        return [os.path.join(path, f) for f in sorted(os.listdir(path))]
    return [path]


def summary(out_dir, tables, props):
    h = hashlib.sha256()
    out = {"tables": {}, "properties": props}
    for name in TABLES:
        files = _files(os.path.join(out_dir, f"{name}.parquet"))
        size = 0
        for f in files:
            with open(f, "rb") as fh:
                data = fh.read()
            h.update(os.path.basename(f).encode())
            h.update(data)
            size += len(data)
        out["tables"][name] = {"rows": tables[name].num_rows, "bytes": size,
                               "files": len(files)}
    out["fingerprint"] = h.hexdigest()[:16]
    return out
