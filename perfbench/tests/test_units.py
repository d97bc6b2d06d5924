"""Unit tests of the benchmark's generator, statistics and span math.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import stats  # noqa: E402
import spans as trace  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class CorpusTest(unittest.TestCase):
    def _write(self, spec, seed):
        d = tempfile.mkdtemp()
        return corpus.write(spec, seed, os.path.join(d, "c"),
                            os.path.join(d, "o")), d

    def test_same_seed_gives_identical_bytes(self):
        for name, spec in WORKLOADS.items():
            with self.subTest(workload=name):
                a, _ = self._write(spec["corpus"], 7)
                b, _ = self._write(spec["corpus"], 7)
                self.assertEqual(a, b)

    def test_other_seed_gives_other_corpus(self):
        spec = WORKLOADS["pipeline"]["corpus"]
        self.assertNotEqual(self._write(spec, 1)[0]["fingerprint"],
                            self._write(spec, 2)[0]["fingerprint"])

    def test_properties_are_injected(self):
        pipe, _ = self._write(WORKLOADS["pipeline"]["corpus"], 3)
        self.assertGreater(pipe["properties"]["near_dup_docs"], 0)
        stream, d = self._write(WORKLOADS["streaming"]["corpus"], 3)
        self.assertGreater(stream["properties"]["late_events"], 0)
        self.assertEqual(stream["tables"]["events"]["files"],
                         WORKLOADS["streaming"]["corpus"]["event_parts"])
        # the oracle copy holds the same rows as one file
        import pyarrow.parquet as pq
        self.assertEqual(
            pq.read_table(os.path.join(d, "o", "events.parquet")).num_rows,
            stream["tables"]["events"]["rows"])

    def test_several_row_groups(self):
        import pyarrow.parquet as pq
        _, d = self._write(WORKLOADS["star_join"]["corpus"], 1)
        md = pq.ParquetFile(os.path.join(d, "c", "lineitem.parquet")).metadata
        self.assertEqual(md.num_row_groups, corpus.ROW_GROUPS)

    def test_zipf_keys_follow_the_exponent(self):
        import numpy as np
        rng = np.random.Generator(np.random.PCG64(0))
        s = WORKLOADS["star_join"]["corpus"]["zipf"]
        keys = corpus.zipf_keys(rng, 1000, 200000, s)
        self.assertTrue(((keys >= 0) & (keys < 1000)).all())
        # log frequency against log rank over the 20 hottest keys has
        # slope -s
        freq = np.sort(np.bincount(keys, minlength=1000))[::-1][:20]
        slope = np.polyfit(np.log(np.arange(1, 21)), np.log(freq), 1)[0]
        self.assertAlmostEqual(-slope, s, delta=0.05)


class FixtureProfileTest(unittest.TestCase):
    """The generator reproduces the document and event profile measured
    on the sf0.1 fixture (corpus.FIXTURE_*)."""

    @classmethod
    def setUpClass(cls):
        import numpy as np
        cls.np = np
        rng = np.random.Generator(np.random.PCG64(42))
        # the fixture's 5 000 documents
        cls.texts, cls.n_dup = corpus.documents(
            rng, 5000, corpus.FIXTURE_DUP_SHARE)

    def test_near_dup_share_and_form(self):
        self.assertEqual(self.n_dup, 250)
        tagged = [t for t in self.texts if t.endswith(" dup")]
        self.assertEqual(len(tagged), 250)
        plain = set(t for t in self.texts if not t.endswith(" dup"))
        # each near-dup is another document's text plus the tag
        self.assertTrue(all(t[:-len(" dup")] in plain for t in tagged))

    def test_words_per_document(self):
        lens = self.np.array([len(t.split()) for t in self.texts
                              if not t.endswith(" dup")])
        lo, hi = corpus.FIXTURE_WORDS_PER_DOC
        self.assertEqual((lens.min(), lens.max()), (lo, hi))
        self.assertAlmostEqual(lens.mean(), 54.1, delta=1.0)

    def test_word_frequencies_are_uniform_over_the_vocabulary(self):
        from collections import Counter
        c = Counter(w for t in self.texts for w in t.split() if w != "dup")
        self.assertEqual(set(c), set(corpus.WORDS))
        total = sum(c.values())
        for w, n in c.items():
            # the fixture's shares lie within 3.26-3.40 %
            self.assertAlmostEqual(n / total, 1 / 30, delta=0.0015, msg=w)

    def test_lang_shares(self):
        np = self.np
        rng = np.random.Generator(np.random.PCG64(42))
        langs = corpus.pick(rng, corpus.LANGS, 5000, corpus.LANG_P)
        fixture = {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148,
                   "de": 0.140}
        values = langs.to_pylist()
        for lang, share in fixture.items():
            self.assertAlmostEqual(values.count(lang) / 5000, share,
                                   delta=0.015, msg=lang)

    def test_late_events(self):
        np = self.np
        rng = np.random.Generator(np.random.PCG64(1))
        table, n_late = corpus.events(rng, 20000, 300, 0.05)
        self.assertEqual(n_late, 1000)
        ts = table.column("ts").cast("int64").to_numpy()
        behind = np.maximum.accumulate(ts) - ts
        late = behind > 0
        # late events are out of event-time order, by at most LATE_MAX_US
        self.assertLessEqual(late.sum(), n_late)
        self.assertGreater(late.sum(), 0.9 * n_late)
        self.assertLessEqual(behind.max(), corpus.LATE_MAX_US)
        # without a late share, event_id order is event-time order
        table, _ = corpus.events(rng, 20000, 300, 0.0)
        ts = table.column("ts").cast("int64").to_numpy()
        self.assertTrue((np.diff(ts) >= 0).all())


class StatsTest(unittest.TestCase):
    def test_median_even_and_odd(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [9.1, 7.2, 8.8, 10.4, 7.9, 8.1, 9.9, 8.4, 7.7, 12.0]
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles([5.0]), (5.0, 5.0, 5.0))

    def test_spread(self):
        q1, q2, q3 = statistics.quantiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10], n=4)
        self.assertAlmostEqual(stats.spread(list(range(1, 11))),
                               (q3 - q1) / q2)

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile([4.0], 90), 4.0)

    def test_steal_adjusted(self):
        self.assertAlmostEqual(stats.steal_adjusted(10.0, 75, 25), 7.5)
        self.assertEqual(stats.steal_adjusted(10.0, 100, 0), 10.0)
        self.assertEqual(stats.steal_adjusted(10.0, 0, 0), 10.0)


class SpanTest(unittest.TestCase):
    def test_union_length_merges_and_clips(self):
        self.assertEqual(trace.union_length([(0, 4), (2, 6), (8, 9)], 0, 10), 7)
        self.assertEqual(trace.union_length([(-5, 3), (9, 20)], 0, 10), 4)
        self.assertEqual(trace.union_length([], 0, 10), 0)

    def test_self_time_subtracts_covered_children(self):
        q = trace.Span("query", "w/1/q", 0, 100)
        c = trace.Span("construct", "w/1/q/construct", 0, 40)
        e = trace.Span("exec", "w/1/q/exec", 40, 100)
        j1 = trace.Span("job", "job.1", 10, 30)
        j2 = trace.Span("job", "job.2", 50, 70)
        j3 = trace.Span("job", "job.3", 60, 90)  # overlaps job.2
        s1 = trace.Span("stage", "stage.1", 12, 28, "job.1")
        p = trace.Span("plan", "plan.planning", 41, 45)
        trace.nest([q, c, e, j1, j2, j3, s1, p])
        self.assertIs(j1.parent, c)
        self.assertIs(j2.parent, e)
        self.assertIs(s1.parent, j1)
        self.assertEqual(trace.self_time(q), 0)
        self.assertEqual(trace.self_time(c), 20)
        self.assertEqual(trace.self_time(e), 60 - 4 - 40)
        self.assertEqual(trace.self_time(j1), 4)
        # inner layers cover 20 + 4 + 40 of the 100 ms query
        self.assertEqual(trace.unattributed(q), 36)

    def test_adjacent_queries_do_not_nest(self):
        a = trace.Span("query", "w/1/a", 0, 100)
        b = trace.Span("query", "w/1/b", 100.4, 200)
        bc = trace.Span("construct", "w/1/b/construct", 100.4, 150)
        job = trace.Span("job", "job.9", 100, 120)  # whole-ms listener time
        trace.nest([a, b, bc, job])
        self.assertIs(bc.parent, b)
        self.assertIs(job.parent, bc)


if __name__ == "__main__":
    unittest.main()
