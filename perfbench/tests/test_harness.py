"""Self-tests of the benchmark harness: statistics, the job-interval
union, the per-span ledger arithmetic, and the seeded generator.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import os
import statistics
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                ".."))

import gen  # noqa: E402
import stats  # noqa: E402


class Statistics(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [float(x) for x in range(1, 11)]
        self.assertEqual(stats.median(xs), 5.5)
        self.assertEqual(stats.quartiles(xs), (2.75, 8.25))
        self.assertEqual(stats.quartiles(xs)[0],
                         statistics.quantiles(xs, n=4)[0])
        self.assertAlmostEqual(stats.spread(xs), 5.5 / 5.5)

    def test_spread_ignores_order(self):
        self.assertEqual(stats.spread([3.0, 1.0, 2.0, 4.0]),
                         stats.spread([1.0, 2.0, 3.0, 4.0]))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        got = stats.union([(5, 9), (0, 2), (1, 3), (8, 12)], lo=1, hi=10)
        self.assertEqual(got, [(1, 3), (5, 10)])
        self.assertEqual(stats.measure(got), 7)

    def test_union_drops_intervals_outside_the_clip(self):
        self.assertEqual(stats.union([(0, 1), (20, 30)], lo=5, hi=10), [])

    def test_intersect(self):
        a = [(0, 10), (20, 30)]
        b = [(5, 25)]
        self.assertEqual(stats.intersect(a, b), [(5, 10), (20, 25)])


def job(start, end, **kw):
    j = dict(start_ms=start, end_ms=end, task_ms=0, cpu_ns=0,
             input_bytes=0, output_bytes=0, shuffle_records=0,
             spill_bytes=0)
    j.update(kw)
    return j


class SpanLedger(unittest.TestCase):
    def test_wall_is_plan_plus_union_plus_gap(self):
        jobs = [job(100, 300, task_ms=900, cpu_ns=5e8),
                job(250, 500, shuffle_records=7),
                job(700, 800, output_bytes=2 * 1024 * 1024),
                job(1200, 1300)]                 # starts after the span
        queries = [{"phases": [[50, 120], [600, 650]]}]
        led = stats.span_ledger(0, 1000, jobs, queries)
        self.assertEqual(led["jobs"], 3)
        self.assertAlmostEqual(led["union_s"], 0.5)
        # planning under a running job is not on the critical path
        self.assertAlmostEqual(led["plan_s"], 0.1)
        self.assertAlmostEqual(led["driver_gap_s"], 0.4)
        self.assertAlmostEqual(
            led["wall_s"],
            led["plan_s"] + led["union_s"] + led["driver_gap_s"])
        self.assertAlmostEqual(led["task_s"], 0.9)
        self.assertAlmostEqual(led["task_cpu_s"], 0.5)
        self.assertEqual(led["shuffle_records"], 7)
        self.assertAlmostEqual(led["output_mb"], 2.0)

    def test_job_outliving_its_span_is_clipped(self):
        led = stats.span_ledger(0, 100, [job(50, 400)], [])
        self.assertAlmostEqual(led["union_s"], 0.05)
        self.assertAlmostEqual(led["driver_gap_s"], 0.05)

    def test_pass_ledger_sums_repeated_spans(self):
        p = {"spans": [{"name": "inc", "start_ms": 0, "end_ms": 100},
                       {"name": "inc", "start_ms": 100, "end_ms": 300}],
             "jobs": [job(10, 60), job(150, 250)], "queries": []}
        led = stats.pass_ledger(p)["inc"]
        self.assertEqual(led["jobs"], 2)
        self.assertAlmostEqual(led["wall_s"], 0.3)
        self.assertAlmostEqual(led["union_s"], 0.15)


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


class Generator(unittest.TestCase):
    def test_refresh_planted_counts_for_a_fixed_seed(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("refresh", 11, d, {"docs": 2000})
            self.assertEqual(m["bounds"], [1200, 1600, 2000])
            self.assertEqual((m["planted_exact"], m["planted_near"]),
                             (47, 47))
            self.assertEqual((m["planted_email"], m["planted_phone"],
                              m["planted_ip"]), (183, 163, 123))
            self.assertGreaterEqual(m["near_min_jaccard"],
                                    gen.NEAR_MIN_JACCARD)
            with open(os.path.join(d, "truth.tsv")) as f:
                rows = [r.split("\t") for r in f.read().split("\n")[1:-1]]
            kinds = [int(r[1]) for r in rows]
            self.assertEqual(kinds.count(1), m["planted_exact"])
            self.assertEqual(kinds.count(2), m["planted_near"])
            self.assertEqual(sum(int(r[3]) for r in rows), m["planted_email"])
            # copies come after their original, and only in increments
            for r in rows:
                if int(r[1]):
                    self.assertLess(int(r[2]), int(r[0]))
                    self.assertGreaterEqual(int(r[0]), m["bounds"][0])

    def test_refresh_texts_pass_the_stopword_gate(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("refresh", 3, d, {"docs": 500})
            with open(os.path.join(d, "docs.tsv")) as f:
                for line in f.read().split("\n")[1:-1]:
                    toks = line.split("\t")[3].split(" ")
                    sw = sum(t in gen.STOPWORDS for t in toks)
                    self.assertGreaterEqual(sw / len(toks), 0.05)

    def test_same_seed_same_bytes(self):
        for w, size in (("translate", {"items": 300}),
                        ("search", {"corpus": 200, "batch": 20,
                                    "queries": 10})):
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.generate(w, 5, a, size)
                gen.generate(w, 5, b, size)
                gen.generate(w, 6, c, size)
                self.assertEqual(digest(a), digest(b))
                self.assertNotEqual(digest(a), digest(c))

    def test_manifest_counts_rows_and_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("translate", 11, d, {"items": 500})
            lines = 0
            for f in ("sitelinks.tsv", "pagecounts.txt"):
                with open(os.path.join(d, f)) as fh:
                    lines += len(fh.read().split("\n")) - 1
            self.assertEqual(m["input_rows"], lines - 1)   # one header
            self.assertEqual(m["input_bytes"], sum(
                os.path.getsize(os.path.join(d, f))
                for f in ("sitelinks.tsv", "pagecounts.txt")))


if __name__ == "__main__":
    unittest.main()
