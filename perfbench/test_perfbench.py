"""The benchmark's own tests: generator determinism, the tail rule and
ann_serve's step cost.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def digest(root):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def check(self, workload):
        with tempfile.TemporaryDirectory() as tmp:
            runs = {}
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                gen.generate(workload, seed, os.path.join(tmp, tag))
                runs[tag] = digest(os.path.join(tmp, tag))
            self.assertEqual(runs["a"], runs["b"], "same seed, different bytes")
            self.assertNotEqual(runs["a"], runs["c"], "different seed, same bytes")

    def test_backfill(self):
        self.check("backfill_jdbc_date")

    def test_upsert(self):
        self.check("upsert_stream")

    def test_dedup(self):
        self.check("corpus_dedup")

    def test_ann(self):
        self.check("ann_serve")

    def test_planted_near_duplicates_clear_the_threshold(self):
        with tempfile.TemporaryDirectory() as tmp:
            p = gen.generate("corpus_dedup", 3, tmp)
            self.assertGreaterEqual(p["min_planted_jaccard"], 0.85)


class TailRule(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))

    def test_picks_highest_percentile_with_ten_beyond(self):
        for n in (11, 12, 15, 20, 37, 100, 250):
            xs = [float(i) for i in range(n)]
            value, p, count = stats.tail(xs)
            self.assertEqual(count, n)
            # at least ten samples beyond the reported value ...
            self.assertGreaterEqual(sum(x > value for x in xs), 10, n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10, n)
            # ... and one percentile higher would leave fewer than ten
            self.assertLess(n * (100 - (p + 1)) / 100, 10, n)

    def test_known_points(self):
        self.assertEqual(stats.tail([float(i) for i in range(20)])[1], 50)
        self.assertEqual(stats.tail([float(i) for i in range(100)])[1], 90)
        self.assertEqual(stats.tail([float(i) for i in range(1000)])[1], 99)

    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)


class AnnStepCost(unittest.TestCase):
    """ann_serve's step_p50_s must carry its refresh steps."""

    @staticmethod
    def res(query_s, refresh_s):
        steps = ([{"kind": "query", "t": {"step_s": q}} for q in query_s]
                 + [{"kind": "refresh", "t": {"refresh_s": r}} for r in refresh_s])
        return {"outputs": {"refresh_every": 5}}, steps

    def test_weighs_refresh_by_its_share_of_the_schedule(self):
        res, steps = self.res([1.0, 1.0, 1.2, 0.8], [3.0, 2.0, 4.0])
        self.assertAlmostEqual(run.step_p50("ann_serve", res, steps)[0], (4 * 1.0 + 3.0) / 5)
        self.assertEqual(run.step_p50("ann_serve", res, steps)[1], 7)

    def test_slower_refresh_raises_it(self):
        fast = run.step_p50("ann_serve", *self.res([1.0] * 8, [1.5, 1.5]))[0]
        slow = run.step_p50("ann_serve", *self.res([1.0] * 8, [3.0, 3.0]))[0]
        self.assertGreater(slow / fast, 1.24)


if __name__ == "__main__":
    unittest.main()
