"""Self-tests for the benchmark's own math and input determinism.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

from __future__ import annotations

import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import child  # noqa: E402
import inputs  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _scratch() -> tempfile.TemporaryDirectory:
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=work)


def _files(directory: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(directory):
        for name in names:
            with open(os.path.join(root, name), "rb") as fh:
                out[os.path.relpath(os.path.join(root, name), directory)] = fh.read()
    return out


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100
        pct, value = stats.tail(values)
        self.assertEqual(value, 90)  # 91..100 are the ten beyond it
        self.assertEqual(sum(v > value for v in values), 10)
        self.assertAlmostEqual(pct, 100 * 89 / 99)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 4), stats.tail(sorted([5, 1, 4, 2, 3] * 4)))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertIsNone(stats.tail([]))
        pct, value = stats.tail([float(v) for v in range(11)])
        self.assertEqual((pct, value), (0.0, 0.0))  # only the minimum has ten beyond


class WarmPass(unittest.TestCase):
    def test_fastest_warm_call_per_operation(self):
        def op(name, wall):
            return {"op": name, "wall_s": wall}

        warm = [{"index": 1, "ops": [op("a", 3.0), op("b", 1.0)]},
                {"index": 2, "ops": [op("b", 2.0), op("a", 2.5)]},
                {"index": 3, "ops": [op("a", 9.0), op("b", 0.5)]}]
        self.assertAlmostEqual(report.warm_pass_s(warm), 2.5 + 0.5)


class SelfTime(unittest.TestCase):
    def test_parent_minus_union_of_children(self):
        # children overlap (2-5, 4-6) and one sticks out of the parent
        self.assertAlmostEqual(stats.self_time((0, 10), [(2, 5), (4, 6), (9, 12)]), 10 - 4 - 1)

    def test_no_children(self):
        self.assertEqual(stats.self_time((1, 3), []), 2)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time((0, 4), [(0, 2), (2, 4)]), 0)


class FailRatio(unittest.TestCase):
    def test_one_injected_failure(self):
        def boom():
            raise RuntimeError("injected")

        def wrong(_):
            raise workloads.WrongResult("injected")

        ops = [workloads.Op("ok", lambda: 1, lambda h: h + 1, lambda r: None),
               workloads.Op("raises", boom, lambda h: h, lambda r: None),
               workloads.Op("ok2", lambda: 2, lambda h: h, lambda r: None),
               workloads.Op("ok3", lambda: 3, lambda h: h, lambda r: None)]
        recs = [child.run_op(op, None, "g") for op in ops]
        failed = sum(not r["ok"] for r in recs)
        self.assertEqual(failed, 1)
        self.assertIn("injected", recs[1]["error"])
        self.assertEqual(stats.fail_ratio(len(recs), failed), 0.25)
        # a wrong result counts the same way as an exception
        rec = child.run_op(workloads.Op("wrong", lambda: 0, lambda h: h, wrong), None, "g")
        self.assertFalse(rec["ok"])
        self.assertIn("WrongResult", rec["error"])

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)


class StoredBytes(unittest.TestCase):
    def test_known_file(self):
        with _scratch() as d:
            with open(os.path.join(d, "part-0.parquet"), "wb") as fh:
                fh.write(b"\0" * 1000)
            with open(os.path.join(d, "_SUCCESS"), "wb") as fh:
                fh.write(b"\0" * 7)  # not data: ignored
            written = workloads.written_bytes(d)
        self.assertEqual(written, 1000)
        self.assertEqual(stats.stored_bytes_ratio(written, 4000), 0.25)
        with self.assertRaises(ValueError):
            stats.stored_bytes_ratio(1, 0)


class CompareFrames(unittest.TestCase):
    def test_order_insensitive_and_strict(self):
        import pandas as pd

        a = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
        workloads.compare_frames(a, pd.DataFrame({"v": [float("nan"), 0.5], "k": [2, 1]}))
        with self.assertRaises(workloads.WrongResult):
            workloads.compare_frames(a, pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]}))
        with self.assertRaises(workloads.WrongResult):
            workloads.compare_frames(a, a.head(1))


class SeededInputs(unittest.TestCase):
    def test_hgt_same_seed_same_bytes(self):
        with _scratch() as d:
            inputs.write_hgt_cells(os.path.join(d, "a"), seed=7, count=3, n=121)
            inputs.write_hgt_cells(os.path.join(d, "b"), seed=7, count=3, n=121)
            inputs.write_hgt_cells(os.path.join(d, "c"), seed=8, count=3, n=121)
            a, b, c = (_files(os.path.join(d, x)) for x in "abc")
        self.assertEqual(len(a), 3)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_tables_same_seed_same_bytes(self):
        with _scratch() as d:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                inputs.write_tables(os.path.join(d, name), seed, 0.001, workloads.ALL_TABLES)
            a, b, c = (_files(os.path.join(d, x)) for x in "abc")
        self.assertEqual(sorted(a), sorted(f"{t}.parquet" for t in workloads.ALL_TABLES))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (8.25 - 2.75) / 5.5)


if __name__ == "__main__":
    unittest.main()
