"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py

The payload test compiles the harness (cached like a benchmark run) and
starts one JVM per seed; the rest are pure.
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import board_data  # noqa: E402
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def dump_payloads(classpath, seed, out):
    subprocess.run(["java"] + run.JVM_OPTS + ["-cp", os.pathsep.join(classpath),
                    "perfbench.Harness", "--workload", "payloads", "--seed", str(seed),
                    "--seconds", "0", "--trace", "0", "--work", out],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    digests = {}
    for name in sorted(os.listdir(os.path.join(out, "payloads"))):
        with open(os.path.join(out, "payloads", name), "rb") as f:
            digests[name] = hashlib.sha256(f.read()).hexdigest()
    return digests


class PayloadTest(unittest.TestCase):
    def test_same_seed_gives_identical_payloads(self):
        classpath = build.build()
        with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
            a = dump_payloads(classpath, 7, os.path.join(tmp, "a"))
            b = dump_payloads(classpath, 7, os.path.join(tmp, "b"))
            c = dump_payloads(classpath, 8, os.path.join(tmp, "c"))
        self.assertEqual(len(a), 6)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_same_seed_gives_identical_board_tables(self):
        t1, t2 = board_data.tables(5, 0.1), board_data.tables(5, 0.1)
        for name in t1:
            self.assertTrue(t1[name].equals(t2[name]), name)
        self.assertFalse(t1["lineitem"].equals(board_data.tables(6, 0.1)["lineitem"]))


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        cases = {20: (50, 10), 40: (75, 10), 100: (90, 10), 200: (95, 10),
                 1000: (99, 10), 10000: (99.9, 10), 399: (95, 19)}
        for n, (p, beyond) in cases.items():
            got_p, value, got_beyond, got_n = stats.tail(range(1, n + 1))
            self.assertEqual((got_p, got_beyond, got_n), (p, beyond, n), n)
            self.assertEqual(value, n - beyond)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3]), (50, 3, 2, 5))

    def test_order_does_not_matter(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end, name="s", trace="t"):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
                "name": name, "trace": trace}

    def test_nested_and_overlapping_children(self):
        spans = [
            self.span(1, 0, 0, 100),
            self.span(2, 1, 10, 40),    # overlaps its sibling 3
            self.span(3, 1, 30, 60),
            self.span(4, 2, 15, 20),    # grandchild: not subtracted from the root
            self.span(5, 1, 90, 120),   # sticks out of the root: clipped
        ]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 100 - 50 - 10, 2: 25, 3: 30, 4: 5, 5: 30})

    def test_split_takes_medians_per_name_over_traces(self):
        ms = 1_000_000
        spans = [self.span(1, 0, 0, 10 * ms, "batch", "a"), self.span(2, 1, 0, 4 * ms, "x", "a"),
                 self.span(3, 0, 0, 20 * ms, "batch", "b"), self.span(4, 3, 0, 8 * ms, "x", "b")]
        split, root = stats.self_split(spans, "batch")
        self.assertEqual(root, 15.0)
        self.assertEqual(split, {"batch": 9.0, "x": 6.0})


class SinkCheckTest(unittest.TestCase):
    expected = {100 + i: 1000 + i for i in range(30)}
    starts = [100, 110, 120]

    def sinks(self, rows):
        return {"derby": list(self.expected.items()), "parquet": rows}

    def test_clean_sinks_pass(self):
        failed, problems = stats.check_sinks(
            self.expected, self.sinks(list(self.expected.items())), self.starts)
        self.assertEqual((failed, problems), (set(), []))

    def test_planted_duplicate_spotnum_fails(self):
        rows = list(self.expected.items()) + [(115, 1015)]
        failed, problems = stats.check_sinks(self.expected, self.sinks(rows), self.starts)
        self.assertEqual(failed, {1})
        self.assertTrue(any("written 2 times" in p for p in problems))
        self.assertTrue(any("disagree" in p for p in problems))

    def test_planted_dropped_row_fails(self):
        rows = [r for r in self.expected.items() if r[0] != 127]
        failed, problems = stats.check_sinks(self.expected, self.sinks(rows), self.starts)
        self.assertEqual(failed, {2})
        self.assertTrue(any("127 missing" in p for p in problems))

    def test_changed_row_fails(self):
        rows = [(k, v + (k == 103)) for k, v in self.expected.items()]
        failed, _ = stats.check_sinks(self.expected, self.sinks(rows), self.starts)
        self.assertEqual(failed, {0})


class OracleCompareTest(unittest.TestCase):
    def test_compare_ignores_order_and_catches_differences(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
        self.assertIsNone(stats.frame_problem(a, a.iloc[::-1][["v", "k"]]))
        self.assertIn("VALUE_MISMATCH", stats.frame_problem(
            a, pd.DataFrame({"k": [1, 2], "v": ["x", "z"]})))
        self.assertIn("DTYPE_MISMATCH", stats.frame_problem(
            a, pd.DataFrame({"k": [1.0, 2.0], "v": ["x", "y"]})))


if __name__ == "__main__":
    unittest.main()
