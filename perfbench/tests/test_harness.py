"""Self-tests of the benchmark's own arithmetic and accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics as M  # noqa: E402
import run  # noqa: E402
import templates  # noqa: E402


class TailTest(unittest.TestCase):
    def test_p99_when_enough_samples(self):
        xs = list(range(1, 2001))
        v, p = M.tail(xs)
        self.assertEqual(p, 99.0)
        self.assertEqual(v, 1980)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_falls_back_to_keep_ten_beyond(self):
        xs = list(range(100))
        v, p = M.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(p, 90.0)

    def test_exactly_ten_beyond_at_the_limit(self):
        v, p = M.tail(list(range(11)))
        self.assertEqual(v, 0)
        with self.assertRaises(ValueError):
            M.tail(list(range(10)))

    def test_order_does_not_matter(self):
        self.assertEqual(M.tail([5, 1, 4, 2, 3] * 10), M.tail(sorted([5, 1, 4, 2, 3] * 10)))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children(self):
        spans = [(1, -1, 0, 100), (2, 1, 10, 40), (3, 1, 30, 60), (4, 1, 80, 90)]
        st = M.self_times(spans)
        self.assertEqual(st[1], 100 - 60)  # children cover [10, 60] and [80, 90]
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 30)

    def test_child_outside_parent_is_clipped(self):
        st = M.self_times([(1, -1, 0, 100), (2, 1, 90, 130)])
        self.assertEqual(st[1], 90)

    def test_self_times_sum_to_root_wall_without_overlap(self):
        spans = [(1, -1, 0, 100), (2, 1, 5, 50), (3, 2, 10, 20), (4, 1, 50, 95)]
        self.assertEqual(sum(M.self_times(spans).values()), 100)

    def test_union_length(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_length([(0, 10), (5, 15)], lo=8, hi=12), 4)


def req(i, kind, status=200, h="x", t="point"):
    return {"i": i, "client": 0, "kind": kind, "t": t, "start": 0, "dur": 1, "status": status,
            "rows": 1, "hash": h, "err": ""}


class FailedRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(M.failed_ratio(12, 3), 0.25)
        self.assertEqual(M.failed_ratio(1, 0), 0.0)
        with self.assertRaises(ValueError):
            M.failed_ratio(0, 0)
        with self.assertRaises(ValueError):
            M.failed_ratio(3, 4)

    def test_every_failure_kind_counts(self):
        stream = {0: {"key": "a"}, 1: {"key": "a"}, 2: {"key": "b"}, 3: {"key": "w"}, 4: {"key": "c"}}
        verdict = {"a": (True, "ha"), "b": (False, "hb")}
        phases = [[
            req(0, "read", h="ha"),                    # checked, correct
            req(1, "read", h="other"),                 # same key, different rows
            req(2, "read", h="hb"),                    # oracle mismatch
            req(3, "write"),                           # acknowledged write
            req(3, "probe", h=run.body_hash('{"n":0}')),  # does not see its write
            req(4, "read", status=500),                # server error
        ]]
        acc = run.account(phases, stream, verdict, acked={10, 11}, found_nodes={10, 11}, found_edges={10})
        self.assertEqual(acc["writes_lost"], 1)
        self.assertEqual(acc["ryw_violations"], 1)
        self.assertEqual(acc["attempted"], 6 + 2)
        self.assertEqual(acc["failed"], 4 + 1)
        self.assertEqual(acc["reads_checked"], 3)
        self.assertAlmostEqual(M.failed_ratio(acc["attempted"], acc["failed"]), 5 / 8)

    def test_visible_write_passes(self):
        acc = run.account([[req(0, "probe", h=run.body_hash('{"n":1}'))]], {0: {"key": "p"}}, {})
        self.assertEqual(acc["failed"], 0)


class FingerprintTest(unittest.TestCase):
    def test_float_sums_compare_with_tolerance(self):
        self.assertTrue(M.same_fingerprint([3, 7, 1e6, 1e6], [3, 7, 1e6 + 1e-5, 1e6]))
        self.assertFalse(M.same_fingerprint([3, 7, 1e6, 1e6], [3, 7, 1e6 + 1.0, 1e6]))
        self.assertFalse(M.same_fingerprint([3, 7, 0.0, 0.0], [3, 8, 0.0, 0.0]))
        self.assertFalse(M.same_fingerprint([3, 7, 0.0, 0.0], [4, 7, 0.0, 0.0]))

    def test_every_later_pass_counts(self):
        def item(name, fp):
            return {"item": name, "s": [0.1] * 5, "fp": fp}
        good, bad = [2, 5, 0.0, 0.0], [2, 6, 0.0, 0.0]
        raw = {"check_fp": {"a": good, "b": good},
               "warm_pass": {"items": [item("a", good), item("b", good)]},
               "passes": [{"items": [item("a", good), item("b", bad)]},
                          {"items": [item("a", bad), item("b", good)]}],
               "traced": {"passes": [{"items": [item("a", good), item("b", good)]}]}}
        self.assertEqual(run.fingerprint_mismatches(raw), ["1:b", "2:a"])
        self.assertEqual(len(run.batch_passes(raw)), 4)
        raw["traced"] = None
        self.assertEqual(len(run.batch_passes(raw)), 3)


class NamesTest(unittest.TestCase):
    def test_charset(self):
        for good in ["setup_s", "spark.busy_ratio", "a", "9x", "graph.gate_build_s", "x" * 64]:
            self.assertTrue(M.valid_name(good), good)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65, "é", "a:b"]:
            self.assertFalse(M.valid_name(bad), bad)
        for good in ["ms", "s", "1/s", "count", "MiB", "%", "ratio"]:
            self.assertTrue(M.valid_unit(good), good)
        self.assertFalse(M.valid_unit("per second"))

    def test_declared_metrics_are_valid(self):
        with open(os.path.join(os.path.dirname(HERE), "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        self.assertEqual(declared, {**run.END_TO_END, **run.PER_LAYER})
        for name, unit in declared.items():
            self.assertTrue(M.valid_name(name), name)
            self.assertTrue(M.valid_unit(unit), unit)
        self.assertEqual(len(declared), len(bench["end_to_end"]) + len(bench["per_layer"]))
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class StreamTest(unittest.TestCase):
    def test_seed_gives_same_stream(self):
        self.assertEqual(templates.stream(3, 200, True), templates.stream(3, 200, True))
        self.assertNotEqual(templates.stream(3, 200, False), templates.stream(4, 200, False))

    def test_mix_is_even_per_cycle(self):
        s = templates.stream(5, 4 * len(templates.READ), False)
        for t in templates.READ:
            self.assertEqual(sum(1 for r in s if r["t"] == t), 4)

    def test_inline_replaces_longest_name_first(self):
        self.assertEqual(templates.inline("$ck $ckx", {"ck": 1, "ckx": "a"}), "1 'a'")


if __name__ == "__main__":
    unittest.main()
