"""Tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402
import gen  # noqa: E402


def span(i, start, end, parent=-1, layer="x", op=0, **attrs):
    return {"id": i, "parent": parent, "op": op, "layer": layer, "name": f"s{i}",
            "start": start, "end": end, "ok": True, "attrs": attrs}


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(analysis.tail_percentile(1000), 99)
        self.assertEqual(analysis.tail_percentile(999), 95)
        self.assertEqual(analysis.tail_percentile(200), 95)
        self.assertEqual(analysis.tail_percentile(199), 90)
        self.assertEqual(analysis.tail_percentile(100), 90)
        self.assertEqual(analysis.tail_percentile(99), 75)
        self.assertEqual(analysis.tail_percentile(40), 75)
        self.assertEqual(analysis.tail_percentile(39), 50)

    def test_fewer_than_twenty_samples_fall_back_to_the_median(self):
        self.assertEqual(analysis.tail_percentile(5), 50)

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(analysis.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(analysis.percentile(xs, 90), 90.1)
        self.assertEqual(analysis.percentile([3.0], 90), 3.0)


class SelfTime(unittest.TestCase):
    def test_span_minus_union_of_children(self):
        parent = span(0, 0, 100)
        kids = [span(1, 10, 30), span(2, 20, 40), span(3, 60, 70)]
        # children cover [10, 40) and [60, 70): 40 of 100
        self.assertEqual(analysis.self_time(parent, kids), 60)

    def test_children_clipped_to_the_span(self):
        parent = span(0, 50, 100)
        kids = [span(1, 0, 60), span(2, 90, 200)]
        self.assertEqual(analysis.self_time(parent, kids), 30)

    def test_no_children_is_whole_duration(self):
        self.assertEqual(analysis.self_time(span(0, 5, 9), []), 4)

    def test_shares_sum_to_one(self):
        spans = [span(0, 0, 100, layer="op", op=0, traced=True),
                 span(1, 10, 60, parent=0, layer="query"),
                 span(2, 20, 50, parent=1, layer="exec.job"),
                 span(3, 50, 55, parent=1, layer="catalyst")]
        shares = analysis.self_shares(spans, [spans[0]])
        self.assertAlmostEqual(sum(shares.values()), 1.0)
        self.assertAlmostEqual(shares["op"], 0.5)
        self.assertAlmostEqual(shares["query"], 0.15)   # 50 minus the union [20, 55)
        self.assertAlmostEqual(shares["catalyst"], 0.05)
        self.assertAlmostEqual(shares["exec.job"], 0.30)


class FailFrac(unittest.TestCase):
    def test_wrong_output_counts_as_failure(self):
        self.assertEqual(analysis.fail_frac(10, 0, 2), 0.2)
        self.assertEqual(analysis.fail_frac(10, 1, 1), 0.2)
        self.assertEqual(analysis.fail_frac(10, 0, 0), 0.0)

    def test_analyze_counts_an_oracle_mismatch(self):
        op = dict(span(0, 0, 100, layer="op", op=0), name="pass")
        queries = [dict(span(1 + i, i * 10, i * 10 + 5, parent=0, layer="query", op=0),
                        name=f"q:q_{i}") for i in range(4)]
        queries[3]["ok"] = False     # a crash
        result = {"workload": "analyst_sql", "timed_s": 1.0, "spans": [op] + queries,
                  "setup": {"setup_s": 1.0}, "inputs": {}}
        checks = [{"name": "q:q_1", "ok": False, "detail": "rows 1 != oracle 2"},
                  {"name": "q:q_2", "ok": True, "detail": ""}]
        r = analysis.analyze(result, checks, 0)
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (4, 2))
        self.assertEqual(r["fail_frac"], 0.5)
        # queries in a pass with a failure do not count as completed correctly
        self.assertEqual(r["end_to_end"]["queries_per_s"][0], 0.0)

    def test_all_correct(self):
        op = dict(span(0, 0, 100, layer="op", op=0), name="pass")
        queries = [dict(span(1 + i, i * 10, i * 10 + 5, parent=0, layer="query", op=0),
                        name=f"q:q_{i}") for i in range(4)]
        result = {"workload": "analyst_sql", "timed_s": 2.0, "spans": [op] + queries,
                  "setup": {"setup_s": 1.0}, "inputs": {}}
        r = analysis.analyze(result, [{"name": "q:q_1", "ok": True, "detail": ""}], 0)
        self.assertTrue(r["correct"])
        self.assertEqual((r["attempted"], r["failed"], r["fail_frac"]), (4, 0, 0.0))
        self.assertEqual(r["end_to_end"]["queries_per_s"][0], 2.0)


class Manifest(unittest.TestCase):
    def test_reported_metrics_are_the_ones_benchmark_json_lists(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            manifest = json.load(f)
        op = dict(span(0, 0, 100, layer="op", op=0, traced=True), name="pass")
        q = dict(span(1, 10, 20, parent=0, layer="query", op=0), name="q:q_0")
        result = {"workload": "analyst_sql", "timed_s": 1.0, "spans": [op, q],
                  "setup": {"setup_s": 1.0}, "inputs": {}}
        r = analysis.analyze(result, [], 0)
        for key, part in (("end_to_end", "end_to_end"), ("per_layer", "per_layer")):
            self.assertEqual({m["name"]: m["unit"] for m in manifest[key]},
                             {k: u for k, (_, u) in r[part].items()}, key)
        self.assertEqual([w["name"] for w in manifest["workloads"]], list(gen.SCALE))


class Generator(unittest.TestCase):
    def _files(self, workload, seed):
        out = {}
        with tempfile.TemporaryDirectory() as d:
            gen.write_plan(workload, seed, "data", d)
            for root, _, names in os.walk(d):
                for n in names:
                    p = os.path.join(root, n)
                    with open(p, "rb") as f:
                        out[os.path.relpath(p, d)] = f.read()
        return out

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.SCALE:
            self.assertEqual(self._files(w, 7), self._files(w, 7), w)

    def test_different_seed_changes_inputs(self):
        for w in ("daily_fold",):
            self.assertNotEqual(self._files(w, 7), self._files(w, 8), w)

    def test_different_seed_changes_permutation_and_days(self):
        items = [f"q:q_{i}" for i in range(50)]
        self.assertEqual(gen.permutation(items, 3), gen.permutation(items, 3))
        self.assertNotEqual(gen.permutation(items, 3), gen.permutation(items, 4))
        ids = [str(i) for i in range(200)]
        days3 = [gen.day_of(i, 3) for i in ids]
        self.assertEqual(days3, [gen.day_of(i, 3) for i in ids])
        self.assertNotEqual(days3, [gen.day_of(i, 4) for i in ids])
        self.assertEqual(set(days3), set(range(gen.DAYS)))
        self.assertNotEqual([gen.takedown_of(i, 3) for i in ids], [gen.takedown_of(i, 4) for i in ids])

    def test_h64_matches_the_engine_hash(self):
        # graft.U.h64Local("abc"): md5 = 900150983cd24fb0..., first 15 hex digits
        self.assertEqual(gen.h64("abc"), int("900150983cd24fb", 16))


if __name__ == "__main__":
    unittest.main()
