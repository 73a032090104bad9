"""Tests of the benchmark's pure helpers: python3 -m unittest discover perfbench"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import lib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(lib.percentile(xs, 90), 90)
        with self.assertRaises(ValueError):
            lib.percentile(xs[:99], 90)

    def test_p50_of_twenty(self):
        self.assertEqual(lib.percentile(list(range(20, 0, -1)), 50), 10)
        with self.assertRaises(ValueError):
            lib.percentile(list(range(19)), 50)

    def test_median(self):
        self.assertEqual(lib.median([3, 1, 2]), 2)
        self.assertEqual(lib.median([4, 1, 2, 3]), 2.5)


class EmitTest(unittest.TestCase):
    def test_line_shape(self):
        line = lib.emit(True, 3, 0, {"setup_s": (1.25, "s"), "items_per_s": (10, "items/s")})
        d = json.loads(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(d["metrics"]["setup_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual(d["metrics"]["items_per_s"]["value"], 10.0)
        self.assertNotIn("\n", line)

    def test_names_units_and_values_validated(self):
        for bad in ({"bad name": (1, "s")}, {"_x": (1, "s")}, {"a" * 65: (1, "s")},
                    {"x": (1, "s s")}, {"x": (float("nan"), "s")}):
            with self.assertRaises(ValueError):
                lib.emit(True, 1, 0, bad)
        with self.assertRaises(ValueError):
            lib.emit(True, 0, 0, {})
        lib.emit(True, 1, 0, {"q02.construct_s": (1, "s"), "stream.a-b_c": (0, "rows/s")})

    def test_metric_selection(self):
        measured = {"items_per_s": (5.0, "items/s"), "setup_s": (2.0, "s"),
                    "q02.jobs": (7, "count")}
        e2e = lib.select_metrics(measured, 0)
        self.assertEqual(set(e2e), {m["name"] for m in lib.END_TO_END})
        per = lib.select_metrics(measured, 1)
        self.assertEqual(set(per), {m["name"] for m in lib.PER_LAYER})
        self.assertEqual(per["q02.jobs"], (7, "count"))
        self.assertEqual(per["frontier.select_s"], (0.0, "s"))
        with self.assertRaises(ValueError):
            lib.select_metrics({"setup_s": (2.0, "s")}, 0)


class ManifestTest(unittest.TestCase):
    def test_names_valid_and_unique(self):
        m = lib.manifest()
        names = [w["name"] for w in m["workloads"]]
        names += [x["name"] for x in m["end_to_end"] + m["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, lib.NAME_RE)
        for x in m["end_to_end"] + m["per_layer"]:
            self.assertRegex(x["unit"], lib.UNIT_RE)
        for w in m["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)
        self.assertLessEqual(len(m["per_layer"]), 128)

    def test_committed_manifest_matches(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "BENCHMARK.json")
        with open(path) as f:
            self.assertEqual(json.load(f), lib.manifest())


class GeneratorTest(unittest.TestCase):
    def test_crawl_plan_is_a_function_of_the_seed(self):
        a, b, c = lib.crawl_plan(7, 5, 11), lib.crawl_plan(7, 5, 11), lib.crawl_plan(8, 5, 11)
        self.assertEqual(a, b)
        self.assertNotEqual(a["pages"], c["pages"])

    def test_crawl_plan_shape(self):
        p = lib.crawl_plan(3, 4, 11)
        self.assertEqual(len(p["pages"]), 44)
        self.assertEqual(len(p["shared"]), 5)
        for s in p["shared"]:
            self.assertEqual(len({p["pages"][(h, s)] for h in range(4)}), 1)
        unique = [q for q in range(1, 11) if q not in p["shared"]]
        self.assertEqual(len({p["pages"][(h, unique[0])] for h in range(4)}), 4)
        self.assertEqual(p["expected_indexed"], 4 * (1 + 5) + 5)

    def test_distinct_pages_share_no_token(self):
        import re as _re
        p = lib.crawl_plan(5, 6, 11)
        seen = {}
        for key, body in p["pages"].items():
            toks = set(_re.findall(r"w\d+", body))
            for other, otoks in seen.items():
                if p["pages"][other] != body:
                    self.assertFalse(toks & otoks, (key, other))
            seen[key] = toks

    def test_written_corpus_is_deterministic(self):
        plan = lib.crawl_plan(11, 3, 6)
        trees = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                seeds = lib.write_crawl_corpus(plan, 3, d)
                files = {}
                for root, _, names in os.walk(d):
                    for n in names:
                        with open(os.path.join(root, n)) as f:
                            files[os.path.relpath(os.path.join(root, n), d)] = \
                                f.read().replace(d, "")
                files["seeds"] = [s.replace(d, "") for s in seeds]
                trees.append(files)
        self.assertEqual(trees[0], trees[1])
        self.assertEqual(len(trees[0]["seeds"]), 3 * 6)
        self.assertEqual(len(set(trees[0]["seeds"])), 3 * 6)

    def test_cold_corpus_same_traced_or_not(self):
        self.assertEqual(lib.crawl_plan_seed(9, "cold"), 9)
        seeds = {lib.crawl_plan_seed(9, n) for n in lib.CRAWLS[1]}
        self.assertEqual(len(seeds), len(lib.CRAWLS[1]))
        self.assertNotEqual(lib.crawl_plan(lib.crawl_plan_seed(9, "plain"), 2, 3)["pages"],
                            lib.crawl_plan(9, 2, 3)["pages"])

    def test_stream_key_offset(self):
        self.assertEqual(lib.stream_key_offset(5), lib.stream_key_offset(5))
        self.assertNotEqual(lib.stream_key_offset(5), lib.stream_key_offset(6))


def _batches(n, rows, state):
    return [{"input_rows": rows, "state_rows": state, "timed": True} for _ in range(n)]


class CheckTest(unittest.TestCase):
    def test_wrong_recorded_corpus_value_fails(self):
        raw = {"check": {"q02": {"rows": 45, "hash": "00ff"}}}
        self.assertEqual(lib.check_corpus(raw, {"q02": {"rows": 45, "hash": "00ff"}}), [])
        self.assertTrue(lib.check_corpus(raw, {"q02": {"rows": 45, "hash": "00fe"}}))
        self.assertTrue(lib.check_corpus(raw, {"q02": {"rows": 46, "hash": "00ff"}}))
        self.assertTrue(lib.check_corpus(raw, {}))

    def test_wrong_recorded_stream_state_fails(self):
        raw = {"legs": {leg: {"batches": _batches(4, 10, 9)} for leg in lib.STREAM_LEGS}}
        good = {leg: 9 for leg in lib.STREAM_LEGS}
        self.assertEqual(lib.check_stream(raw, 10, 4, good), [])
        self.assertTrue(lib.check_stream(raw, 10, 4, dict(good, ttl_dedup=8)))
        self.assertTrue(lib.check_stream(raw, 11, 4, good))
        self.assertTrue(lib.check_stream(raw, 10, 5, good))
        self.assertEqual(set(lib.STREAM_RECORDED), set(lib.STREAM_LEGS))

    def test_crawl_counts(self):
        plans = {"cold": lib.crawl_plan(1, 2, 3)}
        cyc = {"selected": 2, "fetched": 2, "failed": 0}
        crawl = {"cycles": [cyc, dict(cyc, selected=4, fetched=4)],
                 "indexed_docs": plans["cold"]["expected_indexed"]}

        def raw(**kw):
            return {"crawls": {"cold": dict(crawl, **kw)}}

        self.assertEqual(lib.check_crawl(raw(), 2, 3, plans), [])
        self.assertTrue(lib.check_crawl(raw(indexed_docs=crawl["indexed_docs"] + 1), 2, 3, plans))
        self.assertTrue(lib.check_crawl(raw(cycles=[cyc]), 2, 3, plans))
        self.assertTrue(lib.check_crawl(raw(cycles=[cyc, dict(cyc, failed=1)]), 2, 3, plans))
        self.assertTrue(lib.check_crawl(raw(), 2, 3, dict(plans, plain=plans["cold"])))


class MetricTest(unittest.TestCase):
    @staticmethod
    def _cycle(wall, fetched=100, legs=None):
        return {"selected": fetched, "fetched": fetched, "failed": 0, "wall_s": wall,
                "politeness_floor_s": 1.0, "legs": legs or {},
                "spark": {"jobs": 70, "tasks": 300, "shuffle_write_bytes": 10}}

    def test_crawl_untraced_and_traced(self):
        cold = {"seed_s": 3.0, "indexed_docs": 60, "cycles": [self._cycle(4.0)]}
        m = lib.crawl_metrics({"crawls": {"cold": cold}})
        self.assertEqual(m["items_per_s"], (25.0, "items/s"))
        self.assertNotIn("trace_overhead_ratio", m)
        m = lib.crawl_metrics({"crawls": {
            "cold": cold, "plain": {"cycles": [self._cycle(2.0)]},
            "traced": {"cycles": [self._cycle(2.5, legs={"select": 1.0, "merge": 0.5})]}}})
        self.assertAlmostEqual(m["trace_overhead_ratio"][0], 0.2)
        self.assertAlmostEqual(m["streaming.warmup_s"][0], 2.0)
        self.assertAlmostEqual(m["streaming.unattributed_s"][0], 1.0)
        self.assertEqual(m["frontier.select_s"], (1.0, "s"))
        self.assertEqual(m["index.sink_s"], (0.0, "s"))

    def test_corpus_uses_per_query_medians(self):
        def q(c, e):
            return {"construct_s": c, "execute_s": e,
                    "spark": {"jobs": 1, "shuffle_write_bytes": 0}}
        spark = {"tasks": 1, "executor_cpu_s": 0.1, "spill_bytes": 0}
        walls = [0.5, 0.5, 9.0]
        passes = [{"queries": {n: q(w, 0.5) for n in lib.CORPUS_QUERIES}, "spark": spark}
                  for w in walls]
        m = lib.corpus_metrics({"passes": passes})
        self.assertAlmostEqual(m["items_per_s"][0], 1.0)


if __name__ == "__main__":
    unittest.main()
