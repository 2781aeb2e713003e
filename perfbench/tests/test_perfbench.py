"""Tests of the benchmark's own logic (no JVM needed).

    python3 perfbench/tests/test_perfbench.py
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, spec_a, exp_a = gen.generate(42)
        b, spec_b, exp_b = gen.generate(42)
        self.assertEqual(a, b)
        self.assertEqual((spec_a, exp_a), (spec_b, exp_b))
        c, _, _ = gen.generate(43)
        self.assertNotEqual(a, c)

    def test_stream_is_fixed(self):
        # SplitMix64's published first output for seed 0
        self.assertEqual(gen.SplitMix64(0).next(), 0xE220A8397B1DCDAF)

    def test_dirty_cases_and_expected_values(self):
        files, spec, expected = gen.generate(7)
        *bare, torn = (files[f] for f in spec["preplaced"])
        with self.assertRaises(ValueError):
            json.loads(torn)
        records = []
        for page in bare:
            self.assertIsInstance(json.loads(page), list)
            records += json.loads(page)
        for s in spec["served"]:
            records += json.loads(files[s["file"]])["results"]
        valores = [r["valor"] for r in records]
        self.assertIn(None, valores)
        self.assertTrue(any(v in gen.BAD_VALOR for v in valores))
        names = [r["nome_orgao"] for r in records]
        self.assertTrue(any(n != n.strip(" ") for n in names))
        self.assertTrue(any(n != n.upper() for n in names))
        # recompute gold from the page bytes with silver's rules
        gold = {}
        for r in records:
            v = r["valor"]
            try:
                cents = round(float(v) * 100) if v is not None else 0
            except ValueError:
                cents = 0
            key = (r["ano"], r["mes"], r["nome_orgao"].strip(" ").upper())
            gold[key] = gold.get(key, 0) + cents
        self.assertEqual(gold, {tuple(k): v for k, v in expected["gold"]})
        self.assertEqual(len(records), expected["bronze_rows"])
        y = spec["commit_year"]
        for (lo, hi), n in zip(spec["reads"], expected["read_rows"]):
            self.assertEqual(n, sum(r["ano"] == y and lo <= r["mes"] <= hi for r in records))


    def test_reference_shape(self):
        files, spec, expected = gen.generate(11)
        # 84 hive partitions, 1,000 records a page, 55 bare arrays in 1,021
        self.assertEqual(len(expected["partition_rows"]), 84)
        self.assertEqual(gen.BARE, round(gen.PAGES * 55 / 1021))
        self.assertEqual(len(spec["preplaced"]), gen.BARE + 1)
        for s in spec["served"][:-1]:
            self.assertEqual(len(json.loads(files[s["file"]])["results"]), 1000)
        self.assertEqual(len({k[2] for k, _ in expected["gold"]}), 7)


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(19)), 0.5), (None, 19))
        self.assertEqual(stats.percentile(list(range(20)), 0.5), (9, 20))
        self.assertEqual(stats.percentile(list(range(99)), 0.9), (None, 99))
        self.assertEqual(stats.percentile(list(range(100)), 0.9), (89, 100))
        self.assertEqual(stats.percentile([], 0.5), (None, 0))

    def test_nearest_rank_on_unsorted_input(self):
        values = [5.0] * 10 + [1.0] * 10 + [9.0]
        self.assertEqual(stats.percentile(values, 0.5), (5.0, 21))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        s = 1_000_000_000
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 10 * s},
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 6 * s},
            {"id": 2, "parent": 1, "start_ns": 0, "end_ns": 1 * s},
            {"id": 3, "parent": 1, "start_ns": 1 * s, "end_ns": 3 * s},
            {"id": 4, "parent": 0, "start_ns": 6 * s, "end_ns": 9 * s},
        ]
        self.assertEqual(stats.self_times(spans), {0: 1.0, 1: 3.0, 2: 1.0, 3: 2.0, 4: 3.0})
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 10.0)


def query_result(hashes):
    ops = [{"name": n, "kind": "query", "seconds": 1.0 + i, "out": {"hash": h}}
           for i, (n, h) in enumerate(hashes.items())]
    return {"passes": [{"role": "timed", "ops": ops}], "setup_s": 1.0, "peak_rss_kb": 1024}


class PinTest(unittest.TestCase):
    pins = {"a": "11", "b": "22"}

    def test_matching_hashes_pass(self):
        result = query_result({"a": "11", "b": "22"})
        self.assertEqual(run.judge(result, "relational", None, self.pins), [])
        self.assertEqual(run.sweep_seconds(result["passes"]), 3.0)

    def test_wrong_pin_is_a_failure_never_a_timing(self):
        result = query_result({"a": "11", "b": "23"})
        problems = run.judge(result, "relational", None, self.pins)
        self.assertEqual(len(problems), 1)
        self.assertIn("pinned 22", problems[0])
        self.assertEqual([op["ok"] for op in result["passes"][0]["ops"]], [True, False])
        self.assertEqual(run.sweep_seconds(result["passes"]), 1.0)

    def test_unpinned_query_and_error_fail(self):
        self.assertTrue(checks.check_query({"name": "c", "out": {"hash": "1"}}, self.pins))
        self.assertTrue(checks.check_query({"name": "a", "error": "boom", "out": {}}, self.pins))

    def test_committed_pins_cover_every_query(self):
        with open(run.PINS) as fh:
            pins = json.load(fh)
        for corpus, name in (q for qs in run.QUERIES.values() for q in qs):
            self.assertTrue(os.path.isdir(os.path.join(run.DATA, corpus)))
            self.assertIn(name, pins[corpus])


def medallion_pass(spec, expected):
    """The ops a correct medallion pass reports."""
    gold = [[k[0], k[1], k[2], v / 100] for k, v in expected["gold"]]
    n = expected["bronze_rows"]
    ops = [{"name": "fetch", "kind": "fetch", "out": dict(expected["fetch"])}]
    ops += [{"name": s, "kind": "stage", "out": {"rows_written": n}}
            for s in ("raw_to_bronze", "bronze_to_silver")]
    ops.append({"name": "silver_to_gold", "kind": "stage",
                "out": {"rows_written": len(gold), "gold": gold}})
    for a, m in spec["incremental"]:
        part = [g for g in gold if (g[0], g[1]) == (a, m)]
        rows = expected["partition_rows"][f"{a}-{m}"] + len(part)
        ops.append({"name": f"incremental_{a}_{m}", "kind": "incremental",
                    "out": {"rows_written": rows, "gold": part}})
    ops += [{"name": f"commit_{m}", "kind": "commit", "out": {"version": i + 1}}
            for i, m in enumerate(spec["commit_months"])]
    ops += [{"name": f"read_{lo}_{hi}", "kind": "read",
             "out": {"rows": rows, "lo": lo, "hi": hi, "files_kept": 1, "files_total": 2}}
            for (lo, hi), rows in zip(spec["reads"], expected["read_rows"])]
    return ops


class MedallionCheckTest(unittest.TestCase):
    def setUp(self):
        _, self.spec, self.expected = gen.generate(3)

    def test_correct_pass_has_no_problems(self):
        ops = medallion_pass(self.spec, self.expected)
        self.assertEqual(checks.check_medallion_pass(ops, self.expected), {})

    def test_one_cent_off_in_gold_fails(self):
        ops = medallion_pass(self.spec, self.expected)
        gold = next(op for op in ops if op["name"] == "silver_to_gold")["out"]["gold"]
        gold[0][3] += 0.01
        bad = checks.check_medallion_pass(ops, self.expected)
        self.assertEqual(list(bad), [3])

    def test_incremental_must_equal_full_recompute(self):
        ops = medallion_pass(self.spec, self.expected)
        inc = next(op for op in ops if op["kind"] == "incremental")
        inc["out"]["gold"] = inc["out"]["gold"][1:]
        self.assertEqual(len(checks.check_medallion_pass(ops, self.expected)), 1)

    def test_wrong_pruned_read_count_fails(self):
        ops = medallion_pass(self.spec, self.expected)
        ops[-1]["out"]["rows"] += 1
        self.assertEqual(list(checks.check_medallion_pass(ops, self.expected)), [len(ops) - 1])


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.PASSES))
        for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec[key]}, table)


if __name__ == "__main__":
    unittest.main()
