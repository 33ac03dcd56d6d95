#!/usr/bin/env python3
"""Self-tests of the benchmark.

Usage (from the repository root): python3 perfbench/selftest.py [-v]

- Both generators are deterministic per seed, and the seed matters.
- Catalog fingerprints repeat across two sf0.001 runs (and across the cold
  and warm pass of one run).
- A query whose `count()` plan drops its final Sort is still timed on the
  full plan: the fingerprint action's optimized plan keeps the Sort.

The last two build the program and run the harness (about two minutes).
"""
import filecmp
import json
import os
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_catalog  # noqa: E402
import gen_crm  # noqa: E402
import run  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
SORT_DROPPED_BY_COUNT = ["q1_pricing_summary", "a7_funnel", "w5_sessionize", "x_quality_score"]


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    return not (cmp.diff_files or cmp.left_only or cmp.right_only or cmp.funny_files) and \
        all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_catalog_generator_is_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory(dir=OUT) as t:
            gen_catalog.generate(f"{t}/a", 7, 0.001)
            gen_catalog.generate(f"{t}/b", 7, 0.001)
            gen_catalog.generate(f"{t}/c", 8, 0.001)
            self.assertTrue(same_tree(f"{t}/a", f"{t}/b"))
            self.assertFalse(same_tree(f"{t}/a", f"{t}/c"))

    def test_crm_generator_is_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory(dir=OUT) as t:
            ea = gen_crm.generate(f"{t}/a", 7, 0.02)
            eb = gen_crm.generate(f"{t}/b", 7, 0.02)
            ec = gen_crm.generate(f"{t}/c", 8, 0.02)
            self.assertTrue(same_tree(f"{t}/a", f"{t}/b"))
            self.assertEqual(ea, eb)
            self.assertFalse(same_tree(f"{t}/a", f"{t}/c"))
            counts = ea["counts"]
            self.assertGreater(counts["relchanges_added"], 0)
            self.assertGreater(counts["relchanges_removed"], 0)
            self.assertGreater(counts["history_contacts"], 0)


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(OUT, exist_ok=True)
        cls.classpath = build.build(ROOT, OUT)
        cls.data = os.path.join(OUT, "data", "selftest_sf0.001")
        if not os.path.exists(os.path.join(cls.data, ".done")):
            gen_catalog.generate(cls.data, 42, 0.001)
            open(os.path.join(cls.data, ".done"), "w").close()

    def harness(self, name, args):
        work = os.path.join(OUT, "runs", f"selftest-{name}-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        run.harness(self.classpath, work, args + [
            "--work", work, "--out", f"{work}/result.json", "--cores", str(run.cores()),
            "--data", self.data], time.time() + 170)
        with open(f"{work}/result.json") as f:
            return json.load(f)

    def test_fingerprints_repeat_across_runs(self):
        with open(os.path.join(HERE, "workloads.json")) as f:
            queries = json.load(f)["catalog_iterative"]["queries"]
        args = ["--workload", "catalog", "--seconds", "0", "--trace", "1", "--setups", "1",
                "--queries", ",".join(queries)]
        prints = []
        for i in range(2):
            r = self.harness(f"fp{i}", args)
            for p in [r["cold"]] + [w["ops"] for w in r["warm"]]:
                prints.append({op["name"]: (op["rows"], op["hash"], op["error"]) for op in p})
        for p in prints[1:]:
            self.assertEqual(prints[0], p)
        self.assertTrue(all(err is None for _, _, err in prints[0].values()))

    def test_action_keeps_the_sort_count_drops(self):
        r = self.harness("plans", ["--workload", "plancheck",
                                   "--queries", ",".join(SORT_DROPPED_BY_COUNT)])
        plans = r["plans"]
        self.assertTrue(all(p["action_plan_sort"] for p in plans.values()), plans)
        self.assertTrue(any(not p["count_plan_sort"] for p in plans.values()), plans)


if __name__ == "__main__":
    unittest.main()
