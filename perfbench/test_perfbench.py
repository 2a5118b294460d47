#!/usr/bin/env python3
"""The benchmark's own tests. From the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

They check that one seed gives byte-identical inputs, that the generator's
ground truth agrees with graft (one short run of each workload, which checks
every table, answer and snapshot state against it), and that the summary
line stays short. The graft runs build the harness first if needed.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, "work", "selftest")


def generate(workload, seed, name):
    out = os.path.join(SCRATCH, name)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                    "--seed", str(seed), "--out", out], check=True)
    return out


def run(workload, seed, trace=0):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    return p.stdout.splitlines()


class Inputs(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for w in ("etl_dump", "serve_mix"):
            a, b = generate(w, 7, w + "-a"), generate(w, 7, w + "-b")
            cmp = filecmp.dircmp(a, b)
            self.assertEqual(cmp.left_only + cmp.right_only, [], w)
            for d, _, fs in os.walk(a):
                for f in fs:
                    x = os.path.join(d, f)
                    y = os.path.join(b, os.path.relpath(x, a))
                    self.assertTrue(filecmp.cmp(x, y, shallow=False), x)

    def test_other_seed_other_bytes(self):
        a, b = generate("etl_dump", 7, "a"), generate("etl_dump", 8, "b")
        self.assertFalse(filecmp.cmp(os.path.join(a, "dump.json"),
                                     os.path.join(b, "dump.json"), shallow=False))

    def test_dump_plants_what_the_reader_must_skip(self):
        out = generate("etl_dump", 7, "plants")
        exp = json.load(open(os.path.join(out, "expect.json")))["dump"]
        lines = open(os.path.join(out, exp["path"])).read().split("\n")[:-1]
        self.assertEqual(len(lines), exp["lines"])
        self.assertEqual((lines[0], lines[-1]), ("[", "]"))
        self.assertGreater(exp["rejected"], 0)
        self.assertEqual(exp["lines"] - exp["framing"] - exp["entities"], exp["rejected"])


class AgainstGraft(unittest.TestCase):
    """One short run per workload: every op's answer, the tables of every
    ETL pass, the planted reject count and the final snapshot version are
    checked against the generator inside the run."""

    def check(self, workload, trace):
        out = run(workload, 3, trace)
        summary = json.loads(out[-1])
        self.assertEqual(sorted(summary), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(summary["correct"], out)
        self.assertEqual(summary["failed"], 0)
        self.assertGreaterEqual(summary["attempted"], 1)
        if not trace:  # the end-to-end summary stays well inside 2,000 characters
            self.assertLess(len(out[-1]), 1000)
        self.assertTrue(out[-2].startswith("# detail "))
        return summary["metrics"]

    def test_etl_dump(self):
        m = self.check("etl_dump", 0)
        self.assertEqual(sorted(m), ["etl_mb_per_s", "op_p50_ms", "ops_per_s", "setup_s"])

    def test_serve_mix(self):
        self.check("serve_mix", 0)

    def test_traced_run_reports_every_layer(self):
        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        m = self.check("serve_mix", 1)
        self.assertEqual(sorted(m), sorted(x["name"] for x in bench["per_layer"]))


if __name__ == "__main__":
    unittest.main()
