#!/usr/bin/env python3
"""Benchmark self-tests.

    python3 perfbench/test_bench.py            # all
    python3 perfbench/test_bench.py -k quirk   # one

The generator and accounting tests run in seconds; the harness tests
build the benchmark (if needed) and start Spark, about a minute each.
"""

import csv
import io
import json
import os
import subprocess
import sys
import tempfile
import time
import unittest
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "selftest")


def scratch():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(dir=SCRATCH)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = scratch()
        cls.truth = gen.gen_superstore(cls.dir, seed=12345, mult=1.0)
        with open(os.path.join(cls.dir, "extract_0.csv"), "rb") as f:
            cls.data = f.read()

    def test_quirk_rates_at_1x(self):
        lines = self.data.split(b"\r\n")
        self.assertEqual(lines[-1], b"")  # CRLF-terminated, last included
        lines = lines[:-1]
        self.assertNotIn(b"\n", b"".join(lines))  # no bare LF anywhere
        rows = lines[1:]
        n = len(rows)
        self.assertLess(abs(n - gen.REF_ROWS) / gen.REF_ROWS, 0.03)
        self.assertTrue(all(ln.endswith(b";") for ln in lines))
        wrapped = sum(1 for ln in rows if ln.startswith(b'"') and
                      ln.endswith(b'";') and b'",' not in ln[:12])
        self.assertLess(abs(wrapped / n - gen.WRAP_RATE), 0.015)
        self.assertEqual(wrapped, self.truth["runs"][0]["quoted_rows"])
        self.assertLess(abs(self.data.count(b"\xa0") / n - gen.NBSP_PER_ROW),
                        0.025)
        with self.assertRaises(UnicodeDecodeError):
            self.data.decode("utf-8")
        self.assertGreater(sum(1 for ln in rows if b'""' in ln or
                               (b',"' in ln and b', ' in ln)), 0)

    def test_duplicate_lines_and_ground_truth(self):
        text = self.data.decode("cp1252")
        parsed = []
        for ln in text.split("\r\n")[1:-1]:
            body = ln[:-1]
            if body.startswith('"') and body.endswith('"') and \
                    '",' not in body[:12]:
                body = body[1:-1].replace('""', '"')
            parsed.append(next(csv.reader(io.StringIO(body))))
        run0 = self.truth["runs"][0]
        self.assertEqual(len(parsed), run0["raw_rows"])
        keys = [(r[1], r[13]) for r in parsed]
        dups = len(keys) - len(set(keys))
        self.assertEqual(dups, round(len(parsed) * gen.DUP_RATE))
        self.assertEqual(dups, run0["dup_lines"])
        self.assertEqual(len(set(keys)), run0["rows_after_dedup"])
        first = {}
        for r in parsed:
            first.setdefault((r[1], r[13]), r)
        self.assertEqual(str(sum(Decimal(r[17]) for r in first.values())),
                         run0["sum_sales"])
        self.assertEqual(sum(int(r[18]) for r in first.values()),
                         run0["sum_quantity"])
        self.assertEqual(str(sum(Decimal(r[17]) for r in parsed)),
                         run0["raw_sum_sales"])

    def test_same_seed_same_inputs(self):
        other = scratch()
        gen.gen_superstore(other, seed=12345, mult=1.0)
        with open(os.path.join(other, "extract_0.csv"), "rb") as f:
            self.assertEqual(f.read(), self.data)

    def test_corpus_planted_share_recorded(self):
        d = scratch()
        t = gen.gen_corpus(d, seed=3)
        p = t["planted"]
        self.assertGreater(p["share"], 0.1)
        self.assertEqual(p["exact_docs"] + p["near_docs"],
                         round(p["share"] * t["n_docs"]))
        # every planted exact pair is an exact-Jaccard pair
        pairs = {(a, b) for a, b, _, _ in t["jaccard_pairs"]}
        for g in p["exact_groups"]:
            self.assertIn((g[0], g[1]), pairs)


class AccountingTest(unittest.TestCase):
    """A failing op raises the failure share and never raises throughput,
    even when a slow op fails fast in place of its work."""

    def art(self, ops, passes):
        return {"ops": ops, "passes": passes,
                "setup": {"session_s": 1.0, "fixture_s": [1.0],
                          "prepare_s": 0.0, "warmup_s": 1.0},
                "heap_live_mb": 1.0, "stored_bytes": 1}

    def passes(self, n, fail_fast=()):
        # eight 0.5 s ops and one 4 s op per pass; in the passes named in
        # `fail_fast` the 4 s op throws after 10 us instead
        ops = []
        for p in range(n):
            for i in range(9):
                slow = i == 8
                ops.append({"name": f"op{i}", "pass": p, "traced": False,
                            "lat_ms": (0.01 if p in fail_fast else 4000.0)
                            if slow else 500.0})
        verdicts = [("threw" if o["name"] == "op8" and o["pass"] in fail_fast
                     else None) for o in ops]
        return run.end_to_end("corpus_dedup", self.art(ops, n), verdicts,
                              [1.0], 1)[0]

    def test_slow_op_failing_fast_never_raises_throughput(self):
        clean = self.passes(3)
        for fail_fast in ((0,), (1, 2), (0, 1, 2)):
            dirty = self.passes(3, fail_fast)
            self.assertEqual(clean["ok_frac"], 1.0)
            self.assertAlmostEqual(dirty["ok_frac"], 1 - len(fail_fast) / 27)
            self.assertLess(dirty["ops_per_s"], clean["ops_per_s"])
            self.assertGreaterEqual(dirty["op_tail_ms"], clean["op_tail_ms"])

    def test_benchmark_json_matches_launcher(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER_UNITS)
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(run.WORKLOADS))


class HarnessTest(unittest.TestCase):
    """Runs the real harness."""

    def bench(self, *extra):
        save = os.path.join(scratch(), "a.json")
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "corpus_dedup", "--seed", "5", "--seconds", "1", "--save",
             save, *extra], capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        with open(save) as f:
            passes = json.load(f)["passes"]
        return json.loads(p.stdout.strip().splitlines()[-1]), passes

    def test_injected_failure_is_counted_not_dropped(self):
        # the pass's slowest op throws at once in place of its work
        clean, _ = self.bench()
        dirty, passes = self.bench("--inject-failure", "corpus.pipeline")
        self.assertTrue(clean["correct"])
        self.assertFalse(dirty["correct"])
        self.assertEqual(dirty["attempted"], clean["attempted"])
        self.assertEqual(dirty["failed"], passes)  # once per pass, kept
        m, c = dirty["metrics"], clean["metrics"]
        self.assertAlmostEqual(m["ok_frac"]["value"],
                               1 - dirty["failed"] / dirty["attempted"])
        self.assertLess(m["ok_frac"]["value"], c["ok_frac"]["value"])
        self.assertLessEqual(m["ops_per_s"]["value"],
                             c["ops_per_s"]["value"])

    def test_noop_keeps_final_projection(self):
        cp = run.build(time.time() + 880)
        d = scratch()
        p = subprocess.run(
            ["java", "-Xmx2g", *run.ADD_OPENS, f"-Djava.io.tmpdir={d}",
             "-cp", cp, "perfbench.SelfTest", d],
            capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertEqual(p.stdout.count("ok "), 4, p.stdout)


if __name__ == "__main__":
    try:
        unittest.main()
    finally:
        import shutil
        shutil.rmtree(SCRATCH, ignore_errors=True)
