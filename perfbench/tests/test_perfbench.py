"""The benchmark's own tests: seeded generators are deterministic, and every
metric BENCHMARK.json names is emitted by a short run of each workload.

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests
Set PERFBENCH_SKIP_SMOKE=1 to skip the smoke runs (they build the program
on first use and take a few minutes).
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import run  # noqa: E402


def generate(script, out, seed):
    subprocess.run([sys.executable, os.path.join(BENCH, script), out,
                    "--seed", str(seed)], check=True)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def check_determinism(self, script):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            generate(script, a, 7)
            generate(script, b, 7)
            generate(script, c, 8)
            self.assertTrue(same_tree(a, b), "same seed, different bytes")
            self.assertFalse(same_tree(a, c), "different seed, same files")

    def test_matches_deterministic(self):
        self.check_determinism("gen_matches.py")

    def test_tables_deterministic(self):
        self.check_determinism("gen_tables.py")

    def test_match_corpus_shape(self):
        with tempfile.TemporaryDirectory() as t:
            generate("gen_matches.py", t, 3)
            corpus = os.path.join(t, "corpus")
            docs = [json.load(open(os.path.join(corpus, f)))
                    for f in sorted(os.listdir(corpus))]
            with open(os.path.join(t, "expected.json")) as f:
                expected = json.load(f)
            import gen_matches
            valid = [d for d in docs if gen_matches.valid(d)]
            self.assertEqual(expected["corpus"], len(valid))
            dropped = 1 - len(valid) / len(docs)
            self.assertTrue(0.0 < dropped < 0.15, dropped)
            modes = {d["mode"] for d in docs}
            self.assertTrue({"br_dmz_plunder", "br_mini_rebirth",
                             "br_kingslayer"} <= modes, modes)
            ends = [d["utcEndSeconds"] for d in docs]
            self.assertTrue(min(ends) < gen_matches.S1_S2 < max(ends))
            squads = {}
            for d in docs:
                squads.setdefault(d["matchID"], set()).add(d["player"]["uno"])
            self.assertTrue(any(len(s) >= 3 for s in squads.values()))
            ticks = os.path.join(t, "ticks")
            redelivered = [f for k in os.listdir(ticks)
                           for f in os.listdir(os.path.join(ticks, k))
                           if ".t" in f]
            self.assertTrue(redelivered)


class ChecksTest(unittest.TestCase):
    def test_float_tolerance_and_multisets(self):
        a = [{"k": "x", "v": 3.2120825}, {"k": "y", "v": 1.0}]
        b = [{"k": "y", "v": 1.0}, {"k": "x", "v": 3.2120824999999997}]
        self.assertIsNone(checks.same_rows(a, b))
        self.assertIsNotNone(checks.same_rows(a, b + b[:1]))
        self.assertIsNotNone(checks.same_rows(a, [{"k": "x", "v": 3.3},
                                                  {"k": "y", "v": 1.0}]))


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "smoke runs skipped")
class SmokeTest(unittest.TestCase):
    """A short run of each workload, untraced and traced, prints every
    metric BENCHMARK.json names; the harness itself emits every
    end-to-end metric per workload, and between the workloads exactly the
    declared per-layer metrics."""

    def test_every_named_metric_is_emitted(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"] for m in spec["end_to_end"]}
        layers = {m["name"] for m in spec["per_layer"]}
        seen_layers = set()
        for w in spec["workloads"]:
            for trace in (0, 1):
                p = subprocess.run(
                    [sys.executable, os.path.join(BENCH, "run.py"),
                     "--workload", w["name"], "--seed", "1", "--seconds", "1",
                     "--trace", str(trace)],
                    cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
                self.assertEqual(p.returncode, 0, w["name"])
                line = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertTrue(line["correct"], (w["name"], trace))
                self.assertEqual(set(line["metrics"]), layers if trace else e2e)
                with open(os.path.join(run.BUILD, "work", w["name"],
                                       "result.json")) as f:
                    emitted = set(json.load(f)["metrics"])
                if trace:
                    seen_layers |= emitted
                else:
                    self.assertLessEqual(e2e, emitted, w["name"])
        self.assertLessEqual(layers, seen_layers)
        # and nothing undeclared, e.g. a report directory added to
        # Pipeline.reportInventory but not to BENCHMARK.json
        self.assertLessEqual(seen_layers - e2e, layers)


if __name__ == "__main__":
    unittest.main()
