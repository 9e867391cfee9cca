"""Tests of the benchmark itself (not of the engine).

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests -v
The contract and oracle tests take seconds; the ones marked "runs the
benchmark" start the engine and take one to two minutes per run (a
traced run is two JVMs, untraced then traced).
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import oracle  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, seed, trace="0", plant="0"):
    """One benchmark run; returns (result line as dict, stdout)."""
    s = spec()
    env = dict(os.environ, PERFBENCH_PLANT=plant)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(s["run_seconds"]), "--trace", trace],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=240)
    if p.returncode != 0:
        raise AssertionError(f"run failed ({p.returncode}): {p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


class ContractTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end",
                                  "per_layer"})
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        names = [w["name"] for w in s["workloads"]] + \
            [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_oracle_digest_form(self):
        # the driver's canonical text: ids comma-joined, stats rows
        # pipe-joined, sorted, semicolon-joined
        ids, stats = [3, 1], [("en", 2, 9, 1, 3), ("de", 1, 4, 2, 2)]
        sid, sst = oracle.digests(ids, stats)
        self.assertEqual(sid, oracle._sha("3,1"))
        self.assertEqual(sst, oracle._sha("de|1|4|2|2;en|2|9|1|3"))

    def test_curation_verdict(self):
        # (doc_id, lang, n_words, near_dup, contaminated, survives) of the
        # oracle's stage-4 docs: 1-4 survive, 5-7 are near-dup drops that
        # decontamination keeps, 8 is a near-dup drop it removes, 9 is
        # contaminated only
        rows = [(1, "en", 10, False, False, True), (2, "en", 20, False, False, True),
                (3, "de", 30, False, False, True), (4, "de", 40, False, False, True),
                (5, "en", 5, True, False, False), (6, "en", 6, True, False, False),
                (7, "de", 7, True, False, False), (8, "en", 8, True, True, False),
                (9, "de", 9, False, True, False)]

        def verdict(ids, floor=0.6):
            stats = {}
            for i in [i for i in ids if i <= len(rows)]:
                _, lang, n, _, _, _ = rows[i - 1]
                s = stats.setdefault(lang, [lang, 0, 0, i, i])
                s[1], s[2], s[3], s[4] = s[1] + 1, s[2] + n, min(s[3], i), max(s[4], i)
            return oracle.judge(rows, ids, *oracle.digests(ids, stats.values()), floor)

        ok, facts = verdict([1, 2, 3, 4])
        self.assertTrue(ok)
        self.assertEqual(facts["near_dup_recall"], 1.0)
        # one missed near-dup pair of three: recall 2/3, above a 0.6 floor
        ok, facts = verdict([1, 2, 3, 4, 6])
        self.assertTrue(ok)
        self.assertEqual(facts["near_dup_missed"], [6])
        self.assertFalse(verdict([1, 2, 3, 4, 6], floor=0.7)[0])
        self.assertFalse(verdict([1, 2, 3, 4, 5, 6])[0])  # recall 1/3
        self.assertFalse(verdict([1, 2, 3])[0])  # an oracle survivor dropped
        self.assertFalse(verdict([1, 2, 3, 4, 8])[0])  # decontamination drops 8
        self.assertFalse(verdict([1, 2, 3, 4, 9])[0])  # contaminated, no near-dup
        self.assertFalse(verdict([1, 2, 3, 4, 10])[0])  # not a stage-4 doc
        # digests that do not match the ids
        self.assertFalse(oracle.judge(rows, [1, 2, 3, 4], "x", "y", 0.6)[0])


class RunTest(unittest.TestCase):
    """Runs the benchmark."""

    def test_metric_names_match_benchmark_json(self):
        s = spec()
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            res, out = run("curate_index", 7, trace=trace)
            want = [(m["name"], m["unit"]) for m in s[key]]
            got = [(n, m["unit"]) for n, m in res["metrics"].items()]
            self.assertEqual(got, want)
            self.assertTrue(res["correct"])
            # the human-readable lines before the result name the same metrics
            for n, _ in want:
                self.assertIn(n, out)

    def test_planted_wrong_answer_is_counted(self):
        for workload in [w["name"] for w in spec()["workloads"]]:
            res, _ = run(workload, 7, plant="1")
            self.assertFalse(res["correct"], workload)
            self.assertGreaterEqual(res["failed"], 1, workload)
            self.assertLessEqual(res["failed"], res["attempted"], workload)

    def test_same_code_twice_is_steady(self):
        s = spec()
        for w in s["workloads"]:
            a, _ = run(w["name"], 11)
            b, _ = run(w["name"], 11)
            self.assertTrue(a["correct"] and b["correct"])
            for m in s["end_to_end"]:
                x, y = a["metrics"][m["name"]]["value"], b["metrics"][m["name"]]["value"]
                self.assertGreater(x, 0, m["name"])
                self.assertLessEqual(abs(x - y) / x, m["bound"], (w["name"], m["name"], x, y))


if __name__ == "__main__":
    unittest.main()
