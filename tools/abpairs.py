#!/usr/bin/env python3
"""Interleaved A/B pairs of the repo benchmark: a base revision against the
working tree.

Usage (from the root of the repository):
  python3 tools/abpairs.py --workload curate_index --seeds 1,2,3,4,5,6 --base HEAD~1
  python3 tools/abpairs.py --workload refresh_weekly --seeds 1-6 --base main

Each pair runs `perfbench/run.py --workload W --seed S --seconds 5 --trace 0`
once in an export of the base revision (`git archive` into a temporary
directory, removed afterwards) and once in the working tree, on the same seed. The side that
runs first alternates from pair to pair, so a host that drifts during the
series weighs on both sides alike. It refuses to run when the base is HEAD
and no tracked file has changed: both sides would run the same code.

Prints the per-pair deltas of every end-to-end metric, the per-metric medians
of both sides and each median's change as a fraction of its bound in
BENCHMARK.json (negative = better, in the metric's own direction), with the
base runs' interquartile range to hold a median shift against. It refuses
to summarize (exit 1) when any run is not `correct` or has failures.
Standard library only.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds += range(int(lo), int(hi) + 1)
        elif part:
            seeds.append(int(part))
    return seeds


def run_once(checkout, workload, seed):
    """One benchmark run; returns the result object of its last stdout line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "5", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "failed": 1, "metrics": {},
                "error": f"exit {proc.returncode}, no result line"}


def worse_share(base, change, better):
    """Relative change of `change` against `base`, signed so that > 0 is worse."""
    if base == 0:
        return 0.0 if change == 0 else float("inf")
    rel = (change - base) / abs(base)
    return rel if better == "lower" else -rel


def summarize(pairs, spec):
    """Report lines for the pairs [(seed, base_result, change_result)]; raises
    ValueError when a run is not correct or has failures."""
    if not pairs:
        raise ValueError("no pairs were run")
    for seed, base, change in pairs:
        for side, res in (("base", base), ("change", change)):
            if not res.get("correct") or res.get("failed", 0) != 0:
                raise ValueError(f"seed {seed}: {side} run not correct "
                                 f"(failed={res.get('failed')}, {res.get('error', '')})")
    lines = []
    for m in spec["end_to_end"]:
        name, better, bound = m["name"], m["better"], m["bound"]
        b = [base["metrics"][name]["value"] for _, base, _ in pairs]
        c = [change["metrics"][name]["value"] for _, _, change in pairs]
        deltas = " ".join(f"{y - x:+.4g}" for x, y in zip(b, c))
        wins = sum(worse_share(x, y, better) < 0 for x, y in zip(b, c))
        mb, mc = statistics.median(b), statistics.median(c)
        share = worse_share(mb, mc, better)
        q = statistics.quantiles(b, n=4) if len(b) > 1 else [mb, mb, mb]
        lines.append(f"{name:16s} deltas(change-base) {deltas}")
        lines.append(f"{'':16s} median {mb:.6g} -> {mc:.6g} ({share:+.1%} worse-signed, "
                     f"{share / bound:+.2f} of bound {bound}); change better in "
                     f"{wins}/{len(pairs)} pairs; base interquartile range {q[2] - q[0]:.4g}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1,2,3 or 1-6")
    ap.add_argument("--base", required=True, help="base revision, e.g. HEAD~1")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    def rev(r):
        return subprocess.run(["git", "rev-parse", "--verify", r + "^{commit}"], cwd=ROOT,
                              check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    tree_clean = subprocess.run(["git", "diff", "--quiet", "HEAD"], cwd=ROOT).returncode == 0
    if rev(args.base) == rev("HEAD") and tree_clean:
        print(f"refusing to run: base {args.base} is HEAD and the working tree has no "
              "changes, so both sides would run the same code", file=sys.stderr)
        return 1

    tmp = tempfile.mkdtemp(prefix="abpairs-")
    base_dir = os.path.join(tmp, "base")
    os.makedirs(base_dir)
    archive = subprocess.Popen(["git", "archive", rev(args.base)], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", base_dir], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {args.base} failed")
    pairs = []
    try:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = [("base", base_dir), ("change", ROOT)]
            if i % 2:
                order.reverse()
            res = {side: run_once(d, args.workload, seed) for side, d in order}
            pairs.append((seed, res["base"], res["change"]))
            p50 = {s: r["metrics"].get("latency_s.p50", {}).get("value") for s, r in res.items()}
            print(f"pair {i + 1} seed {seed} ({order[0][0]} first): latency_s.p50 "
                  f"base {p50['base']} change {p50['change']}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    try:
        lines = summarize(pairs, spec)
    except ValueError as e:
        print(f"refusing to summarize: {e}", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
