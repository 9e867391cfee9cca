#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the driver if stale (perfbench/build.py), runs the
workload in one JVM at local[nproc], checks the outputs (the q77 DuckDB
oracle for the curation pass runs here, untimed), and prints one JSON object
as the last line of stdout: correct / attempted / failed / metrics. With
--trace 0 the metrics are the end-to-end ones. With --trace 1 the
per-layer ones: the seed runs untraced and then traced, each in a fresh
JVM, and the traced run's layer figures come with the difference of the
two runs' end-to-end figures (the tracing overhead). Everything is written
under perfbench/.work/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 175  # the whole invocation, both JVMs of a traced run included
HEAP = "3g"  # pinned (-Xms = -Xmx): heap growth under load adds GC variance
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# end-to-end metrics whose traced minus untraced difference a traced run reports
OVERHEAD = ("latency_s.p50", "items_per_s", "ops_per_s")

_child = None


def _stop_child(signum, _frame):
    if _child is not None and _child.poll() is None:
        _child.kill()
        _child.wait()
    raise SystemExit(128 + signum)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def expected_names(spec, trace):
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def cpu_times():
    """The machine's CPU time counters (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def run_jvm(args, trace, classpath, checks, deadline):
    """One driver JVM; returns its result object (oracle-checked)."""
    global _child
    work = os.path.join(HERE, ".work", args.workload + ("-traced" if trace else ""))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    # -XX:-UsePerfData: the JVM would otherwise keep its counters under
    # /tmp, outside the checkout
    cmd = (["java"] + ADD_OPENS + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
        "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", ":".join(classpath), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "1" if trace else "0",
        "--work", work, "--out", result_path,
        "--recall-floor", str(checks["ann_recall_at_k_floor"]),
        "--plant", os.environ.get("PERFBENCH_PLANT", "0")])
    before = cpu_times()
    started = time.monotonic()
    _child = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = _child.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        _child.kill()
        _child.wait()
        raise SystemExit(f"{args.workload}: driver did not finish in {DEADLINE_S} s")
    if rc != 0 or not os.path.exists(result_path):
        raise SystemExit(f"{args.workload}: driver failed with exit code {rc}")
    res = load_json(result_path)

    d = res["detail"]
    d["jvm_wall_s"] = time.monotonic() - started
    after = cpu_times()
    if before and after and len(before) > 7:
        # share of the machine's CPU time the hypervisor gave to other
        # guests while the JVM ran: the timings inflate with it
        delta = [b - a for a, b in zip(before, after)]
        d["cpu_steal_share"] = delta[7] / max(1, sum(delta))
    if "corpus_path" in d:
        # the survivor set of the curation passes against the q77 oracle's
        # on the generated corpus (untimed, after the JVM exits)
        oracle_start = time.monotonic()
        ok, facts = oracle.check_curation(
            d["corpus_path"], d["oracle_sql_path"], d["survivors_path"],
            d["survivor_digest"], d["stats_digest"], checks["near_dup_recall_floor"])
        d.update(facts, oracle_s=time.monotonic() - oracle_start)
        if not ok:
            print(f"{args.workload}: curation oracle check failed: {json.dumps(facts)}",
                  file=sys.stderr)
            res["failed"] += 1
            res["correct"] = False
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    return res


def main():
    deadline = time.monotonic() + DEADLINE_S
    signal.signal(signal.SIGTERM, _stop_child)
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    trace = args.trace == "1"

    checks = load_json(os.path.join(HERE, "WORKLOADS.json"))["checks"]
    classpath = build.build()

    if not trace:
        res = run_jvm(args, False, classpath, checks, deadline)
        runs = [res]
        metrics = res["metrics"]
    else:
        # tracing overhead: the same seed run untraced, then traced, each in
        # a fresh JVM, so both sides time the same cold work
        off = run_jvm(args, False, classpath, checks, deadline)
        res = run_jvm(args, True, classpath, checks, deadline)
        runs = [off, res]
        on_e2e, off_e2e = res["detail"]["end_to_end"], off["metrics"]
        metrics = dict(res["metrics"])
        # the curation oracle's verdict on the traced JVM's pass (0 where
        # the workload runs no curation)
        metrics["operators.curation.near_dup_recall"] = {
            "value": res["detail"].get("near_dup_recall", 0.0), "unit": "ratio"}
        for m in OVERHEAD:
            metrics[f"trace_overhead.{m}"] = {
                "value": on_e2e[m] - off_e2e[m]["value"], "unit": off_e2e[m]["unit"]}

    names = list(metrics.keys())
    if sorted(names) != sorted(expected_names(spec, trace)):
        raise SystemExit(f"metric names differ from BENCHMARK.json: {names}")
    metrics = {n: metrics[n] for n in expected_names(spec, trace)}

    for n, m in metrics.items():
        print(f"{args.workload:20s} {n:44s} {m['value']:>16.6g} {m['unit']}")
    for r in runs:
        print(f"{args.workload:20s} detail {json.dumps(r['detail'])}")
    failed = sum(r["failed"] for r in runs)
    print(json.dumps({"correct": all(r["correct"] for r in runs),
                      "attempted": sum(r["attempted"] for r in runs),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
