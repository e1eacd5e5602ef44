#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py --workload log_read_append --seeds 1-10
    python3 perfbench/steady.py --workload daemon_ingest --repeat-traced 7

The first form runs the workload untraced once per seed and prints, for
each end-to-end metric, the median and the spread: the distance between
the first and third quartile (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound from BENCHMARK.json. The second form
runs two traced runs on one seed and checks that every job and task count
repeats exactly. Exits non-zero when a spread other than setup_s reaches
its bound, a count differs, or a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per-layer counts that must repeat exactly (Layers.Exact in the benchmark)
EXACT = {
    "storage.append_jobs", "storage.append_tasks", "storage.files_per_append",
    "storage.get_jobs", "storage.getmany_jobs", "storage.redact_jobs", "query.jobs",
    "indexes.kv_pump_jobs", "multilog.pump_jobs",
    "streaming.batch_jobs", "streaming.batch_stages", "streaming.batch_tasks",
    "streaming.files_per_batch",
}


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        sys.exit("run %s seed %d failed (exit %d)" % (workload, seed, p.returncode))
    res = json.loads(last)
    return {k: v["value"] for k, v in res["metrics"].items()}


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--repeat-traced", type=int, metavar="SEED")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    secs = bench["run_seconds"]
    ok = True
    if a.repeat_traced is not None:
        r1 = run(a.workload, a.repeat_traced, secs, 1)
        r2 = run(a.workload, a.repeat_traced, secs, 1)
        for k in sorted(r1):
            same = r1[k] == r2[k]
            mark = "" if k not in EXACT else ("  exact" if same else "  DIFFERS")
            ok &= same or k not in EXACT
            print("%-40s %16.4f %16.4f%s" % (k, r1[k], r2[k], mark))
    else:
        bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        runs = []
        for s in seeds(a.seeds):
            runs.append(run(a.workload, s, secs, 0))
            print("seed %d: %s" % (s, json.dumps(runs[-1])), flush=True)
        print("%-20s %12s %8s %8s" % ("metric", "median", "spread", "bound"))
        for k in bounds:
            vals = [r[k] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med
            flag = "" if k == "setup_s" or spread < bounds[k] else "  OVER"
            ok &= flag == ""
            print("%-20s %12.4f %8.4f %8.4f%s" % (k, med, spread, bounds[k], flag))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
