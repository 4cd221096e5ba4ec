#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per workload and
end-to-end metric, the median and the run-to-run spread (interquartile
distance over median) against the metric's bound.

    python3 perfbench/check_steady.py --workloads ann_local,corpus_pipeline --seeds 11-20
    python3 perfbench/check_steady.py ... --baseline earlier_summary.json

Run from the repository root. A spread should stay below a third of its
bound (setup_s excepted). The last stdout line is a JSON summary; given an
earlier one as --baseline, each median is also checked against the
baseline's median and the metric's bound, as between a parent and a change.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def seed_list(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit code {proc.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--baseline", help="JSON summary of an earlier set of runs")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    baseline = {}
    if a.baseline:
        with open(a.baseline) as f:
            baseline = json.loads(f.read().strip().splitlines()[-1])
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in seed_list(a.seeds):
            t0 = time.time()
            r = run_once(spec, w, seed)
            runs.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{w} seed {seed}: {time.time() - t0:.0f} s wall, correct={r['correct']} "
                  f"failed={r['failed']} {vals}", flush=True)
        summary[w] = {}
        for m in spec["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in runs]
            row = {"median": stats.median(values), "values": values}
            if len(values) >= 2:
                row["spread"] = stats.spread(values)
                row["share_of_bound"] = row["spread"] / m["bound"]
            summary[w][m["name"]] = row
            if "spread" in row:
                flag = "" if m["name"] == "setup_s" or row["share_of_bound"] < 1 / 3 else "  <-- above a third of the bound"
                print(f"  {w:16s} {m['name']:12s} median {row['median']:10.4g} {m['unit']:3s} "
                      f"spread {row['spread']:.4f} (bound {m['bound']}){flag}", flush=True)
            base = baseline.get(w, {}).get(m["name"])
            if base:
                worse = stats.worse_by(base["median"], row["median"], m["better"])
                ok = stats.within_bound(base["median"], row["median"], m["better"], m["bound"])
                print(f"  {w:16s} {m['name']:12s} vs baseline median {base['median']:.4g}: "
                      f"{worse:+.4f} {'within' if ok else 'OUTSIDE'} the bound", flush=True)
        summary[w]["all_correct"] = all(r["correct"] and r["failed"] == 0 for r in runs)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
