#!/usr/bin/env python3
"""Runs graft-bench over several seeds and summarises each end-to-end
metric: median, quartiles, and the spread (quartile distance over median)
that BENCHMARK.json's bounds are checked against.

    python3 perfbench/sweep.py --workloads rows,maintain --seeds 1-10 --out perfbench/baseline/set1.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in workloads:
        runs = []
        for s in seeds(args.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-3000:]}")
            stamp = json.loads(lines[-2])["stamp"]
            res = json.loads(lines[-1])
            runs.append({"seed": s, "result": res, "loadavg": stamp["loadavg"], "failed_ops": stamp["failed_ops"],
                         "timed_steal_share": stamp["timed_steal_share"]})
            print(w, s, {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  "steal", round(stamp["timed_steal_share"], 3), flush=True)
        summary = {}
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                                  "bound": m["bound"], "values": vals}
            print(f"  {w:9s} {m['name']:12s} median {med:10.4f} spread {(q3 - q1) / med:7.3f} (bound {m['bound']})")
        report["workloads"][w] = {"summary": summary, "runs": runs}
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
