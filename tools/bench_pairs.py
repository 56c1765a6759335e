#!/usr/bin/env python3
"""Paired graft-bench runs of two checkouts, with the pair rule applied.

    python3 tools/bench_pairs.py <parent_dir> <change_dir> --workload refresh --pairs 10 [--seed0 1]

Pair i runs `perfbench/run.py --workload W --seed <seed0+i> --seconds S
--trace T` once in each checkout, unchanged, alternating which side runs
first (the parent on even pairs). S defaults to `run_seconds` of the
change's BENCHMARK.json. Runs are sequential: never start two benchmarks
at once on one box.

For every metric (the end-to-end ones with `--trace 0`, the per-layer
ones with `--trace 1`) it prints each side's median and quartiles
(`statistics.quantiles(values, n=4)`), the change's wins, losses and
ties over the pairs, and a verdict:

- `gain`: at least ten pairs, the change wins at least nine tenths of
  them (ties count for neither) and the medians differ by more than the
  distance between the parent's quartiles (with fewer pairs the same
  result reads `better, but n < 10 pairs`);
- `worse`: the change's median is worse than the parent's by more than
  the metric's bound (end-to-end metrics only);
- `unresolved`: the quartile spread of either side is wider than the
  bound and not every change run beats every parent run;
- `within bound` otherwise (`-` for per-layer metrics, which have none).

Each run's correctness and failed-op count are printed as it finishes;
`--out` writes every run's metrics and stamp as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`; returns (result, stamp)."""
    p = subprocess.run([sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{checkout}: {workload} seed {seed} exited with {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["stamp"]


def quartiles(values):
    return statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3


def verdict(parent, change, better, bound):
    """The pair rule over one metric's paired values."""
    sign = -1 if better == "lower" else 1  # sign * (change - parent) > 0 means the change is better
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(parent), quartiles(change)
    gain = sign * (cmed - pmed)
    if wins >= 0.9 * len(parent) and gain > pq3 - pq1:
        word = "gain" if len(parent) >= 10 else f"better, but {len(parent)} < 10 pairs"
    elif bound is None:
        word = "-"
    elif pmed and -gain / abs(pmed) > bound:
        word = "worse"
    elif pmed and cmed and max((pq3 - pq1) / abs(pmed), (cq3 - cq1) / abs(cmed)) > bound \
            and not all(sign * (c - p) > 0 for p in parent for c in change):
        word = "unresolved"
    else:
        word = "within bound"
    return {"parent": {"q1": pq1, "median": pmed, "q3": pq3}, "change": {"q1": cq1, "median": cmed, "q3": cq3},
            "wins": wins, "losses": losses, "ties": len(parent) - wins - losses, "verdict": word}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1, help="seed of the first pair; pair i uses seed0 + i")
    ap.add_argument("--seconds", type=float, default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", default=None, help="write every run as JSON here")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent_dir), "change": os.path.abspath(args.change_dir)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        for side in (["parent", "change"] if i % 2 == 0 else ["change", "parent"]):
            result, stamp = run(sides[side], args.workload, seed, seconds, args.trace)
            runs[side].append({"seed": seed, "result": result, "stamp": stamp})
            shown = {m["name"]: round(result["metrics"][m["name"]]["value"], 4) for m in spec["end_to_end"]
                     if m["name"] in result["metrics"]}
            print(f"pair {i + 1}/{args.pairs} seed {seed} {side:6s} correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} {json.dumps(shown)}", flush=True)
    summary = {}
    print(f"\n{args.workload}: {args.pairs} pairs, seeds {args.seed0}-{args.seed0 + args.pairs - 1}, "
          f"{seconds} s runs, trace {args.trace}; quartiles as [q1, q3]")
    zero = []
    for m in metrics:
        name = m["name"]
        vals = {side: [r["result"]["metrics"][name]["value"] for r in runs[side]] for side in runs}
        if not any(vals["parent"] + vals["change"]):
            zero.append(name)  # a layer this workload does not run
            continue
        v = verdict(vals["parent"], vals["change"], m["better"], m.get("bound"))
        summary[name] = dict(v, unit=m["unit"], better=m["better"], bound=m.get("bound"), values=vals)
        p, c = v["parent"], v["change"]
        ratio = f"{c['median'] / p['median']:.3f}" if p["median"] else "-"
        print(f"  {name:32s} parent {p['median']:12.4f} [{p['q1']:.4f}, {p['q3']:.4f}]  "
              f"change {c['median']:12.4f} [{c['q1']:.4f}, {c['q3']:.4f}]  change/parent {ratio:>6s}  "
              f"wins {v['wins']}/{args.pairs} (ties {v['ties']})  {v['verdict']}")
    if zero:
        print(f"  0 on both sides: {', '.join(zero)}")
    failed = {side: sum(r["result"]["failed"] for r in runs[side]) for side in runs}
    attempted = {side: sum(r["result"]["attempted"] for r in runs[side]) for side in runs}
    print(f"  failed ops: parent {failed['parent']}/{attempted['parent']}, "
          f"change {failed['change']}/{attempted['change']}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "pairs": args.pairs, "seed0": args.seed0, "seconds": seconds,
                       "trace": args.trace, "sides": sides, "summary": summary, "runs": runs},
                      fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
