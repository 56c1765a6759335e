#!/usr/bin/env python3
"""graft-bench: one command that builds graft from source, generates the
workload's inputs, runs one workload in one JVM and prints its metrics.

    python3 perfbench/run.py --workload rows --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke        # every workload at its smallest size
    python3 perfbench/run.py --record       # record output digests

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json; with `--trace 1`, the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
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
import gen  # noqa: E402

# Inputs per workload: fixture scale factor, and the scale used by --smoke.
# `maintain` runs on request; BENCHMARK.json lists only rows and refresh.
SCALES = {"rows": (0.1, 0.01), "maintain": (0.001, 0.001), "refresh": (0.1, 0.01)}
FIXTURE_SEED = 42  # tables are fixed; --seed drives order, batches and landings
EXPECTED = os.path.join(HERE, "expected.tsv")
WORK = os.path.join(ROOT, ".bench_work")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
DEADLINE_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graft-bench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads: graft's build and main sources
    plus the benchmark's own."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in [os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark with sbt (offline) unless the
    stamp says the sources are unchanged; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("graft's sources are not beside perfbench/ (expected ../build.sbt, ../src/main/scala)")
    want = source_hash()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want and all(os.path.exists(p) for p in cp.strip().split(os.pathsep)):
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n" + cp)
    return cp


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def inputs_for(workload, sf):
    """The workload's generated inputs. They do not depend on --seed, so they
    are made once per checkout and generator version; every set-up links
    them and nothing writes into them."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    kind = "catalog" if workload == "refresh" else "tables"
    path = os.path.join(WORK, "inputs", f"{kind}-sf{sf}-{FIXTURE_SEED}-{tag}")
    if not os.path.isdir(os.path.join(path, "in")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        if kind == "catalog":
            gen.generate(os.path.join(tmp, "tables"), sf, FIXTURE_SEED)
            gen.generate_catalog(os.path.join(tmp, "tables"), os.path.join(tmp, "in"))
        else:
            gen.generate(os.path.join(tmp, "in"), sf, FIXTURE_SEED)
        try:
            os.rename(tmp, path)
        except OSError:  # another run made it first
            shutil.rmtree(tmp, ignore_errors=True)
    return os.path.join(path, "in")


def run_jvm(cp, workload, seed, seconds, trace, sf, record, deadline):
    """Runs one workload in a fresh working directory; returns (result, stamp)."""
    inputs = inputs_for(workload, sf)
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # fixed, pre-touched heap: peak RSS then reads the same heap in every
        # run and moves with code, metadata and off-heap memory
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false"]
        cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
        cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work", work,
                "--inputs", inputs, "--nproc", str(nproc()), "--expected", EXPECTED,
                "--scope", f"{workload}@sf{sf}", "--record", "1" if record else "0"]
        log = open(os.path.join(work, "jvm.log"), "w")
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload} did not finish in time")
        finally:
            log.close()
        result = stamp = None
        for line in out.splitlines():
            if line.startswith("GRAFTBENCH_RESULT "):
                result = json.loads(line.split(" ", 1)[1])
            elif line.startswith("GRAFTBENCH_STAMP "):
                stamp = json.loads(line.split(" ", 1)[1])
        if proc.returncode != 0 or result is None:
            kept = os.path.join(WORK, f"failed-{workload}.log")
            shutil.copy(os.path.join(work, "jvm.log"), kept)
            fail(f"{workload} exited with {proc.returncode} and no result; JVM log in {kept}")
        return result, stamp
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def layer_table():
    with open(os.path.join(HERE, "layers.json")) as fh:
        return json.load(fh)


def complete(result, workload, trace):
    """Every metric BENCHMARK.json names, with its unit; a per-layer metric
    of a layer the workload does not run reads 0. A workload BENCHMARK.json
    does not list (maintain) adds its own per-layer metrics from layers.json."""
    spec = bench_spec()
    if trace:
        own = [m for m in layer_table()["per_layer"] if workload in m["workloads"]]
        listed = {m["name"] for m in spec["per_layer"]}
        names = spec["per_layer"] + [m for m in own if m["name"] not in listed]
    else:
        own = names = spec["end_to_end"]
    got = result["metrics"]
    missing = sorted(m["name"] for m in own if m["name"] not in got)
    if missing:
        fail(f"{workload} did not report {', '.join(missing)}")
    result["metrics"] = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    return result


def one(args, cp):
    deadline = time.time() + DEADLINE_S
    sf = SCALES[args.workload][1 if args.smoke else 0]
    result, stamp = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, sf, args.record,
                            deadline)
    result = complete(result, args.workload, args.trace)
    stamp.update({"commit": git_commit(), "fixture": f"sf{sf} seed {FIXTURE_SEED} (perfbench/gen.py)"})
    os.makedirs(WORK, exist_ok=True)
    last = os.path.join(WORK, f"last-{args.workload}-e2e.json")
    if not args.trace:
        with open(last, "w") as fh:
            json.dump(stamp["e2e"], fh)
    else:
        # tracing overhead: traced end-to-end figures against the last
        # untraced run of the same workload in this checkout
        if os.path.isfile(last):
            with open(last) as fh:
                base = json.load(fh)
            stamp["trace_overhead"] = {k: stamp["e2e"][k] / v - 1 for k, v in base.items() if v}
        with open(os.path.join(WORK, f"layers-{args.workload}.json"), "w") as fh:
            json.dump({"stamp": stamp, "metrics": result["metrics"]}, fh, indent=1, sort_keys=True)
    print(json.dumps({"stamp": stamp}, sort_keys=True))
    return result


def smoke(args, cp):
    """Every workload at its smallest size, untraced and traced: every
    metric must print and every op must pass its check."""
    ok = True
    for w in [args.workload] if args.workload else SCALES:
        for trace in (False, True):
            a = argparse.Namespace(**dict(vars(args), workload=w, trace=trace, seconds=2.0))
            r = one(a, cp)
            line = json.dumps(r)
            print(line)
            ok &= r["correct"] and all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="run every workload at its smallest size")
    ap.add_argument("--record", action="store_true", help="record output digests for the given size")
    args = ap.parse_args()
    args.trace = bool(args.trace)
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    cp = build()
    if args.smoke:
        sys.exit(0 if smoke(args, cp) else 1)
    print(json.dumps(one(args, cp)))


if __name__ == "__main__":
    main()
