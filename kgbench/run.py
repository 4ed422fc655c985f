#!/usr/bin/env python3
"""Benchmark of the KG construction engine, end to end and per layer.

One run:

    python3 kgbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Every workload once, as a table (exits non-zero if any output check fails):

    python3 kgbench/run.py --all --seed 1 --seconds 10 [--trace 1]

Run from the root of the repository. The first run builds the engine and
the benchmark from source with sbt (kgbench/build.sbt) and caches the
classpath under .bench_build/, keyed by a hash of the sources; later runs
start the JVM directly. Each run generates its inputs from the seed under
.bench_build/runs/, measures, checks the outputs, keeps result.json and
spans.json there, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones.
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
BUILD = os.path.join(ROOT, ".bench_build")
GOLDEN = os.path.join(HERE, "golden.json")
WORKLOADS = ["bulk_build", "stream_ingest"]
# wall-clock limit of one JVM run, and of the first build
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """The files the build reads: the engine's main sources and build, and
    the benchmark's own."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(src_hash):
    """Compile with sbt unless a classpath for these exact sources exists."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("kgbench: building engine and benchmark with sbt", flush=True)
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-error",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(ln for ln in lines if ln.startswith("[error]"))[-4000:] + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(src_hash)
    print(f"kgbench: built in {time.time() - t0:.0f} s", flush=True)
    return lines[-1]


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def check_golden(workload, seed, res, write):
    """Compare the graph against the default-seed golden (or record it)."""
    golden = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            golden = json.load(f)
    info = res.get("info", {})
    got = info.get("graph")
    if write:
        golden.setdefault("seed", seed)
        if golden["seed"] != seed:
            fail(f"golden.json is for seed {golden['seed']}")
        golden.setdefault("workloads", {})[workload] = got
        with open(GOLDEN, "w") as f:
            json.dump(golden, f, indent=2, sort_keys=True)
            f.write("\n")
        return None
    if golden.get("seed") != seed or workload not in golden.get("workloads", {}):
        return None
    want = golden["workloads"][workload]
    return want == got, want, got


def run_one(args, cp, e2e_units, layer_units):
    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = nproc()
    load_before = os.getloadavg()[0]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "kgbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
              "--cores", str(cores)])
    t0 = time.time()
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:  # never leave the JVM behind, also when interrupted
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.stdout.write(out)
    result_file = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM exited with {p.returncode}", 3)
    with open(result_file) as f:
        res = json.load(f)
    load_after = os.getloadavg()[0]
    info = res.setdefault("info", {})
    info.update({"nproc": cores, "git_commit": git_commit(), "source_sha256": args.src_hash,
                 "load1_before": load_before, "load1_after": load_after,
                 "load_exceeded_nproc": max(load_before, load_after) > cores + 1,
                 "wall_s": time.time() - t0, "workload": args.workload,
                 "trace": args.trace, "seconds": args.seconds})
    failed = res["failed"]
    correct = res["correct"]
    g = check_golden(args.workload, args.seed, res, args.write_golden)
    if g is not None:
        ok, want, got = g
        info["golden_ok"] = ok
        if not ok:
            print(f"[kgbench] CHECK FAILED golden: want {json.dumps(want)} got {json.dumps(got)}")
            correct = False
            failed = min(res["attempted"], failed + 1)
    units = layer_units if args.trace else e2e_units
    missing = [m for m in units if m not in res["metrics"]]
    if missing:
        print(f"[kgbench] metrics missing from the run: {missing}")
        correct = False
    metrics = {m: {"value": res["metrics"][m], "unit": u}
               for m, u in units.items() if m in res["metrics"]}
    info["failed_frac"] = failed / res["attempted"]
    res.update({"correct": correct, "failed": failed})
    with open(result_file, "w") as f:
        json.dump(res, f, indent=1)
    for d in os.listdir(work):  # keep the result and the spans only
        if d not in ("result.json", "spans.json"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for m, v in metrics.items():
        print(f"[kgbench] {args.workload} {m} = {v['value']:.6g} {v['unit']}")
    print(f"[kgbench] {args.workload} failed_frac = {info['failed_frac']:.6g} "
          f"({failed} of {res['attempted']})")
    print(f"[kgbench] nproc={cores} spark={info.get('spark_version')} "
          f"commit={info['git_commit']} seed={args.seed} load1 {load_before:.2f} -> "
          f"{load_after:.2f}" + (" LOAD EXCEEDED nproc+1" if info["load_exceeded_nproc"] else ""))
    return {"correct": correct, "attempted": res["attempted"], "failed": failed,
            "metrics": metrics}, info


def main():
    # a terminated runner unwinds like an interrupted one, so that the
    # JVM it started is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload once")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-golden", action="store_true",
                    help="record this run's graph as the golden of its workload")
    args = ap.parse_args()
    if not args.all and not args.workload:
        ap.error("give --workload or --all")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine sources (build.sbt, src/main/scala) are not next to kgbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed")
    e2e_units, layer_units = load_contract()
    args.src_hash = source_hash()
    cp = build(args.src_hash)
    if not args.all:
        out, _ = run_one(args, cp, e2e_units, layer_units)
        print(json.dumps(out))
        sys.exit(0 if out["correct"] else 1)
    rows, ok = [], True
    for w in WORKLOADS:
        args.workload = w
        out, info = run_one(args, cp, e2e_units, layer_units)
        ok &= out["correct"]
        rows.append((w, out, info))
    print()
    for w, out, info in rows:
        print(f"== {w}  correct={out['correct']}  failed_frac={info['failed_frac']:.4g}")
        for m, v in out["metrics"].items():
            print(f"   {m:48s} {v['value']:>14.6g} {v['unit']}")
    print(json.dumps({w: out for w, out, _ in rows}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
