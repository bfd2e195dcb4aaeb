#!/usr/bin/env python3
"""The repository benchmark: cold `Runner` catalog runs and the curation keys.

Run from the repository root:

    python3 perfbench/run.py --workload catalog_sf01 --seed 1 --seconds 10 --trace 0

It builds the engine and the harness (once per source state), generates the
workload's inputs from the seed (cached), runs the workload in fresh JVMs,
checks every output, and prints one JSON line as its last line of output.
With `--trace 0` it reports the end-to-end metrics, with `--trace 1` the
per-layer metrics of a traced pass. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("catalog_sf01", "wide_catalog", "curation_keys")
BUILD_DIR = ".bench_build"
JVM_HEAP = "3g"
PASS_TIMEOUT_S = 150
# cold set-ups per run: setup_s is their median
SETUPS = 3

def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/harness/build.sbt",
            "perfbench/harness/project", "perfbench/harness/src/main"]
    for top in tops:
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep) for f in fs)
        for f in paths:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, root).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles engine and harness with sbt; returns the java command line
    up to the main class: the harness's JVM flags (the engine's, see
    harness/build.sbt) and its runtime classpath."""
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    cp_file = os.path.join(root, BUILD_DIR, "classpath.json")
    stamp = source_stamp(root)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp and cached.get("java_options") and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return java_cmd(cached)
    log("perfbench: building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath", "print javaOptions"],
        cwd=os.path.join(root, "perfbench", "harness"), env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines()
             if "harness" in ln and "classes" in ln and os.pathsep in ln
             and not ln.startswith("[")]
    java_options = [ln[2:] for ln in proc.stdout.splitlines() if ln.startswith("* ")]
    if proc.returncode != 0 or not lines or not java_options:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cached = {"stamp": stamp, "classpath": lines[-1].strip(), "java_options": java_options}
    with open(cp_file, "w") as f:
        json.dump(cached, f)
    return java_cmd(cached)


def java_cmd(built):
    return ["java"] + built["java_options"] + ["-cp", built["classpath"]]


def inputs(root, workload, seed):
    """The workload's generated inputs for `seed`, generated on first use."""
    base = os.path.join(root, BUILD_DIR, "data", workload, f"seed{seed}")
    data = os.path.join(base, workload)
    if not os.path.isdir(data):
        tmp = base + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, os.path.join(tmp, workload))
        os.replace(tmp, base)
    return data


def run_pass(root, java, workload, data, cores, traced, tag):
    """One fresh JVM: session set-up, then the timed calls. Returns the
    harness's result with `setup_s` (CPU seconds from launch to a ready
    session) and `setup_wall_s` added."""
    out = os.path.join(root, BUILD_DIR, "runs", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    result_path = os.path.join(out, "result.json")
    cmd = ([java[0], f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp"]
           + java[1:] + ["perfbench.Main", workload, data, out, result_path, str(cores),
                         "1" if traced else "0"])
    launched = time.time()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=PASS_TIMEOUT_S)
    if not os.path.exists(result_path):
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"harness exited with {proc.returncode} and no result")
    with open(result_path) as f:
        result = json.load(f)
    result["setup_s"] = result["ready_cpu_s"]
    result["setup_wall_s"] = result["ready_epoch_s"] - launched
    result["exit_code"] = proc.returncode
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    result["out_dir"] = out
    return result


def check_pass(result, data):
    outcomes = (check.check_runner(result, data)
                + check.check_keys(result, data, os.path.join(os.path.dirname(data), "oracle")))
    if result["exit_code"] != 0 or "wall_s" not in result:
        outcomes.append(("harness", f"harness exited with {result['exit_code']}"))
    if not outcomes:
        outcomes.append(("harness", "the pass ran no table and no key"))
    for op, err in outcomes:
        if err:
            log(f"perfbench: FAILED {op}: {err}")
    return len(outcomes), sum(1 for _, err in outcomes if err)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise SystemExit("perfbench: run from the repository root (no build.sbt/src here)")
    java = build(root)
    data = inputs(root, args.workload, args.seed)
    cores = len(os.sched_getaffinity(0))

    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    passes, attempted, failed = [], 0, 0

    def one_pass(traced):
        nonlocal attempted, failed
        r = run_pass(root, java, args.workload, data, cores, traced,
                     f"{tag}-{len(passes)}")
        n, bad = check_pass(r, data)
        shutil.rmtree(r["out_dir"], ignore_errors=True)
        attempted += n
        failed += bad
        passes.append(r)

    setups = []  # every JVM of the run: set-up-only ones and passes

    def setup_only():
        r = run_pass(root, java, "setup", data, cores, False, f"{tag}-setup{len(setups)}")
        shutil.rmtree(r["out_dir"], ignore_errors=True)
        setups.append(r)

    # set-up-only JVMs before and after the passes, so that setup_s samples
    # the whole run
    setup_only()
    if args.trace:
        # an untraced and a traced pass: their difference is the overhead
        one_pass(False)
        one_pass(True)
    else:
        # fresh JVMs until the timed calls have run for --seconds: every
        # pass pays JVM start, session set-up, codegen and JIT cold
        while not passes or sum(p["wall_s"] for p in passes) < args.seconds:
            one_pass(False)
    setups += passes
    while len(setups) < SETUPS:
        setup_only()

    def median(key, results):
        return statistics.median(r[key] for r in results)

    untraced = [p for p in passes if "per_layer" not in p]
    # the gated metrics are CPU seconds: on a shared host, other tenants'
    # load moves wall times by more than any allowed bound (README.md)
    gated = {"cpu_s": median("cpu_s", untraced), "setup_s": median("setup_s", setups)}
    print(f"perfbench {args.workload} seed={args.seed} passes={len(passes)} "
          f"attempted={attempted} failed={failed} failed_frac={failed / attempted:.4f} "
          f"wall_s={median('wall_s', untraced):.4f}s "
          f"setup_wall_s={median('setup_wall_s', setups):.4f}s "
          + " ".join(f"{m}={v:.4f}s" for m, v in gated.items())
          + f" peak_rss_mb={median('peak_rss_mb', untraced):.1f}")

    if args.trace:
        layer = dict(passes[1]["per_layer"])
        layer["trace.overhead_s"] = passes[1]["wall_s"] - passes[0]["wall_s"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
    else:
        metrics = {m: {"value": v, "unit": "s"} for m, v in gated.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("core_util", "_frac", "concurrency")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
