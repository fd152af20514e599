#!/usr/bin/env python3
"""End-to-end benchmark of the gmall analytics engine.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while
the sources and the compiled classes are unchanged. Each run generates its inputs from the seed,
runs one workload in one JVM, checks every op's output, and prints one
JSON result as its last line of standard output. With --trace 0 the
result holds the end-to-end metrics, with --trace 1 the per-layer ones.

A run that crashes, or a checkout without the program's sources, exits
non-zero without printing a result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

sys.dont_write_bytecode = True
import oracle  # noqa: E402
from gen import generate  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("gmall_batch", "gmall_stream")
END_TO_END_UNITS = {
    "latency_ms_p50": "ms", "latency_ms_p90": "ms", "rows_per_s": "1/s",
    "ops_ok_share": "share", "heap_retained_mb": "MB", "setup_s": "s",
}
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# Seconds a run may take once the build is done; the first run of a
# checkout builds first, for up to BUILD_LIMIT_S.
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 700


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(1)


_children = []


def _stop_children(signum, _frame):
    for proc in _children:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    sys.exit(128 + signum)


def run_bounded(cmd, limit, **kw):
    """Runs `cmd` in its own process group and returns its exit code, or
    None after killing the whole group when it outlives `limit` seconds.
    The group also dies when this script is told to stop, so no process
    outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(proc)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        _children.remove(proc)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for path in sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True)):
            if os.path.isfile(path) and "/target/" not in path:
                files.append(path)
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classes_stamp(cp):
    """Name, size and modification time of every class file in the
    classpath's directories, so classes that another build wrote over
    since this one (the root build shares its output directory with the
    harness) are not reused."""
    h = hashlib.sha256()
    for entry in (e for e in cp.split(os.pathsep) if os.path.isdir(e)):
        for path in sorted(glob.glob(os.path.join(entry, "**", "*"), recursive=True)):
            if os.path.isfile(path):
                st = os.stat(path)
                h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The harness classpath, building the program and harness unless
    both the sources and the compiled classes are the ones of the last
    build."""
    cp_file = os.path.join(TARGET, "e2ebench-classpath.txt")
    stamp_file = os.path.join(TARGET, "e2ebench-stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(cp_file) as c:
            cp = c.read()
        with open(stamp_file) as f:
            if f.read() == stamp + classes_stamp(cp):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx3g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if code != 0 or not lines or "e2ebench" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp + classes_stamp(cp))
    return cp


def steal_seconds():
    """CPU time the hypervisor took from this machine so far."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def percentile(values, q, grid=100_000):
    """Harrell-Davis estimate of the q-quantile: a mean of all order
    statistics, weighted by how likely each is to be the q-quantile of
    the sample (a Beta((n+1)q, (n+1)(1-q)) distribution). The ops of a
    run are different queries, so their latencies form clusters; an
    estimate from the one or two order statistics nearest q jumps between
    clusters from run to run, this one does not."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    u = (np.arange(grid) + 0.5) / grid
    cdf = np.concatenate([[0.0], np.cumsum(np.exp((a - 1) * np.log(u) + (b - 1) * np.log1p(-u)))])
    cdf /= cdf[-1]
    weights = np.diff(cdf[np.rint(np.arange(n + 1) / n * grid).astype(int)])
    return float(weights @ xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to the benchmark in {ROOT}")
    cp = classpath()
    started = time.time()

    work = os.path.join(TARGET, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    inputs = generate(args.workload, args.seed, data)

    cmd = (["java", "-Xms3g", "-Xmx3g"] +
           [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "e2ebench.Main", "--workload", args.workload, "--data", data,
            "--out", os.path.join(work, "out"), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--seed", str(args.seed)])
    steal0 = steal_seconds()
    log = os.path.join(work, "jvm.log")
    limit = max(10.0, RUN_LIMIT_S - (time.time() - started))
    with open(log, "w") as out:
        code = run_bounded(cmd, limit, cwd=work, stdout=out, stderr=subprocess.STDOUT)
    if code is None:
        fail(f"workload {args.workload} did not finish within {limit:.0f} s, see {log}")
    steal = steal_seconds() - steal0
    if code != 0:
        with open(log) as f:
            crash = [l.strip() for l in f if l.startswith("e2ebench: op ")]
        fail(crash[-1] if crash else f"workload {args.workload} exited with "
             f"{code}, see {log}")

    with open(os.path.join(work, "out", "result.json")) as f:
        result = json.load(f)
    ops = result["ops"]
    failures = {}
    checked = time.time()
    if args.workload != "gmall_stream":
        failures = oracle.check(data, os.path.join(work, "out"))
    result["notes"]["oracle_s"] = round(time.time() - checked, 3)
    result["notes"]["wall_s"] = round(time.time() - started, 3)
    for op in ops:
        if op["failure"] is None and op["name"] in failures:
            op["failure"] = failures[op["name"]]
    failed = [op for op in ops if op["failure"] is not None]

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(result["layers"].items())}
        metrics["host.steal_s"] = {"value": round(steal, 3), "unit": layer_unit("host.steal_s")}
    else:
        latencies = [op["ms"] for op in ops]
        op_seconds = sum(latencies) / 1e3
        values = {
            "latency_ms_p50": percentile(latencies, 0.5),
            "latency_ms_p90": percentile(latencies, 0.9),
            "rows_per_s": sum(op["input_rows"] for op in ops) / op_seconds,
            "ops_ok_share": (len(ops) - len(failed)) / len(ops),
            "heap_retained_mb": result["heap_retained_mb"],
            "setup_s": result["setup_s"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}

    info = {"workload": args.workload, "seed": args.seed, "inputs": inputs,
            "run": result["notes"], "steal_s": round(steal, 3),
            "failures": sorted({f"{op['name']}: {op['failure']}" for op in failed})[:10]}
    print(json.dumps(info))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_ns_per_row"):
        return "ns"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_share"):
        return "share"
    if name.endswith("_s"):
        return "s"
    return "count"


if __name__ == "__main__":
    main()
