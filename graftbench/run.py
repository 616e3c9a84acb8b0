#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload recsys --seed 1 --seconds 15 --trace 0

Builds graft and the harness from source (once per source state), derives
the seeded lake, runs the harness JVM (set-up, a warm-up pass whose
results are kept, then the workload's pattern of rebuild and warm
passes), checks every key's warm-up result against the DuckDB oracle,
and prints a detail line and, last, one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.

Everything it writes goes under .graftbench/ at the checkout root.
See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".graftbench")
sys.path.insert(0, BENCH)
if not os.path.isfile(os.path.join(ROOT, "tools", "compare.py")):
    sys.exit(f"graftbench: graft's sources (src/, tools/compare.py) not found under {ROOT}")

import lake  # noqa: E402
import oracle  # noqa: E402

# Keys, and the measured passes' pattern (R = drop every artifact, then a
# rebuild pass; W = a warm pass), run once and then repeated until
# --seconds have been measured.
WORKLOADS = {
    "recsys": (["r05_user_recs", "r06_als_recommend", "r17_ndcg", "r26_user_knn"], "RWWW"),
    "pipeline": (["p01_curation_funnel", "i27_dynamic_overwrite", "e06_stream_tumbling"],
                 "RWRW"),
}
LAKE_SF = "sf0.01"      # the lake's source data
HEAP = "3g"             # -Xms = -Xmx
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def data_dir():
    return os.environ.get("GRAFTBENCH_DATA", os.path.expanduser("~/testdata"))


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + harness with sbt unless the sources are unchanged
    since the last build; return the harness classpath."""
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                       os.path.join(BENCH, "build.sbt"),
                       os.path.join(BENCH, "project", "build.properties")])
    stamp_file = os.path.join(WORK, "build.stamp")
    cp = classes + os.pathsep + os.path.join(spark_home(), "jars", "*")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return cp
    if not shutil.which("sbt"):
        fail("sbt not found")
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile"],
                           cwd=BENCH, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {code}); log: {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_process(cmd, cwd, env, stdout, timeout, on_file=None):
    """Run in its own process group and wait for it to end; on timeout
    kill the group. `on_file` = (path, action): run the action once, here,
    as soon as the path exists while the process runs."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    deadline = time.monotonic() + timeout
    try:
        while p.poll() is None and time.monotonic() < deadline:
            if on_file and os.path.exists(on_file[0]):
                on_file[1]()
                on_file = None
            time.sleep(0.05)
        return p.returncode if p.poll() is not None else -signal.SIGKILL
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def ensure_lake(sf, seed):
    """The seeded lake derived from <data>/<sf>, generated once per
    (source, seed, generator version) and cached."""
    src = os.path.join(data_dir(), sf)
    if not os.path.isdir(src):
        fail(f"source data {src} not found (set GRAFTBENCH_DATA)")
    gen = tree_hash([os.path.join(BENCH, "lake.py")])[:10]
    out = os.path.join(WORK, "lakes", f"{sf}-seed{seed}-{gen}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        lake.generate(src, out, seed)
    return out


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f[:8])
    except OSError:
        return None


def cpu_pressure_us():
    """Total microseconds some task waited for a CPU (Linux PSI), or None."""
    try:
        with open("/proc/pressure/cpu") as fh:
            return int(fh.readline().split("total=")[1])
    except (OSError, IndexError, ValueError):
        return None


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def slots():
    """Task slots: all CPUs but two, which JIT, GC, the listener bus and
    the driver thread use (with one spare, run-to-run spread doubled)."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 3
    return max(1, n - 2)


def run_harness(cp, keys, pattern, main_lake, seconds, trace, run_dir):
    """Run the harness JVM. While its warm-up pass runs, evaluate the
    oracle for the keys it names, then release it into the measured
    passes. Returns (harness output, oracle summaries, out dir)."""
    box = os.path.join(run_dir, "box")
    out = os.path.join(run_dir, "out")
    os.makedirs(box)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in JDK_OPENS:
        cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={box}", "-cp", cp, "graftbench.Harness",
            f"lake={main_lake}", f"tables={','.join(lake.TABLES)}",
            f"keys={','.join(keys)}", f"pattern={pattern}",
            f"seconds={seconds}", f"slots={slots()}",
            f"trace={1 if trace else 0}", f"out={out}"]
    log = os.path.join(run_dir, "jvm.log")
    wants = {}

    def evaluate_oracle():
        try:
            with open(os.path.join(out, "oracle.json")) as fh:
                sqls = json.load(fh)
            for k in keys:
                t = time.monotonic()
                wants[k] = oracle.expected(main_lake, sqls.get(k),
                                           os.path.join(WORK, "oracle"))
                wants[k]["oracle_s"] = time.monotonic() - t
        finally:
            with open(os.path.join(out, "oracle.done"), "w"):
                pass

    with open(log, "w") as fh:
        code = run_process(cmd, cwd=box, env=dict(os.environ), stdout=fh,
                           timeout=JVM_TIMEOUT_S,
                           on_file=(os.path.join(out, "oracle.json"), evaluate_oracle))
    result = os.path.join(out, "harness.json")
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"harness exited with {code}; log: {log}")
    with open(result) as fh:
        h = json.load(fh)
    h["leak_mb"] = dir_bytes(box) / 1e6
    return h, wants, out


def end_to_end(h):
    passes = h["passes"]

    def walls(kind):
        return [p["wall_s"] for p in passes if p["kind"] == kind]
    return {
        "setup_s": h["setup_s"],
        "warm_s": statistics.median(walls("warm")),
        "rebuild_s": statistics.median(walls("rebuild")),
        "heap_peak_mb": h["heap_live_mb"],
    }


def metric_block(values, units):
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def units(section):
    """Metric name -> unit for a BENCHMARK.json section."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"graft sources not found under {ROOT}/src")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    keys, pattern = WORKLOADS[a.workload]
    main_lake = ensure_lake(LAKE_SF, a.seed)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cpu0, psi0, t0 = cpu_times(), cpu_pressure_us(), time.monotonic()
    h, wants, out = run_harness(cp, keys, pattern, main_lake, a.seconds, a.trace, run_dir)
    cpu1, psi1, wall = cpu_times(), cpu_pressure_us(), time.monotonic() - t0
    steal_pct = pressure_pct = 0.0
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        steal_pct = 100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    if psi0 is not None and psi1 is not None:
        pressure_pct = 100.0 * (psi1 - psi0) / 1e6 / wall

    # Correctness: every key's warm-up result against the oracle on the same lake.
    warmup = next(p for p in h["passes"] if p["kind"] == "warmup")
    mismatches = []
    for k in keys:
        if any(e["key"] == k for e in warmup["errors"]):
            continue
        why = oracle.compare(wants.get(k, {"error": "oracle not evaluated"}),
                             os.path.join(out, "results", k))
        if why:
            mismatches.append({"key": k, "mismatch": why})
    # Every key execution of every pass, the checked warm-up's included.
    attempted = sum(len(p["key_s"]) for p in h["passes"])
    failed = sum(len(p["errors"]) for p in h["passes"]) + len(mismatches)

    trace_file = None
    if a.trace:
        trace_file = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        shutil.copyfile(os.path.join(out, "trace.json"), trace_file)
    shutil.rmtree(run_dir, ignore_errors=True)

    calib = h["calib_ms"]
    host = {"host.calib_ms": statistics.mean(calib), "host.steal_pct": steal_pct,
            "host.cpu_pressure_pct": pressure_pct, "io.tmp_leak_mb": h["leak_mb"]}
    kinds = [p["kind"] for p in h["passes"]]
    detail = {
        "workload": a.workload, "seed": a.seed, "slots": h["slots"], "keys": keys,
        "lake": os.path.relpath(main_lake, ROOT),
        "pattern": pattern, "samples": {"setup": 1, "rebuild": kinds.count("rebuild"),
                    "warm": kinds.count("warm")},
        "measured_s": h["measured_s"], "phases_s": h["phases_s"],
        "calib_ms_start_end": calib, **host,
        "fail_ratio": failed / attempted,
        "passes": [{"kind": p["kind"], "wall_s": p["wall_s"], "cpu_s": p["cpu_s"],
                    "steal_pct": p["steal_pct"], "memo_builds": len(p["builds"]),
                    "key_s": p["key_s"]} for p in h["passes"]],
        "errors": [dict(e, **{"pass": p["kind"]}) for p in h["passes"] for e in p["errors"]],
        "mismatches": mismatches,
        "oracle_s": {k: w["oracle_s"] for k, w in wants.items()},
        "end_to_end": end_to_end(h),
        "trace_file": trace_file and os.path.relpath(trace_file, ROOT),
    }
    print(json.dumps(detail))
    if a.trace:
        values, wanted = dict(h["layers"], **host), units("per_layer")
    else:
        values, wanted = end_to_end(h), units("end_to_end")
    missing = [k for k in wanted if k not in values]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    metrics = metric_block(values, wanted)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
