#!/usr/bin/env python3
"""Benchmark of oc_metaspark's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from the checkout's sources, makes the workload's inputs
from the seed, runs the workload in one JVM at local[nproc], checks the
outputs, and prints a report line followed by the result line (the last
line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones. Workloads, metrics and the layer table are
described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
HEAP = "3g"
# A run must end within this many seconds; the JVM is stopped before.
RUN_LIMIT_S = 170
# The build may take this long on the first run of a checkout.
BUILD_LIMIT_S = 800

WORKLOADS = {
    # store of n_store records, enrichment batches of n_batch records
    "metaprocess_queue": {"kind": "queue", "full": (2000, 250, 6),
                          "smoke": (300, 60, 2)},
    # query tables at this scale factor
    "query_suite": {"kind": "suite", "full": 0.01, "smoke": 0.001},
}

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "bulk_s": "s",
             "op_s_p50": "s", "op_s_p80": "s", "op_s_mean": "s"}

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# build.sbt passes to forked runs.
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars() -> str:
    """The jar directory the sbt build compiles against (its unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        die("build.sbt not found: run from a checkout of the repository")
    with open(sbt, encoding="utf-8") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
        die("build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def build(jars: str) -> str:
    """Compiles src/main/scala and the harness with the Scala compiler that
    ships with Spark; reuses the classes while no source changed."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        die("src/main/scala holds no sources: nothing to benchmark")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    jar_list = sorted(glob.glob(os.path.join(jars, "*.jar")))
    h = hashlib.sha256()
    for f in srcs + jar_list:
        h.update(os.path.relpath(f, ROOT).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w", encoding="utf-8") as fh:
        fh.write("\n".join(["-nowarn", "-d", out, "-classpath",
                            ":".join(jar_list)] + srcs))
    compiler = ":".join(p for p in jar_list if re.match(
        r"scala-(compiler|library|reflect)-[\d.]+\.jar$", os.path.basename(p)))
    log = os.path.join(BUILD_DIR, "scalac.log")
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", f"-Djava.io.tmpdir={BUILD_DIR}",
             "-cp", compiler, "scala.tools.nsc.Main", f"@{argfile}"],
            stdout=lf, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S).returncode
    if rc != 0:
        with open(log, encoding="utf-8", errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"build failed (exit {rc})")
    open(os.path.join(out, ".complete"), "w").close()
    return out


def cpu_jiffies():
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def cpu_mhz() -> float:
    try:
        with open("/proc/cpuinfo") as fh:
            mhz = [float(l.split(":")[1]) for l in fh if l.startswith("cpu MHz")]
        return round(sum(mhz) / len(mhz), 1) if mhz else -1.0
    except OSError:
        return -1.0


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def setup(kind: str, size, seed: int, work: str):
    """Makes the inputs three times and keeps the last copy; returns the
    median time of one set-up and the input description."""
    times, desc = [], None
    for i in range(3):
        d = os.path.join(work, f"inputs{i}")
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        if kind == "queue":
            n_store, n_batch, n_batches = size
            desc = gen.queue_inputs(d, seed, n_store, n_batch, n_batches)
            resubmit = os.path.join(d, "q9999_resubmit.csv")
            shutil.copyfile(desc["batches"][0], resubmit)
            desc["resubmit"] = resubmit
        else:
            gen.query_tables(d, seed, size)
            desc = {"tables": d}
        times.append(time.perf_counter() - t0)
        if i < 2:
            shutil.rmtree(d)
    return statistics.median(times), desc


def p80(xs):
    """Nearest-rank 80th percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.8 * len(s)) - 1)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    started = time.monotonic()
    spec = WORKLOADS[a.workload]
    kind, size = spec["kind"], spec[a.scale]
    threads = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, kind, size, threads, work, jars, classes, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, kind, size, threads, work, jars, classes, started) -> int:
    load0, (steal0, tot0) = os.getloadavg()[0], cpu_jiffies()
    setup_gen_s, desc = setup(kind, size, a.seed, work)
    out = os.path.join(work, "result.json")
    args = [f"workload={kind}", f"seconds={a.seconds}", f"trace={a.trace}",
            f"threads={threads}", f"work={work}", f"out={out}",
            f"src={os.path.join(ROOT, 'src/main/scala')}", f"seed={a.seed}"]
    if kind == "queue":
        args += [f"fresh={desc['fresh']}", f"batches={','.join(desc['batches'])}",
                 f"resubmit={desc['resubmit']}"]
    else:
        dump = os.path.join(work, "dump")
        os.makedirs(dump)
        args += [f"tables={desc['tables']}", f"dump={dump}"]
    # a traced run attributes jobs by call site, which must reach the caller
    depth = ["-Dspark.callstack.depth=200"] if a.trace else []
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp", *depth,
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Harness", *args]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if not os.path.isfile(out):
        with open(log, encoding="utf-8", errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"harness wrote no result (exit {proc.returncode})")
    with open(out, encoding="utf-8") as fh:
        res = json.load(fh)
    load1, (steal1, tot1) = os.getloadavg()[0], cpu_jiffies()

    failures = list(res.get("errors", [])) + list(res.get("check_failures", []))
    report = {}
    if kind == "queue":
        ups = res.get("updates", [])
        fresh = res.get("fresh", {})
        ops = [u["s"] for u in ups if u["ok"]]
        bulk = fresh.get("s", 0.0)
        attempted = 1 + len(ups) + res.get("push", {}).get("posts", 0)
        failed = (0 if fresh.get("ok") else 1) + sum(not u["ok"] for u in ups) \
            + res.get("push", {}).get("barrier_violations", 0)
        report.update({
            "fresh_rec_per_s": {"value": size[0] / bulk if bulk else 0.0,
                                "unit": "rec/s", "n_records": size[0]},
            "update_batch_s_p50": {"value": statistics.median(ops) if ops else 0.0,
                                   "unit": "s", "n": len(ops)},
            "checks": res.get("checks"), "push": res.get("push")})
    else:
        qs = res.get("queries", [])
        pipe = res.get("pipeline", [])
        ops = [q["s"] for q in qs if q["ok"]]
        bulk = statistics.median([p["s"] for p in pipe]) if pipe else 0.0
        attempted = len(qs) + len(pipe)
        failed = sum(not q["ok"] for q in qs) + sum(not p["ok"] for p in pipe)
        if os.path.isfile(os.path.join(work, "dump", "oracle_sql.json")):
            t0 = time.perf_counter()
            failures += oracle.compare(desc["tables"], os.path.join(work, "dump"),
                                       os.path.join(work, "tmp"))
            report["oracle_check_s"] = time.perf_counter() - t0
        else:
            failures.append("no oracle dump")
        passes = max(res.get("passes", 1), 1)
        report.update({
            "suite_s": {"value": sum(ops) / passes, "unit": "s",
                        "n_queries": res.get("n_queries"), "passes": passes},
            "query_s_p50": {"value": statistics.median(ops) if ops else 0.0,
                            "unit": "s", "n": len(ops)},
            "query_s_p80": {"value": p80(ops) if ops else 0.0, "unit": "s",
                            "n": len(ops)},
            "pipeline_s": {"value": bulk, "unit": "s", "n": len(pipe)},
            "n_oracle_checked": res.get("n_oracle")})
    e2e = {
        "setup_s": setup_gen_s + res.get("setup_jvm_s", 0.0),
        "peak_rss_mb": res.get("peak_rss_mb", -1.0),
        "bulk_s": bulk,
        "op_s_p50": statistics.median(ops) if ops else 0.0,
        "op_s_p80": p80(ops) if ops else 0.0,
        "op_s_mean": statistics.mean(ops) if ops else 0.0,
    }
    report.update({k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()})
    report["ops_failed_frac"] = {"value": failed / max(attempted, 1), "unit": "ratio"}
    report["timed_s"] = {"value": res.get("timed_s"), "unit": "s"}
    report["jvm_check_s"] = res.get("check_s")
    report["run_s"] = time.monotonic() - started
    report["failures"] = failures
    report["env"] = {
        "nproc": threads, "local_threads": threads, "xmx": HEAP,
        "load_avg_start": load0, "load_avg_end": load1,
        "steal_frac": (steal1 - steal0) / (tot1 - tot0) if tot1 > tot0 else 0.0,
        "cpu_mhz": cpu_mhz(), "git_commit": git_commit(),
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "scale": a.scale}
    print(json.dumps({"report": report}))
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)

    if a.trace:
        metrics = {k: {"value": float(v), "unit": layer_unit(k)}
                   for k, v in res.get("layers", {}).items()}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
