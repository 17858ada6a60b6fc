#!/usr/bin/env python3
"""The repository's benchmark: one workload, one fresh JVM, one JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program from
the checkout's sources with sbt into .bench_build/ and later runs reuse
it. Each run writes its inputs from the seed, runs the workload in a
fresh JVM on local[N] (N = the CPUs this process may use), checks every
output after the timed window, and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, measured with no
benchmark listener attached; with --trace 1 they are the per-layer ones,
and the run also leaves spans.jsonl for trace.py. See README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ["analytics", "iterative", "tables", "ingest"]
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
# Spark on JDK 17 outside spark-submit needs these (as the program's build.sbt sets them).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, cwd, timeout, log, env=None):
    """Runs cmd in its own process group; on timeout, or when this process
    is told to stop, the whole group is killed and waited for. Returns
    (exit code, stdout)."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err, env=env,
                             text=True, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)}
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)
    return p.returncode, out


def java_cmd(classpath, *args, tmp=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if tmp:
        props.append(f"-Djava.io.tmpdir={tmp}")
    return [java, "-Xmx3g", *opens, *props, "-cp", classpath, *args]


def source_stamp():
    h = hashlib.sha256()
    for top in ["src/main", "perfbench/src", "build.sbt", "perfbench/build.sbt",
                "project/build.properties", "perfbench/project/build.properties"]:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark; returns the catalog path
    (every named query with its module and oracle SQL)."""
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail(f"no program sources under {ROOT}/src; run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    catalog = os.path.join(BUILD, "catalog.json")
    current = source_stamp()
    if os.path.exists(stamp) and open(stamp).read() == current and os.path.exists(catalog):
        return catalog
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                          "compile", "export Runtime/fullClasspath"],
                         HERE, BUILD_TIMEOUT_S, os.path.join(BUILD, "build.log"), env)
    with open(os.path.join(BUILD, "build.log"), "a") as f:
        f.write(out)
    lines = [ln for ln in out.splitlines() if ln.strip() and not ln.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    code, _ = run_proc(java_cmd(lines[-1].strip(), "perfbench.Main", "catalog", catalog),
                       BUILD, 120, os.path.join(BUILD, "catalog.log"))
    if code != 0:
        fail(f"catalog failed; see {BUILD}/catalog.log")
    with open(stamp, "w") as f:
        f.write(current)
    return catalog


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def end_to_end(run, steps, failed, fresh, rows_added, queries):
    ok = [s for i, s in enumerate(steps) if i not in failed]
    wall = sum(s["seconds"] for s in ok)
    if queries:
        reads = [s["seconds"] for s in ok if s["kind"] == "query"]
    else:
        reads = [s["read_s"] for s in ok if s["kind"] == "load"]
    freshness = [b["fresh_s"] for s in ok if s["kind"] == "load" for b in s["blobs"] if b["blob"] in fresh]
    return {
        "setup_s": (run["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "query_p50_s": (statistics.median(reads), "s"),
        "freshness_p50_s": (statistics.median(freshness), "s"),
        "freshness_tail_s": (workloads.nearest_rank(freshness, workloads.TAIL_PERCENTILE), "s"),
        "ingest_rows_per_s": (rows_added / wall, "rows/s"),
    }


def per_layer(run, steps, spec):
    """Per-layer totals summed over the run's operations, the ratios taken
    over those totals, and the run's maxima."""
    total = {}
    for s in steps:
        for k, v in s["counts"].items():
            total[k] = total.get(k, 0.0) + v
    loads = [s for s in steps if s["kind"] == "load"]
    with_commits = [s for s in steps if s["counts"].get("tablelog.commits", 0) > 0]
    commits = sum(s["counts"]["tablelog.commits"] for s in with_commits)
    busy = total.get("spark.job_busy_s", 0.0)
    total.update(run["maxima"])
    total["exec.core_util"] = total.get("exec.run_s", 0.0) / (busy * run["cores"]) if busy else 0.0
    total["tablelog.jobs_per_commit"] = (
        sum(s["counts"]["spark.jobs"] for s in with_commits) / commits if commits else 0.0)
    total["etl.jobs_per_load"] = (
        sum(s["counts"].get("spark.jobs", 0.0) for s in loads) / len(loads) if loads else 0.0)
    return {m["name"]: (total.get(m["name"], 0.0), m["unit"]) for m in spec}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10,
                    help="nominal run length; a run does a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="append this run's result, with its workload and seed, to a JSON-lines file")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    catalog_path = build()
    with open(catalog_path) as f:
        catalog = json.load(f)
    classpath = open(os.path.join(BUILD, "classpath")).read()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        plan, queries, loads = workloads.write_plan(a.workload, a.seed, catalog, inputs)
    except LookupError as e:
        fail(str(e))

    n = cores()
    t0 = time.time()
    code, _ = run_proc(java_cmd(classpath, "perfbench.Main", "run", plan,
                                os.path.join(HERE, "data", "sf0.01"), run_dir, str(n), str(a.trace),
                                tmp=os.path.join(work, "tmp")),
                       work, JVM_TIMEOUT_S, os.path.join(run_dir, "jvm.log"))
    run_file = os.path.join(run_dir, "run.json")
    if code != 0 or not os.path.exists(run_file):
        fail(f"the workload's JVM {'timed out' if code is None else f'exited {code}'} "
             f"after {time.time() - t0:.0f}s; see {run_dir}/jvm.log")
    with open(run_file) as f:
        run = json.load(f)

    steps = [s for s in run["steps"] if s["kind"] != "land"]
    lands = [s for s in run["steps"] if s["kind"] == "land"]
    failed = {i for i, s in enumerate(steps) if not s["ok"]}
    ok_queries = [s["name"] for s in steps if s["kind"] == "query" and s["ok"]]
    bad, blind = checks.check_queries(os.path.join(run_dir, "results"), ok_queries, catalog)
    problems, failed_loads, fresh, rows_added, blind_loads = checks.check_ingest(run_dir, steps, loads)
    failed |= failed_loads
    problems = bad + problems + [f"check accepted a wrong result: {b}" for b in blind + blind_loads]
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    for i in sorted(failed):
        s = steps[i]
        print(f"perfbench: failed {s['kind']} {s['name']}: {s['error'] or 'malformed blob landed as a row'}",
              file=sys.stderr)

    if a.trace:
        metrics = per_layer(run, steps + lands, spec["per_layer"])
    else:
        # lands are steps of the timed window too; they never fail
        metrics = end_to_end(run, steps + lands, failed, fresh, rows_added, queries)
    result = {"correct": not problems, "attempted": len(steps), "failed": len(failed),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, **result}) + "\n")
    for d in (inputs, work, os.path.join(run_dir, "results")):
        shutil.rmtree(d, ignore_errors=True)
    for f in os.listdir(run_dir):
        if f.startswith("table_"):
            os.remove(os.path.join(run_dir, f))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
