#!/usr/bin/env python3
"""Task-mode benchmark: run one workload at one seed.

    python3 perfbench/run.py --workload catalog|migrate \
        --seed <n> --seconds <s> --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the benchmark's JVM harness from source (`perfbench/build.sbt`, which
compiles `src/main/scala` with the harness); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed
(`gen.py`) and cached per (workload shape, seed) under
`perfbench/.work/`.

A run with `--trace 0` measures set-up twice (a JVM that only builds
the session, then the measured one) and one cold pass of the
workload's mode calls in a fresh JVM, checks every call's output
(`check.py`), prints every end-to-end metric and, as its last line, the
JSON result. A run with `--trace 1` runs the same pass twice, untraced
then traced, and reports the per-layer metrics of the traced one and
the tracing overhead. See README.md in this directory.
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
import tomllib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
CONFIG = os.path.join(HERE, "config.toml")

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

# input shape per workload: base scale (fraction of sf0.1 row counts)
# and the number of key-offset copies
WORKLOADS = {
    "catalog": {"scale": 0.01, "copies": 1},
    "migrate": {"scale": 0.01, "copies": 4},
}
MODES = ["prepare", "assess", "reverse", "check", "full", "csv", "all",
         "compare", "compare_rows"]
MODULES = ["Assess", "Catalog", "Cdc", "Check", "Compare", "Ledger", "Migrate",
           "Pipeline", "Prepare", "Reverse", "Snapshot", "Tables", "TaskModes",
           "bench", "other"]
LAYER_KEYS = ["driver_s", "plan_s", "exec_s", "report_s", "jobs", "tasks",
              "task_run_s", "gc_s", "sched_wait_s", "shuffle_bytes", "spill_bytes"]
COUNT_KEYS = ["full.rows_landed", "full.chunks", "full.chunks_matched_ratio",
              "csv.rows_written", "csv.chunks", "compare.rows_compared",
              "compare.fix_rows", "compare.mismatched_chunks", "all.changes_in",
              "all.keys_applied"]
SETUP_SAMPLES = 2
# every JVM of a run must end within this many seconds of the build
RUN_DEADLINE_S = 165
deadline = None
# Spark on JDK 17 outside spark-submit needs these opens: the root
# build's jdk17AddOpens, as `sbt run` passes them to graft.Main
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_files():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile the engine and the harness unless the build is current.
    `build.sbt` takes the Spark jars from `$SPARK_HOME/jars`."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        die(f"no engine sources at {os.path.relpath(engine)}; run from the "
            "root of a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and \
            open(stamp).read() == h.hexdigest():
        return
    os.makedirs(WORK, exist_ok=True)
    spark_jars()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        die(f"build failed (sbt exit {rc}); see {os.path.relpath(log)}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        die("SPARK_HOME must name a Spark install with a jars/ directory")
    return jars


# ------------------------------------------------------------------ JVM

def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(args, run_dir, tag):
    """Run the harness in a fresh JVM. Returns (launch epoch s, result).
    The JVM is killed, and the run fails, at the run's deadline."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(run_dir, f"{tag}.json")
    cmd = [java] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
        "perfbench.TaskBench"] + args + ["--result", result]
    env = dict(os.environ)
    env["SPARK_MASTER"] = f"local[{cores()}]"
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["SPARK_GRAFT_STREAM_SCRATCH"] = tmp
    log = os.path.join(run_dir, f"{tag}.log")
    with open(log, "w") as out:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"{tag}: JVM still running {RUN_DEADLINE_S} s "
                               "after the build")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{tag}: JVM exit {rc}\n{tail}")
    with open(result) as fh:
        return t0, json.load(fh)


def measure(workload, data, run_dir, seconds, trace, tag):
    """One JVM running the workload's passes in its own work dir."""
    work = os.path.join(run_dir, tag)
    os.makedirs(work)
    return run_jvm(["--workload", workload, "--data", data, "--work", work,
                    "--config", CONFIG, "--seconds", str(seconds),
                    "--trace", str(trace)], run_dir, tag)


# ------------------------------------------------------------------ checks

def check_run(res, data, config, counts, traced=False):
    """Check every call. Returns {call: failure messages} for the
    failing calls, and the checker (its DuckDB holds the input)."""
    checker = check.Checker(data, config, res["oracles"])
    failures = {}
    for call in res["calls"]:
        fails, c = checker.check_call(call)
        if traced:
            # a span whose driver + exec time does not add up to its wall
            # is a tracing fault; 2 ms covers the two millisecond-clock
            # endpoints
            gap = abs(call["layers"]["driver_s"] + call["layers"]["exec_s"]
                      - call["wall_s"])
            if gap > 0.002:
                fails.append(f"driver_s + exec_s misses the wall by {gap * 1e3:.2f} ms")
        if fails:
            failures[f"p{call['pass']}/{call['idx']} {call['label']} "
                     f"{call['source']}->{call['target']}"] = fails
        if call["pass"] == 1:
            counts.update(c)
    return failures, checker


def first_pass(res):
    return [c for c in res["calls"] if c["pass"] == 1]


def rows_per_pass(workload, rows, checker):
    """Source rows one pass moves or compares."""
    if workload == "catalog":  # the assessed catalog
        return sum(rows.values())
    # full: orders; csv: every table; all: base + feed; compare and
    # compare_rows: the source and the drifted target, each
    drifted = checker.one(f"SELECT count(*) FROM {checker.oracles['drifted_orders']} t")
    return (rows["orders"] + sum(rows.values()) + rows["customer"] + rows["events"]
            + 2 * (rows["orders"] + drifted))


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    build()
    global deadline
    deadline = time.time() + RUN_DEADLINE_S
    with open(CONFIG, "rb") as fh:
        config = tomllib.load(fh)
    data = os.path.join(WORK, "inputs", f"{wl['scale']}x{wl['copies']}-s{a.seed}")
    t = time.time()
    rows = gen.generate(data, a.seed, wl["scale"], wl["copies"])
    gen.evict(os.path.join(WORK, "inputs"), keep=4)
    print(f"workload={a.workload} seed={a.seed} scale={wl['scale']} "
          f"copies={wl['copies']} rows={sum(rows.values())} "
          f"input_s={time.time() - t:.2f} master=local[{cores()}]")

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.trace:
            result = traced_run(a, data, run_dir, config)
        else:
            result = measured_run(a, data, run_dir, config, rows)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def report_calls(res):
    for c in res["calls"]:
        print(f"  pass {c['pass']} {c['label']:<13} {c['source']}->{c['target']:<7}"
              f" {c['wall_s']:9.4f} s" + (f"  FAILED: {c['error']}" if c.get("error") else ""))


def report_failures(failures):
    for call, fails in failures.items():
        for f in fails:
            print(f"CHECK FAILED {call}: {f}")


def measured_run(a, data, run_dir, config, rows):
    setup = []
    for i in range(SETUP_SAMPLES - 1):
        t0, r = run_jvm(["--setup-only", "1"], run_dir, f"setup{i}")
        setup.append(r["ready_ms"] / 1e3 - t0)
    t0, res = measure(a.workload, data, run_dir, a.seconds, 0, "run")
    setup.append(res["ready_ms"] / 1e3 - t0)
    failures, checker = check_run(res, data, config, {})
    calls = first_pass(res)
    wall = sum(c["wall_s"] for c in calls)
    metrics = {
        "setup_s": (statistics.median(setup), "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (rows_per_pass(a.workload, rows, checker) / wall, "1/s"),
    }
    print(f"setup samples (s): {' '.join(f'{x:.4f}' for x in setup)}")
    print(f"passes={res['passes']} measured_s={res['measured_s']:.3f} (pass 1 is measured)")
    report_calls(res)
    for m in dict.fromkeys(c["label"] for c in calls):
        print(f"  {m}_s {sum(c['wall_s'] for c in calls if c['label'] == m):.4f} s")
    # peak RSS is reported, not bounded: how far the JVM heap grows
    # before a collection depends on GC timing (43% spread across runs)
    print(f"peak_rss_mb={res['peak_rss_mb']:.1f} (diagnostic only)")
    print(f"probe cpu_shuffle_s={res['probes']['cpu_shuffle_s']:.4f} "
          f"fixed_cost_s={res['probes']['fixed_cost_s']:.4f} (diagnostic only)")
    for k, (v, u) in metrics.items():
        print(f"metric {k} = {v:.6g} {u}")
    report_failures(failures)
    return {"correct": not failures, "attempted": len(res["calls"]),
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def traced_run(a, data, run_dir, config):
    _, base = measure(a.workload, data, run_dir, a.seconds, 0, "untraced")
    base_failures, _ = check_run(base, data, config, {})
    shutil.rmtree(os.path.join(run_dir, "untraced"), ignore_errors=True)
    _, res = measure(a.workload, data, run_dir, a.seconds, 1, "traced")
    counts = {k: 0 for k in COUNT_KEYS}
    failures, _ = check_run(res, data, config, counts, traced=True)
    failures.update({f"untraced {k}": v for k, v in base_failures.items()})
    calls = first_pass(res)
    metrics = {}
    for m in MODES:
        mc = [c for c in calls if c["label"] == m]
        for k in LAYER_KEYS:
            unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
            metrics[f"{m}.{k}"] = (sum(c["layers"][k] for c in mc), unit)
    for mod in MODULES:
        metrics[f"site.{mod}.job_s"] = (
            sum(c["layers"]["job_s_by_module"].get(mod, 0.0) for c in calls), "s")
    for k in COUNT_KEYS:
        metrics[k] = (counts[k], "ratio" if k.endswith("ratio") else "count")
    metrics["task_failures"] = (sum(c["layers"]["task_failures"] for c in calls), "count")
    traced = sum(c["wall_s"] for c in calls)
    untraced = sum(c["wall_s"] for c in first_pass(base))
    metrics["trace_overhead"] = (traced / untraced, "ratio")
    report_calls(res)
    gap = max(abs(c["layers"]["driver_s"] + c["layers"]["exec_s"] - c["wall_s"])
              for c in res["calls"])
    print(f"untraced pass wall {untraced:.4f} s, traced {traced:.4f} s")
    print(f"accounting: max |driver_s + exec_s - wall_s| over spans = {gap * 1e3:.3f} ms")
    for k, (v, u) in metrics.items():
        print(f"metric {k} = {v:.6g} {u}")
    report_failures(failures)
    return {"correct": not failures,
            "attempted": len(res["calls"]) + len(base["calls"]),
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    main()
