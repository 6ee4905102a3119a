#!/usr/bin/env python3
"""Benchmark of the graft engine: registry entries on local[nproc] at sf0.1.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the program and the driver from
source with sbt (once per source state), writes the seeded fixture, then
starts the driver JVM (perfbench/src/main/scala/perfbench/Driver.scala),
which sets up a session, stages cold, writes every entry's output once for
the oracle check and then times closed-loop passes over the workload's
pinned entries (workloads.json), as many as fill --seconds on a 4-core
host. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 1
the run attaches Spark's listeners, reports per-layer metrics instead of
end-to-end ones and writes a per-entry trace to .bench_build/traces/.

Everything the benchmark writes stays under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import fixture  # noqa: E402
from oracle import Oracle  # noqa: E402

SF = 0.1
SETUPS = 7            # session set-ups per run; setup_s is their median
ENTRY_TIMEOUT_S = 60
JVM_TIMEOUT_S = 150
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    """A failure of the harness itself: no result line is printed."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return workloads, bench


# ---------------------------------------------------------------- build

def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compile the program and the driver; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise BenchError("program sources (build.sbt, src/main) not found next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and driver with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=800)
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = f.read().splitlines()
    if r.returncode != 0:
        raise BenchError("sbt build failed:\n" + "\n".join(lines[-20:]))
    cp = next((l for l in reversed(lines) if "classes" in l and not l.startswith("[")), None)
    if cp is None:
        raise BenchError("sbt did not print the runtime classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- plan

def pass_orders(entries, seed, n):
    """The entry order of each timed pass: a seeded permutation per pass."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n):
        order = list(entries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def write_plan(path, spec, fixture_dir, check_dir, seed, seconds, trace, cpus):
    """The driver's plan. The number of timed passes is fixed by --seconds
    and the workload's nominal pass time on the reference host, not by the
    measured speed, so a run's work is the same on every run and version."""
    n_pass = max(1, math.ceil(seconds / spec["pass_s"]))
    lines = [f"fixture {fixture_dir}", f"cpus {cpus}",
             f"trace {1 if trace else 0}", f"entry_timeout {ENTRY_TIMEOUT_S}",
             f"setups {SETUPS}",
             f"warm {','.join(spec['warm'])}", f"replay_events {spec.get('replay_events', 0)}",
             f"warmup_passes {spec.get('warmup_passes', 0)}",
             f"entries {','.join(spec['entries'])}",
             f"check_dir {check_dir}"]
    lines += [f"pass {','.join(o)}" for o in pass_orders(spec["entries"], seed, n_pass)]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def java_cmd(cp, plan, out, run_dir):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Driver", plan, out])


def run_jvm(cp, plan, run_dir, log_path):
    """Run the driver JVM; returns (its result, wall time from launch to the
    end of the first set-up)."""
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    env.pop("SPARK_GRAFT_QUERIES", None)
    with open(log_path, "a") as lf:
        t0 = time.time()
        proc = subprocess.Popen(java_cmd(cp, plan, out, run_dir), cwd=run_dir, env=env,
                                stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"driver JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read().splitlines()[-15:]
        raise BenchError(f"driver JVM exited with {rc}:\n" + "\n".join(tail))
    with open(out) as f:
        res = json.load(f)
    return res, res["setup_end_ms"] / 1e3 - t0


# ---------------------------------------------------------------- metrics

def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile, or None unless at least `min_beyond`
    samples lie above it (the rule for reporting a high percentile)."""
    xs = sorted(values)
    if not xs:
        return None
    k = max(1, math.ceil(p / 100 * len(xs)))
    if len(xs) - k < min_beyond:
        return None
    return xs[k - 1]


def samples(result):
    return [s for p in result["passes"] for s in p["entries"]]


def end_to_end(result, setup_times):
    per_entry = {}
    for s in samples(result):
        if s["error"] is None:
            per_entry.setdefault(s["name"], []).append(s["build_s"] + s["run_s"])
    ok = [statistics.median(v) for v in per_entry.values()]
    return {
        "setup_s": statistics.median(setup_times),
        "staging_s": sum(s["wall_s"] for s in result["staging"]),
        "suite_s": statistics.median(p["wall_s"] for p in result["passes"]),
        "entry_p50_s": statistics.median(ok) if ok else 0.0,  # the run is then not correct
        "cpu_s": statistics.median(p["cpu_s"] for p in result["passes"]),
        "peak_rss_mb": result["peak_rss_kb"] / 1024,
    }


BATCH_PARTS = {"batch.trigger_ms": "triggerExecution", "batch.add_ms": "addBatch",
               "batch.planning_ms": "queryPlanning", "batch.wal_ms": "walCommit",
               "batch.commit_ms": "commitOffsets"}
ENTRY_LAYERS = ["build.jobs", "run.jobs", "sched.stages", "sched.tasks", "sched.delay_s",
                "driver_only_s", "sched.task_run_s", "sched.task_cpu_s", "shuffle.read_bytes",
                "shuffle.write_bytes", "shuffle.fetch_wait_s", "spill.bytes",
                "plan.exchanges", "plan.broadcasts", "plan.smj", "tables.bytes_read",
                "tables.records_read", "write.bytes"]


def drain_layers(s):
    """Micro-batch census of one traced entry sample."""
    bs = s["layers"]["batches"]
    m = {k: 0.0 for k in ["drain.batches", "drain.empty_batches", "drain.input_rows",
                          "drain.pre_batch_s", "drain.serve_s", "state.rows",
                          "state.memory_bytes", "state.commit_ms", "state.dropped_late",
                          *BATCH_PARTS]}
    if not bs:
        return m
    m["drain.batches"] = len(bs)
    m["drain.empty_batches"] = sum(1 for b in bs if b["rows"] == 0)
    m["drain.input_rows"] = sum(b["rows"] for b in bs)
    for k, part in BATCH_PARTS.items():
        m[k] = sum(b["duration_ms"].get(part, 0) for b in bs)
    first = min(b["start_ms"] for b in bs)
    last_end = max(b["start_ms"] + b["duration_ms"].get("triggerExecution", 0) for b in bs)
    m["drain.pre_batch_s"] = max(0.0, (first - s["start_ms"]) / 1e3)
    m["drain.serve_s"] = max(0.0, (s["end_ms"] - last_end) / 1e3)
    by_query = {}
    for b in sorted(bs, key=lambda b: b["batch_id"]):
        by_query.setdefault(b["query"], []).append(b)
    m["state.rows"] = sum(q[-1]["state_rows"] for q in by_query.values())
    m["state.memory_bytes"] = sum(max(b["state_memory_bytes"] for b in q)
                                  for q in by_query.values())
    m["state.commit_ms"] = sum(b["state_commit_ms"] for b in bs)
    m["state.dropped_late"] = sum(b["dropped_late"] for b in bs)
    return m


def per_layer(result, warn_lines):
    """Workload totals per pass, from a traced run."""
    n = len(result["passes"])
    tot = {}

    def add(k, v):
        tot[k] = tot.get(k, 0.0) + v
    for s in samples(result):
        add("build.s", s["build_s"])
        add("run.s", s["run_s"])
        add("gc.s", s["gc_s"])
        for k in ENTRY_LAYERS:
            add(k, s["layers"].get(k, 0.0))
        for k, v in drain_layers(s).items():
            add(k, v)
    m = {k: v / n for k, v in tot.items()}
    m["staging.jobs"] = sum(s["layers"].get("staging.jobs", 0.0) for s in result["staging"])
    m["staging.bytes_written"] = sum(s["layers"].get("write.bytes", 0.0)
                                     for s in result["staging"])
    m["log.warn_lines"] = warn_lines
    return m


def warn_lines_first_pass(log_path):
    """WARN lines the main JVM logged from launch to the end of the first
    timed pass."""
    n = 0
    with open(log_path, errors="replace") as f:
        for line in f:
            if "[perfbench] first pass done" in line:
                break
            if " WARN " in line:
                n += 1
    return n


# ---------------------------------------------------------------- run

def run(workload, seed, seconds, trace):
    workloads, bench = load_spec()
    if workload not in workloads or workload not in {w["name"] for w in bench["workloads"]}:
        raise BenchError(f"unknown workload {workload!r}; known: "
                         f"{sorted(w['name'] for w in bench['workloads'])}")
    return execute(workload, workloads[workload], bench, seed, seconds, trace)


def execute(workload, spec, bench, seed, seconds, trace, sf=SF):
    """One run of `spec` (warm tables and pinned entries) on the fixture of
    `seed` at scale `sf`; returns the result object run.py prints."""
    cp = build()
    fx_dir = fixture.ensure(os.path.join(BUILD, "fixtures", f"sf{sf}-seed{seed}"), seed, sf)
    prune(os.path.join(BUILD, "fixtures"), keep=4)
    run_dir = os.path.join(BUILD, "runs", f"{workload}-seed{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = os.cpu_count() or 1
    try:
        plan = os.path.join(run_dir, "plan.txt")
        check_dir = os.path.join(run_dir, "check")
        write_plan(plan, spec, fx_dir, check_dir, seed, seconds, trace, cpus)
        log_path = os.path.join(BUILD, "logs", f"{workload}-seed{seed}-trace{int(trace)}.log")
        os.makedirs(os.path.dirname(log_path), exist_ok=True)
        open(log_path, "w").close()
        result, t_setup = run_jvm(cp, plan, run_dir, log_path)
        setup_times = [t_setup] + result["setup_again_s"]
        result["setup_s"] = setup_times
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{int(trace)}.json"),
                  "w") as f:
            json.dump(result, f)

        # output check against the oracle, on the check pass's results
        with open(os.path.join(HERE, "fixture.py"), "rb") as f:
            fx_key = f"sf{sf}-seed{seed}-{hashlib.sha256(f.read()).hexdigest()[:16]}"
        oracle = Oracle(fx_dir, fx_key, os.path.join(BUILD, "oracle"))
        mismatches = []
        for c in result["check"]:
            err = c["error"]
            if err is None and c["oracle_sql"] is not None:
                err = oracle.check(os.path.join(check_dir, c["name"]), c["oracle_sql"])
            if err is not None:
                mismatches.append((c["name"], err))
                log(f"FAILED check {c['name']}: {err}")
        timed = samples(result)
        failed_timed = [s for s in timed if s["error"] is not None]
        for s in failed_timed:
            log(f"FAILED {s['name']}: {s['error']}")
        attempted = len(timed) + len(result["check"])
        failed = len(failed_timed) + len(mismatches)
        ok = [s["build_s"] + s["run_s"] for s in timed if s["error"] is None]
        p90 = percentile(ok, 90)
        log(f"{workload} seed {seed}: set-ups " + ", ".join(f"{t:.2f}" for t in setup_times)
            + f" s; {len(result['passes'])} passes, {len(timed)} entry "
            f"samples, failed {failed}/{attempted} ({failed / attempted:.3f}); entry p90 "
            + (f"{p90:.4f} s" if p90 is not None else "not reported: fewer than 10 samples "
               "lie beyond it"))
        if trace:
            metrics = per_layer(result, warn_lines_first_pass(log_path))
            metrics["setup.cold_s"] = setup_times[0]
            specs = bench["per_layer"]
            suite = statistics.median(p["wall_s"] for p in result["passes"])
            write_trace(workload, seed, result, metrics, suite)
        else:
            metrics = end_to_end(result, setup_times)
            specs = bench["end_to_end"]
            record_history(workload, seed, metrics)
        return {"correct": failed == 0,
                "attempted": attempted, "failed": failed,
                "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                            for m in specs}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def prune(parent, keep):
    """Delete all but the `keep` most recently used entries of `parent`."""
    paths = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                   key=os.path.getmtime, reverse=True)
    for p in paths[keep:]:
        shutil.rmtree(p, ignore_errors=True)


def record_history(workload, seed, metrics):
    os.makedirs(os.path.join(BUILD, "history"), exist_ok=True)
    with open(os.path.join(BUILD, "history", f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps({"seed": seed, **metrics}) + "\n")


def untraced_suite(workload):
    path = os.path.join(BUILD, "history", f"{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l)["suite_s"] for l in f if l.strip()]


def write_trace(workload, seed, result, metrics, suite):
    base = untraced_suite(workload)
    overhead = {"traced_suite_s": suite, "untraced_runs": len(base),
                "untraced_median_suite_s": statistics.median(base) if base else None,
                "ratio": suite / statistics.median(base) if base else None}
    if base:
        log(f"tracing overhead: traced suite_s {suite:.3f} / untraced median "
            f"{overhead['untraced_median_suite_s']:.3f} over {len(base)} runs = "
            f"{overhead['ratio']:.3f}")
    path = os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "metrics": metrics,
                   "tracing_overhead": overhead, "staging": result["staging"],
                   "passes": result["passes"]}, f)
    log(f"trace written to {os.path.relpath(path, ROOT)}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
