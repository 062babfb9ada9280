#!/usr/bin/env python3
"""Benchmark: time for a fresh JVM to produce every output column of a
workload's queries, end to end and split by layer.

    python3 perfbench/run.py --workload climate_etl --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The input is the repository's sf0.1
fixture set, kept byte for byte under perfbench/sf0.1/ (checked against
its SHA256SUMS before every run). The first run builds the repository and
the harness with sbt (perfbench/harness) into .bench_build/, reused while
the sources are unchanged. Each run then:

  1. records box speed (nproc, load average, a fixed CPU loop);
  2. starts the benchmark JVM (perfbench.Harness) in a fresh scratch
     directory, deleted at the end: a cold pass over the workload's
     queries, an unmeasured warm-up pass, then steady passes for
     --seconds (at least MIN_STEADY); the seed only permutes the query
     order of each pass;
  3. in the first run of a workload after a build, the JVM then dumps
     the queries with graft.Verify and scripts/check.py compares every
     dump with its DuckDB oracle (a pass with no rows does not count);
     the verdict is kept under .bench_build/oracle/ and applies to every
     later run of that build;
  4. prints a diagnostics line, then the result line: end-to-end metrics
     with --trace 0, per-layer metrics (from the Tracer listeners) with
     --trace 1. Set-up time is the benchmark JVM's own (one sample per
     run). Peak RSS is a per-layer figure (jvm.peak_rss_mb): it follows
     the collector's heap sizing, which varies by a third between runs.

A query that throws, a query without an oracle pass, and any sign that a
pass read another pass's cache all make the run incorrect, and the exit
code non-zero.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = {
    # The reference's own pipelines: year/month bucketing, dimension
    # enrichment, climate indices. Execute-bound, no pins, no sinks.
    "climate_etl": [
        "climate_monthly", "climate_annual", "climate_rollup",
        "climatology_anomaly", "annual_maxima", "vpd_scalar",
        "snap_grid_join", "dim_enrich_join", "spell_runs",
        "extreme_days_p90", "degree_day_accum", "rolling_avg"],
    # The reference's split-by-state job plus the format matrix: each
    # query writes a sink at construct time and reads it back.
    "sink_roundtrip": [
        "split_partitioned_write", "json_sink_roundtrip",
        "orc_sink_roundtrip", "parquet_partitioned_roundtrip",
        "compact_small_files", "schema_evolution_read", "schema_sniff_read",
        "xml_sink_roundtrip", "grid_source_roundtrip",
        "csv_corrupt_quarantine"],
}

BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "sf0.1")
# Steady passes per run, at least. The JVM keeps warming for several
# passes after the warm-up pass, and the host's speed drifts: the median
# of two steady passes spread 11-14% between runs on a 4-core VM, the
# median of three 7%. A traced run has the same passes (traced,
# untraced, traced), so it takes no longer than an untraced one.
MIN_STEADY = 3
RUN_LIMIT_S = 170     # a run that did not build must end within this
BUILD_LIMIT_S = 880   # ... and one that built
DRIVER_MEM = "4g"     # heap of the benchmark JVM (-Xmx, via build.sbt)


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def repo_present():
    return all(os.path.exists(os.path.join(ROOT, p)) for p in
               ("build.sbt", "src/main/scala/graft", "scripts/check.py"))


def source_digest():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile with sbt unless the launch spec matches the sources.
    Returns (launch spec, whether this run built)."""
    spec_path = os.path.join(BUILD, "launch.json")
    digest = source_digest()
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        if spec.get("digest") == digest:
            return spec, False
    log("building with sbt")
    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                   cwd=HARNESS, env=env, stdout=sys.stderr, check=True,
                   timeout=BUILD_LIMIT_S - 60)
    with open(os.path.join(HARNESS, "target", "launch.txt")) as f:
        lines = f.read().splitlines()
    spec = {"digest": digest, "classpath": lines[0], "jvm_options": lines[1:]}
    os.makedirs(BUILD, exist_ok=True)
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    return spec, True


def check_data():
    """Check the input tables against their SHA256SUMS; returns the
    digest of that list, which keys the oracle verdict."""
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        sums = f.read()
    for line in sums.splitlines():
        want, name = line.split()
        with open(os.path.join(DATA, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                raise RuntimeError(f"{name} differs from perfbench/sf0.1/SHA256SUMS")
    return hashlib.sha256(sums.encode()).hexdigest()


def nproc():
    return len(os.sched_getaffinity(0))


def box_speed():
    """Diagnostics for comparing runs across time: a drifted box shows."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "calibration_s": round(time.perf_counter() - t, 4)}


def run_jvm(spec, run_dir, cores, args, timeout):
    """Run the harness in `run_dir`; returns its result document."""
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + spec["jvm_options"] +
           ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", spec["classpath"], "perfbench.Harness",
            "--t0-us", str(time.time_ns() // 1000), "--out", out,
            "--cores", str(cores)] + args)
    # graft.Verify sizes its own session from SPARK_GRAFT_CPUS
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, env=env)
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"harness exceeded {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"harness exited with {code}")
    with open(out) as f:
        return json.load(f)


OK_LINE = re.compile(r"^\s*\. (\S+): OK \((\d+) rows\)")


def oracle_check(verify_dir, queries, timeout):
    """Run scripts/check.py on the dumps; {query: rows} for every query it
    reports as passing with at least one row. A query with no dump gets no
    OK line, and an empty result would pass vacuously."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"),
         DATA, verify_dir] + queries,
        stdout=subprocess.PIPE, text=True, timeout=max(1.0, timeout))
    sys.stderr.write(p.stdout)
    passed = {}
    for line in p.stdout.splitlines():
        m = OK_LINE.match(line)
        if m and m.group(1) in queries and int(m.group(2)) > 0:
            passed[m.group(1)] = int(m.group(2))
    return passed


def sink_dirs_left(run_dir):
    """Sink directories the queries left under the JVM's cwd-relative
    target/."""
    target = os.path.join(run_dir, "target")
    return len(os.listdir(target)) if os.path.isdir(target) else 0


def cross_pass_reuse(passes):
    """Evidence that a pass read another pass's cache: an execution that
    started with a cached frame or a live pin, or a steady pass whose
    construct phase launched a different number of jobs than the cold
    pass (construct jobs are the driver's own actions, so a cache hit
    removes them). Returns [(pass, query, what)]."""
    cold = {e["query"]: e["construct_jobs"] for e in passes[0]["execs"] if e["ok"]}
    out = []
    for p in passes:
        for e in p["execs"]:
            if not e["cache_clean"]:
                out.append((p["index"], e["query"], "cache not empty"))
            elif p["index"] and e["ok"] and e["query"] in cold \
                    and e["construct_jobs"] != cold[e["query"]]:
                out.append((p["index"], e["query"], "construct jobs %d != cold %d"
                            % (e["construct_jobs"], cold[e["query"]])))
    return out


def execute_job_drift(passes):
    """(pass, query, cold, steady) where the materialize phase launched a
    different number of jobs than in the cold pass. Adaptive execution
    submits query stages as their inputs finish, so some plans (a
    self-join feeding a broadcast) vary by a job from pass to pass on
    identical inputs; this is reported, not failed."""
    cold = {e["query"]: e["execute_jobs"] for e in passes[0]["execs"] if e["ok"]}
    return [(p["index"], e["query"], cold[e["query"]], e["execute_jobs"])
            for p in passes[1:] for e in p["execs"]
            if e["ok"] and e["query"] in cold and e["execute_jobs"] != cold[e["query"]]]


def end_to_end(res):
    passes = res["passes"]
    steady = [p for p in passes if p["kind"] == "steady" and not p["traced"]]
    samples = [e["construct_s"] + e["materialize_s"]
               for p in steady for e in p["execs"] if e["ok"]]
    metrics = {
        "setup_s": res["setup_s"],
        "cold_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in steady),
        "query_s_p50": stats.percentile(samples, 50),
    }
    return metrics, samples


def per_layer(res, rows, sink_dirs):
    """Per-layer metrics: the median over traced steady passes of each
    pass's total, plus JVM figures of the run and the tracing cost."""
    cores = res["cores"]
    tr = res["trace"]
    children = {}
    for s in tr["spans"]:
        children.setdefault(s[1], []).append(s)
    phase = tr["phases"]
    plan = tr["plans"]
    passes = res["passes"]
    traced = [p for p in passes if p["kind"] == "steady" and p["traced"]]
    untraced = [p for p in passes if p["kind"] == "steady" and not p["traced"]]
    pass_span = {int(s[3].split()[-1]): s for s in tr["spans"] if s[2] == "pass"}

    def per_pass(p):
        i = p["index"]
        c = {}

        def add(k, v):
            c[k] = c.get(k, 0) + v

        for e in p["execs"]:
            key = f"p{i}:{e['query']}"
            cons = phase.get(key + ":construct", {})
            mat = phase.get(key + ":materialize", {})
            pl = plan.get(key, {})
            add("construct.s", e["construct_s"])
            add("construct.jobs", cons.get("jobs", 0))
            add("construct.schema_jobs", cons.get("schema_jobs", 0))
            add("construct.pins", e["pins"])
            add("plan.analysis_ms", pl.get("analysis_ms", 0))
            add("plan.optimization_ms", pl.get("optimization_ms", 0))
            add("plan.planning_ms", pl.get("planning_ms", 0))
            add("plan.logical_nodes", pl.get("logical_nodes", 0))
            add("plan.exchanges", pl.get("exchanges", 0))
            add("sink.files_written", pl.get("files_written", 0))
            add("execute.s", e["materialize_s"])
            for name, field in (("jobs", "jobs"), ("stages", "stages"),
                                ("tasks", "tasks"),
                                ("failed_tasks", "failed_tasks"),
                                ("shuffle_write_bytes", "shuffle_write_bytes"),
                                ("shuffle_read_bytes", "shuffle_read_bytes"),
                                ("spill_bytes", "spill_bytes"),
                                ("input_records", "input_records")):
                add("execute." + name, mat.get(field, 0))
            add("execute.task_s", mat.get("task_ms", 0) / 1e3)
            add("execute.task_cpu_s", mat.get("cpu_ns", 0) / 1e9)
            add("execute.sched_wait_s", mat.get("sched_ms", 0) / 1e3)
            add("sink.bytes_written",
                cons.get("output_bytes", 0) + mat.get("output_bytes", 0))
            add("sink.records_written",
                cons.get("output_records", 0) + mat.get("output_records", 0))
            add("rows", rows.get(e["query"], 0))
        # construct wall with no job running, and the pass time not inside
        # any construct or materialize span
        ps = pass_span[i]
        driver = unattributed = 0
        unattributed += stats.self_time((ps[4], ps[5]),
                                        [(q[4], q[5]) for q in children.get(ps[0], [])])
        for q in children.get(ps[0], []):
            kids = children.get(q[0], [])
            unattributed += stats.self_time((q[4], q[5]), [(k[4], k[5]) for k in kids])
            for k in kids:
                if k[2] == "construct":
                    driver += stats.self_time(
                        (k[4], k[5]), [(j[4], j[5]) for j in children.get(k[0], [])])
        c["construct.driver_s"] = driver / 1e6
        c["trace.unattributed_frac"] = unattributed / (ps[5] - ps[4])
        c["execute.core_util"] = stats.core_util(c["execute.task_s"], c["execute.s"], cores)
        c["execute.rows_examined_per_row"] = c["execute.input_records"] / max(1, c.pop("rows"))
        return c

    per = [per_pass(p) for p in traced]
    m = {k: statistics.median(c[k] for c in per) for k in per[0]}
    cold = passes[0]
    jvm = res["jvm"]
    m["jvm.jit_s"] = (cold["jit_ms"] - jvm["jit_ms_at_ready"]) / 1e3
    m["jvm.gc_s"] = (cold["gc_ms"] - jvm["gc_ms_at_ready"]) / 1e3
    m["jvm.code_cache_mb"] = jvm["code_cache_bytes"] / 2**20
    m["jvm.heap_peak_mb"] = jvm["heap_peak_bytes"] / 2**20
    m["jvm.peak_rss_mb"] = jvm["vm_hwm_kb"] / 1024.0
    m["sink.dirs_left"] = sink_dirs
    m["trace.overhead_frac"] = (
        statistics.median(p["wall_s"] for p in traced) /
        statistics.median(p["wall_s"] for p in untraced) - 1)
    return m


def declared_metrics(trace):
    """{name: unit} of the metrics BENCHMARK.json declares for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVMs and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not repo_present():
        log("no repository sources next to perfbench/; run from a full checkout")
        return 2
    start = time.monotonic()
    box = {"start": box_speed()}
    data_digest = check_data()
    spec, built = ensure_build()
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    queries = WORKLOADS[a.workload]
    cores = nproc()
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    # The oracle check runs in the first run of a workload after a build;
    # its verdict is kept and applies to every later run of that build.
    verdict_path = os.path.join(
        BUILD, "oracle", f"{spec['digest'][:16]}-{data_digest[:16]}-{a.workload}.json")
    verdict = None
    if os.path.exists(verdict_path):
        with open(verdict_path) as f:
            verdict = json.load(f)
    verify_dir = os.path.join(run_dir, "verify")
    timings = {"build_s": time.monotonic() - start}
    try:
        t = time.monotonic()
        res = run_jvm(spec, run_dir, cores, [
            "--sf", DATA,
            "--queries", ",".join(queries), "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--min-steady", str(MIN_STEADY),
            "--trace", str(a.trace)] +
            ([] if verdict else ["--verify-dir", verify_dir]),
            deadline - time.monotonic() - 30)
        timings["benchmark_jvm_s"] = time.monotonic() - t
        sink_dirs = sink_dirs_left(run_dir)
        if verdict is None:
            t = time.monotonic()
            verdict = {"verify": res["verify"], "passed": oracle_check(
                verify_dir, queries, deadline - time.monotonic() - 2)}
            os.makedirs(os.path.dirname(verdict_path), exist_ok=True)
            with open(verdict_path, "w") as f:
                json.dump(verdict, f)
            timings["verify_s"] = res["verify_s"]
            timings["oracle_s"] = time.monotonic() - t
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    box["end"] = box_speed()

    passes = res["passes"]
    execs = [e for p in passes for e in p["execs"]]
    oracle_failed = sorted(set(queries) - set(verdict["passed"]))
    failed = sum(1 for e in execs if not e["ok"] or e["query"] in oracle_failed)
    reuse = cross_pass_reuse(passes)
    correct = failed == 0 and not reuse and verdict["verify"] == "ok"
    e2e, samples = end_to_end(res)
    n = len(samples)
    diag = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "box": box,
        "steady_passes": sum(1 for p in passes if p["kind"] == "steady" and not p["traced"]),
        # a p90 needs 100 samples for ten beyond it; a run has 30-36
        "query_samples": n,
        "highest_supported_percentile": stats.highest_supported_percentile(n),
        "query_s_p90": stats.percentile(samples, 90),
        "query_s_p90_samples_beyond": stats.samples_beyond(n, 90),
        "failed_frac": failed / len(execs),
        "oracle_failed": oracle_failed,
        "cross_pass_reuse": reuse,
        "execute_job_drift": execute_job_drift(passes),
        "verify": verdict["verify"],
        "timings": timings,
    }
    units = declared_metrics(a.trace)
    values = per_layer(res, verdict["passed"], sink_dirs) if a.trace else e2e
    # every run keeps its raw result document (passes, executions and,
    # traced, the spans), so a drifted run can be taken apart afterwards
    raw_dir = os.path.join(BUILD, "results")
    os.makedirs(raw_dir, exist_ok=True)
    diag["result_file"] = os.path.join(
        raw_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.time_ns()}.json")
    with open(diag["result_file"], "w") as f:
        json.dump(res, f)
    metrics = {k: {"value": values[k], "unit": u} for k, u in sorted(units.items())}
    diag["end_to_end"] = e2e
    print(json.dumps(diag))
    print(json.dumps({"correct": correct, "attempted": len(execs),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
