#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload floor|heavy|io --seed N --seconds S --trace 0|1

Builds the benchmark (perfbench/build.sbt, which compiles graft from this
checkout) when its sources changed, runs one JVM (graft.perfbench.Main) that
times the workload's queries, checks every query's output against DuckDB,
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics of a traced run. The full
per-query record goes to perfbench/results/<workload>-seed<N>-trace<T>.json,
which compare.py reads. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pwd
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# fixed: the full collections after each pass shrink a heap that may
# resize, and runs then fell at random into a slower mode (README.md)
HEAP = ["-Xms2g", "-Xmx2g"]

# counters that must repeat exactly between the two traced passes
DETERMINISTIC = ["queries.build_jobs", "exec.jobs", "exec.stages", "exec.shuffle_records",
                 "catalyst.exchanges", "catalyst.fallback_exprs"]


def fixtures_dir():
    """The sf0.1 fixture tables (TESTDATA.md; read only): SPARK_GRAFT_SF_DIR,
    else testdata/sf0.1 in the home directory, found through the user's
    account too in case a launcher replaced $HOME."""
    if "SPARK_GRAFT_SF_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_SF_DIR"]
    homes = [os.path.expanduser("~"), pwd.getpwuid(os.getuid()).pw_dir]
    dirs = [os.path.join(h, "testdata", "sf0.1") for h in homes]
    return next((d for d in dirs if os.path.isfile(os.path.join(d, "lineitem.parquet"))), dirs[0])


FIXTURES = fixtures_dir()


def child_env(**defaults):
    """The environment of a child process: this one, plus `defaults` for
    variables it does not set."""
    env = dict(os.environ)
    for k, v in defaults.items():
        env.setdefault(k, v)
    return env


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log_dir):
    """Compiles graft and the benchmark once per source state; returns the
    launch description (classpath and the root build's JVM options)."""
    launch = os.path.join(HERE, "target", "launch.json")
    stamp = os.path.join(HERE, "target", "launch.stamp")
    h = source_hash()
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == h:
        return json.load(open(launch))
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as fh:
        try:
            # forcestart: go on without sbt's boot socket, whose path under
            # log_dir is too long for a Unix socket in a deeply nested checkout
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                                 "-Dsbt.server.forcestart=true", "-Dsbt.offline=true",
                                 f"-Djava.io.tmpdir={log_dir}", "writeLaunch"],
                                cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S,
                                # every dependency is in the local caches; never
                                # look for one over the network
                                env=child_env(COURSIER_MODE="offline")).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(launch):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc={rc}), log in {log}")
    with open(stamp, "w") as fh:
        fh.write(h)
    return json.load(open(launch))


def run_jvm(launch, queries, args, out, deadline):
    java = shutil.which("java") or fail("java not found")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ([java] + launch["java_options"] +
           HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(launch["classpath"]), "graft.perfbench.Main",
            "--fixtures", FIXTURES, "--out", out, "--queries", ",".join(queries),
            # the JVM takes the seed as a long
            "--seed", str(args.seed % 2**63), "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=max(10, deadline - time.time()),
                                # Spark binds its driver to the loopback interface
                                env=child_env(SPARK_LOCAL_IP="127.0.0.1",
                                              SPARK_LOCAL_HOSTNAME="localhost")).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(os.path.join(out, "run.json")):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM failed (rc={rc}), log in {log}")
    return json.load(open(os.path.join(out, "run.json")))


def percentile(xs, p):
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def end_to_end(run, timed):
    # per-query latency: each query's median over the timed passes, then
    # percentiles across the workload's queries (see README.md)
    per_query = {}
    for p in timed:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["s"])
    latencies = [statistics.median(xs) for xs in per_query.values()]
    metrics = {
        "setup_s": (run["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in timed), "s"),
        "query_p50_s": (percentile(latencies, 50), "s"),
        "query_p90_s": (percentile(latencies, 90), "s"),
        "pass_cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
        "heap_peak_mb": (max(p["heap_after_gc_mb"] for p in timed), "MB"),
    }
    info = {"query_samples": sum(len(xs) for xs in per_query.values()), "timed_passes": len(timed)}
    return metrics, info


def span_metrics(spans, nproc):
    """Per-layer sums for one traced pass, from its spans."""
    dur = {s["id"]: s["end_s"] - s["start_s"] for s in spans}
    child_cover = {}
    for s in spans:
        if s["parent"] is not None:
            child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + dur[s["id"]]
    m = {}

    def add(k, v):
        m[k] = m.get(k, 0) + v

    for s in spans:
        name = s["name"]
        add(f"span.{name}.self_s", dur[s["id"]] - child_cover.get(s["id"], 0.0))
        for k in ("read_bytes", "write_bytes", "write_files"):
            add(f"sources.{k}", s.get(k, 0))
        if name == "queries.build":
            add("queries.build_s", dur[s["id"]])
            add("queries.build_jobs", s.get("jobs", 0))
            add("catalyst.analysis_s", s.get("query_analysis_s", 0.0))
        elif name == "exec.run":
            add("exec.run_s", dur[s["id"]])
            for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                      "shuffle_write_bytes", "shuffle_records", "spill_bytes", "failed_tasks"):
                add(f"exec.{k}", s.get(k, 0))
            add("exec.shuffle_fetch_wait_s", s.get("fetch_wait_s", 0.0))
            add("catalyst.exchanges", s.get("exchanges", 0))
            add("catalyst.fallback_exprs", s.get("fallback_exprs", 0))
            for k in ("analysis_s", "optimization_s", "planning_s"):
                add(f"catalyst.{k}", s.get(k, 0.0))
    for name in ("query", "queries.build", "exec.run"):
        m.setdefault(f"span.{name}.self_s", 0.0)
    slots = nproc * m.get("exec.run_s", 0.0)
    m["exec.idle_core_s"] = slots - m.get("exec.task_run_s", 0.0)
    m["exec.core_util"] = m.get("exec.task_run_s", 0.0) / slots if slots else 0.0
    return m


UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("core_util") else "count"


def per_layer(run, traced, untraced_pass_s):
    per_pass = [span_metrics([s for s in run["spans"] if s["pass"] == p["pass"]], run["nproc"])
                for p in traced]
    for p, m in zip(traced, per_pass):
        m["jvm.jit_s"] = p["jit_s"]
        m["jvm.gc_s"] = p["gc_s"]
    nondet = sorted(k for k in DETERMINISTIC if len({m.get(k) for m in per_pass}) > 1)
    probes = run["probes"]
    load_jobs = probes["sources.load_jobs"]
    if len(set(load_jobs)) > 1:
        nondet.append("sources.load_jobs")
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    metrics["sources.load_s"] = probes["sources.load_s"]
    metrics["sources.load_jobs"] = load_jobs[0]
    metrics.update({k: v for k, v in probes.items()
                    if k.endswith(("native_s", "builtin_s", "decode_s"))})
    traced_pass_s = statistics.median(p["wall_s"] for p in traced)
    metrics["trace.pass_s"] = traced_pass_s
    metrics["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    metrics["trace.nondeterministic_counters"] = len(nondet)
    probe_failures = sorted(k for k, v in probes.items() if k.endswith("mismatches") and v)
    return ({k: (v, unit_of(k)) for k, v in sorted(metrics.items())},
            {"nondeterministic": nondet, "probe_failures": probe_failures,
             "counters_per_pass": per_pass})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"graft sources not found under {ROOT}")
    if not os.path.isfile(os.path.join(FIXTURES, "lineitem.parquet")):
        fail(f"fixture tables not found in {FIXTURES} (set SPARK_GRAFT_SF_DIR)")
    import oracle  # reads the comparison rules from the checkout's tools/
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {sorted(workloads)}")
    queries = workloads[args.workload]["queries"]

    out = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build_start = time.time()
    launch = build(out)
    # a run may take RUN_LIMIT_S besides the time a build took
    run = run_jvm(launch, queries, args, out, deadline=start + RUN_LIMIT_S + time.time() - build_start)

    timed = [p for p in run["passes"] if p["kind"] == "timed"]
    traced = [p for p in run["passes"] if p["kind"] == "traced"]
    check_pass = next(p for p in run["passes"] if p["kind"] == "check")
    checks = oracle.check_all(FIXTURES, os.path.join(out, "check"), check_pass["queries"],
                              run["oracle_sql"])
    wrong = {c["name"] for c in checks if not c["ok"]}
    executions = [(p["pass"], q) for p in timed + traced for q in p["queries"]]
    failed = sum(1 for _, q in executions if q["error"] or q["name"] in wrong)

    e2e, info = end_to_end(run, timed)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": run["nproc"], "queries": queries, **info,
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "checks": checks,
              "per_query": [{"pass": p, "name": q["name"], "s": q["s"], "error": q["error"],
                             "counters": q["counters"]} for p, q in executions]}
    attempted = len(executions)
    if args.trace:
        metrics, extra = per_layer(run, traced, e2e["pass_s"][0])
        record.update(extra)
        record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        record["spans"] = run["spans"]
        attempted += sum(1 for k in run["probes"] if k.endswith("mismatches"))
        failed += len(extra["probe_failures"])
    else:
        metrics = e2e
    record["failed_frac"] = failed / attempted
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for c in checks:
        if not c["ok"]:
            print(f"perfbench: output check failed for {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
