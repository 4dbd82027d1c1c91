#!/usr/bin/env python3
"""Per-change benchmark of the graft engine.

    python3 perfbench/run.py --workload graph-iter --seed 1 --seconds 15 --trace 0

Run from the root of a source tree. The first run builds the engine and
the benchmark's JVM side with sbt (perfbench/build.sbt); later runs
reuse the build until a source file changes. The input tables are the
committed perfbench/sf0.1/. Everything a run writes lands under
.bench_build/ in the tree.

One run is one JVM: a single closed-loop client in a local[<cores>]
session executing the workload's queries one at a time (see
perfbench/README.md). The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end
metrics when --trace 0 and the per-layer metrics when --trace 1.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import stats  # noqa: E402

# Why each workload, and what each layer should move on it: README.md.
WORKLOADS = {
    "graph-iter": ["q98_citation_pagerank", "q104_citation_hits"],
    "olap-scan": [
        "q03_topk_revenue", "q09_cumulative_orders", "q18_supplier_hindex",
        "q39_cube_summary", "q46_asof_last_order", "q37_disjunctive_join",
    ],
}

# A fixed, pre-touched heap, so the footprint the run reports does not
# depend on how far the collector happened to grow and touch the heap;
# no hsperfdata file in the system temp dir; the C1 compiler only, whose
# compiles settle within the warm-up pass, where C2's backlog outlasts a
# run and sets its speed (README, "Run-to-run noise").
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             "-XX:TieredStopAtLevel=1"]
BUILD_TIMEOUT_S = 600
RUN_DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file whose change needs a rebuild."""
    out = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            out.append(os.path.join(base, name))
        for top in (os.path.join(base, "src", "main"), os.path.join(base, "project")):
            for d, dirs, files in os.walk(top):
                dirs[:] = [x for x in dirs if x not in ("target", "project")]
                out += [os.path.join(d, f) for f in files
                        if f.endswith((".scala", ".java", ".sbt"))]
    return sorted(set(p for p in out if os.path.isfile(p)))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_logged(cmd, log, timeout, cwd=ROOT, env=None):
    """Run `cmd` with output to `log`; kill its process group on timeout
    and wait for it. Returns the exit code, or None on timeout."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True,
                             env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            return None


def tail_of(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def ensure_build(src_digest):
    stamp = os.path.join(WORK, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp) \
            and open(stamp).read() == src_digest:
        return launch
    log = os.path.join(WORK, "build.log")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {**os.environ,
           "SBT_OPTS": f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip()}
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                    log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    if rc != 0 or not os.path.exists(launch):
        fail(f"build failed (rc={rc}):\n{tail_of(log)}")
    with open(stamp, "w") as f:
        f.write(src_digest)
    return launch


def fixture_dir():
    """The input tables, a byte copy of the project's sf0.1 test fixture,
    after checking every file against its SHA256SUMS; and the sha256 of
    that list, which names the tables' oracle-result cache."""
    d = os.path.join(HERE, "sf0.1")
    try:
        with open(os.path.join(d, "SHA256SUMS"), "rb") as f:
            sums = f.read()
    except OSError as e:
        fail(f"no input tables: {e}")
    for sha, name in (line.split() for line in sums.decode().splitlines() if line.strip()):
        with open(os.path.join(d, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != sha:
                fail(f"input table {name} does not match SHA256SUMS")
    return d, hashlib.sha256(sums).hexdigest()


def git_state():
    try:
        rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=True).stdout.strip()
        dirty = bool(subprocess.run(["git", "-C", ROOT, "status", "--porcelain"],
                                    capture_output=True, text=True,
                                    check=True).stdout.strip())
        return rev, dirty
    except (OSError, subprocess.CalledProcessError):
        return None, None


def e2e_metrics(run, failures):
    """End-to-end metrics of an untraced run, and the tail latency,
    which is recorded and printed but not declared (README, "Metrics")."""
    execs = run["executions"]

    def good(e):
        return not e["error"] and failures.get(e["query"]) is None

    lat = [(e["query"], e["released"] - e["start"]) for e in execs if good(e)]
    if not lat:
        return {}, None
    timed = run["timed"]
    qpm, cpu = stats.pass_medians(execs, timed["pass_cpu_s"], good)
    pct, tail_v, n = stats.tail([x for _, x in lat])
    m = {
        "queries_per_min": (qpm, "1/min"),
        "query_s_p50": (stats.median_latency(lat), "s"),
        "setup_s": (run["setup"]["setup_s"], "s"),
        "cpu_s_per_query": (cpu, "s"),
        "peak_rss_mb": (timed["peak_rss_mb"], "MB"),
    }
    return m, {"value": tail_v, "unit": "s", "percentile": pct, "samples": n}


def tally(run, failures):
    """(attempted, failed) for a run: every timed execution plus one
    oracle-checked execution per query. A timed execution that raised and
    a query whose checked output is wrong each count as one failure."""
    raised = sum(1 for e in run["executions"] if e["error"])
    wrong = sum(1 for m in failures.values() if m is not None)
    return len(run["executions"]) + len(failures), raised + wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources (build.sbt, src/main/scala) under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    src_digest = digest(sources())
    launch = ensure_build(src_digest)
    tables, tables_sha = fixture_dir()

    started = time.monotonic()
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(WORK, "runs", name)
    subprocess.run(["rm", "-rf", out], check=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(out, sub))
    cores = len(os.sched_getaffinity(0))
    queries = WORKLOADS[a.workload]
    with open(launch) as f:
        jvm_opts = [x for x in f.read().splitlines() if x and not x.startswith(("-Xmx", "-Xms"))]
    cmd = (["java", *JVM_FLAGS, f"-Djava.io.tmpdir={out}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + jvm_opts
           + ["perfbench.Main", "--fixture", tables, "--out", out,
              "--queries", ",".join(queries), "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--local-dir", f"{out}/local"])
    log = os.path.join(out, "jvm.log")
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
    # scratch inside the tree either way.
    env = {**os.environ, "SPARK_LOCAL_DIRS": f"{out}/local"}
    rc = run_logged(cmd, log, RUN_DEADLINE_S, env=env)
    record_path = os.path.join(out, "run.json")
    if rc != 0 or not os.path.exists(record_path):
        fail(f"benchmark JVM failed (rc={rc}):\n{tail_of(log)}")
    with open(record_path) as f:
        run = json.load(f)

    failures = oracle.check(oracle.connect(tables, f"{out}/tmp"),
                            os.path.join(out, "results"),
                            run["oracle_sql"], queries, run["check_errors"],
                            os.path.join(WORK, "oracle", tables_sha))
    errors = [e for e in run["executions"] if e["error"]]
    bad_checks = {q: m for q, m in failures.items() if m is not None}
    attempted, failed = tally(run, failures)

    e2e, tail_label = e2e_metrics(run, failures)
    layers, self_table, jobs_per_query = {}, None, None
    if a.trace:
        layers, self_table, jobs_per_query = stats.layer_metrics(run, cores)
    reported = layers if a.trace else e2e
    correct = failed == 0 and bool(reported)

    rev, dirty = git_state()
    record = {
        "workload": a.workload, "queries": queries, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "cores": cores,
        "git_rev": rev, "git_dirty": dirty, "source_sha256": src_digest,
        "spark_version": run["spark_version"], "java_version": run["java_version"],
        "scala_version": run["scala_version"],
        "loadavg_start": run["loadavg_start"], "loadavg_end": run["loadavg_end"],
        "timed_steal_frac": run["timed"]["steal_frac"],
        "timed_jvm_gc_s": run["timed"]["jvm_gc_s"],
        "timed_jit_compile_s": run["timed"]["jit_compile_s"],
        "passes": run["timed"]["passes"], "setup": run["setup"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "query_s_tail": tail_label,
        "failed_frac": failed / attempted,
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "self_s_per_query": self_table,
        "jobs_per_query": jobs_per_query,
        "pinned_live_per_pass": run["timed"]["pinned_live"],
        "query_s_median": {q: statistics.median(
            [e["released"] - e["start"] for e in run["executions"] if e["query"] == q])
            for q in queries if any(e["query"] == q for e in run["executions"])},
        "errors": [{"query": e["query"], "pass": e["pass"], "error": e["error"]}
                   for e in errors],
        "check_failures": bad_checks,
        "wall_s": time.monotonic() - started,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", name + ".json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {cores}  "
          f"passes {run['timed']['passes']}  rev {rev or 'unknown'}"
          f"{' (dirty)' if dirty else ''}  loadavg {run['loadavg_start']}"
          f"->{run['loadavg_end']}  steal {run['timed']['steal_frac']:.3f}")
    for k, (v, u) in {**e2e, "failed_frac": (failed / attempted, "ratio"),
                      **layers}.items():
        print(f"  {k:32s} {v:14.6f} {u}")
    if tail_label:
        print(f"  {'query_s_tail':32s} {tail_label['value']:14.6f} s  "
              f"(p{tail_label['percentile']:.1f} of {tail_label['samples']} executions)")
    if self_table:
        print("  self time (s per traced query): " + ", ".join(
            f"{k} {v:.4f}" for k, v in self_table.items()))
    for e in errors:
        print(f"  ERROR {e['query']} pass {e['pass']}: {e['error']}")
    for q, msg in bad_checks.items():
        print(f"  CHECK FAILED {q}: {msg}")
    print(f"verdict: {'correct' if correct else 'INCORRECT'} "
          f"({failed} of {attempted} executions failed)")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }))


if __name__ == "__main__":
    main()
