"""Metric arithmetic for the benchmark: latency percentiles, span self
times and the per-layer roll-up of a traced run record."""
import statistics


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Nearest rank: the k-th smallest of n samples has n - k samples above
    it, so k = n - beyond and the percentile is 100 * k / n. Below
    2 * `beyond` samples that percentile would sit under the median, so
    the maximum is returned instead, labelled percentile 100; the record
    states which percentile it is and of how many samples.

    Returns (percentile, value, n).
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - beyond
    if n < 2 * beyond:
        return 100.0, xs[-1], n
    return 100.0 * k / n, xs[k - 1], n


def median_latency(executions):
    """Typical latency of one execution of a workload: the geometric mean,
    over its queries, of each query's median latency.

    `executions` is a list of (query, seconds). A median pooled over
    queries of different speed lands between the slowest runs of one and
    the fastest of another, and which ones depends on a few samples; the
    per-query medians do not, and the geometric mean weighs a relative
    change of each query alike.
    """
    by_query = {}
    for q, x in executions:
        by_query.setdefault(q, []).append(x)
    if not by_query:
        raise ValueError("no samples")
    meds = [statistics.median(xs) for xs in by_query.values()]
    return statistics.geometric_mean(meds)


def pass_medians(executions, pass_cpu_s, good):
    """(queries per minute, CPU seconds per execution), each the median
    over the timed passes. A pass's rate is its executions for which
    `good` holds per minute of its wall (first start to last release);
    `pass_cpu_s[p]` is the process CPU time of pass p. A host hiccup
    that slows one pass moves a median of three passes less than a
    total over the run."""
    passes = {}
    for e in executions:
        passes.setdefault(e["pass"], []).append(e)
    if not passes:
        raise ValueError("no samples")
    qpm, cpu = [], []
    for p, es in passes.items():
        wall = max(e["released"] for e in es) - min(e["start"] for e in es)
        qpm.append(60.0 * sum(1 for e in es if good(e)) / wall)
        cpu.append(pass_cpu_s[p] / len(es))
    return statistics.median(qpm), statistics.median(cpu)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _tree(spans):
    """(children, roots, clipped bounds) of a span tree: each child is
    clipped to its parent's clipped interval."""
    children = {k: [] for k in spans}
    roots = []
    for k, s in spans.items():
        (children[s["parent"]] if s["parent"] is not None else roots).append(k)
    lo_hi = {}

    def clip(k, lo, hi):
        s = spans[k]
        a, b = max(s["start"], lo), min(s["end"], hi)
        lo_hi[k] = (a, max(a, b))
        for c in children[k]:
            clip(c, *lo_hi[k])

    for r in roots:
        clip(r, spans[r]["start"], spans[r]["end"])
    return children, roots, lo_hi


def outside_parent(spans):
    """Time of the spans of one tree that falls outside their parents:
    what `self_times` clips away. Attributed work that runs outside its
    query's span (a job still running after the call that started it
    returned) shows here rather than in any self time."""
    _, _, lo_hi = _tree(spans)
    return sum((s["end"] - s["start"]) - (lo_hi[k][1] - lo_hi[k][0])
               for k, s in spans.items() if s["end"] > s["start"])


def self_times(spans):
    """Exclusive time of every span of one tree.

    `spans` maps id -> dict(parent=id or None, start, end). Each child
    is clipped to its parent (`outside_parent` gives what that cuts).
    Every instant of the root's interval goes to the deepest spans
    covering it, split evenly when several siblings overlap (concurrent
    jobs), so a parent's self time is its duration minus the union of
    its children and the self times of a tree add up to the root's
    duration.
    """
    children, roots, lo_hi = _tree(spans)
    depth = {}

    def set_depth(k, d):
        depth[k] = d
        for c in children[k]:
            set_depth(c, d + 1)

    for r in roots:
        set_depth(r, 0)

    cuts = sorted({t for a, b in lo_hi.values() for t in (a, b)})
    out = {k: 0.0 for k in spans}
    for a, b in zip(cuts, cuts[1:]):
        active = [k for k, (s, e) in lo_hi.items() if s <= a and e >= b and e > s]
        if not active:
            continue
        deepest = max(depth[k] for k in active)
        owners = [k for k in active if depth[k] == deepest]
        for k in owners:
            out[k] += (b - a) / len(owners)
    return out


LAYER_SPAN = {"build": "queries.build", "exec": "exec.run",
              "release": "checkpoints.release"}


def query_trees(run):
    """One span tree per traced execution: query > {queries.build,
    exec.run, checkpoints.release} > job > stage, jobs attached through
    their job group. Returns (trees, unattributed_job_count)."""
    by_group = {}
    for j in run["jobs"]:
        by_group.setdefault(j["group"], []).append(j)
    stages_by_job = {}
    for s in run["stages"]:
        stages_by_job.setdefault(s["job"], []).append(s)
    trees, attributed = [], 0
    for e in run["executions"]:
        if not e["traced"]:
            continue
        t = {"query": {"name": "query", "parent": None,
                       "start": e["start"], "end": e["released"]}}
        bounds = {"build": (e["start"], e["built"]),
                  "exec": (e["built"], e["ran"]),
                  "release": (e["ran"], e["released"])}
        for layer, (a, b) in bounds.items():
            t[layer] = {"name": LAYER_SPAN[layer], "parent": "query",
                        "start": a, "end": b}
            for j in by_group.get(f"{e['group']}:{layer}", []):
                attributed += 1
                jid = f"job{j['id']}"
                t[jid] = {"name": "job", "parent": layer,
                          "start": j["start"], "end": j["end"], "job": j}
                for s in stages_by_job.get(j["id"], []):
                    t[f"stage{s['id']}.{s['attempt']}"] = {
                        "name": "stage", "parent": jid,
                        "start": s["start"], "end": s["end"], "stage": s}
        trees.append((e, t))
    return trees, len(run["jobs"]) - attributed


def _quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def layer_metrics(run, cores):
    """Per-layer metrics of a traced run, each a mean per traced query
    execution unless its name says otherwise, plus what the record
    carries besides: the span self-time table (seconds per traced
    execution for the query subtree, totals for `pass` and `run`) and
    the mean job count of each query, which shows that every timed
    execution does its work rather than serve a memoized result."""
    trees, unattributed = query_trees(run)
    n = len(trees)
    if n == 0:
        raise ValueError("no traced executions")
    execs = [e for e, _ in trees]
    windows = [(e["start"], e["released"]) for e in execs]

    def in_window(t):
        return any(a <= t <= b for a, b in windows)

    plans = [p for p in run["plans"] if in_window(p["start"])]
    stages, job_s, gap_s, self_by_name = [], 0.0, 0.0, {}
    outside, per_query = 0.0, {}
    for e, t in trees:
        job_spans = [s for s in t.values() if s["name"] == "job"]
        per_query.setdefault(e["query"], []).append(len(job_spans))
        js = union_length([(s["start"], s["end"]) for s in job_spans],
                          e["start"], e["released"])
        job_s += js
        gap_s += (e["released"] - e["start"]) - js
        for k, v in self_times(t).items():
            name = t[k]["name"]
            self_by_name[name] = self_by_name.get(name, 0.0) + v
        outside += outside_parent(t)
        stages += [s["stage"] for s in t.values() if s["name"] == "stage"]

    def jobs_in(layer):
        return sum(1 for _, t in trees for s in t.values()
                   if s["name"] == "job" and s["parent"] == layer) / n

    task_s = sum(s["task_s"] for s in stages)
    single = [s for s in stages
              if s["num_tasks"] == 1 and s["end"] - s["start"] > 0.5]
    # skew of stages whose slowest task is long enough to matter
    skews = [s["task_max_s"] / s["task_median_s"] for s in stages
             if s["tasks"] >= 2 and s["task_median_s"] > 0 and s["task_max_s"] >= 0.1]
    traced = [e for e in run["executions"] if e["traced"]]
    untraced = [e for e in run["executions"] if not e["traced"]]

    def qpm(es):
        by_pass = {}
        for e in es:
            a, b = by_pass.get(e["pass"], (e["start"], e["released"]))
            by_pass[e["pass"]] = (min(a, e["start"]), max(b, e["released"]))
        secs = sum(b - a for a, b in by_pass.values())
        return 60.0 * sum(1 for e in es if not e["error"]) / secs

    mb = 1024.0 * 1024.0
    setup = run["setup"]
    m = {
        "setup.session_s": (setup["session_s"], "s"),
        "setup.table_warm_s": (setup["table_warm_s"], "s"),
        "setup.first_pass_s": (setup["first_pass_s"], "s"),
        "queries.build_s": (statistics.fmean(e["built"] - e["start"] for e in execs), "s"),
        "queries.build_jobs": (jobs_in("build"), "count"),
        "exec.run_s": (statistics.fmean(e["ran"] - e["built"] for e in execs), "s"),
        "exec.jobs": (jobs_in("exec"), "count"),
        "catalyst.analysis_s": (sum(p["analysis_s"] for p in plans) / n, "s"),
        "catalyst.optimization_s": (sum(p["optimization_s"] for p in plans) / n, "s"),
        "catalyst.planning_s": (sum(p["planning_s"] for p in plans) / n, "s"),
        "catalyst.executions": (len(plans) / n, "count"),
        "scheduler.jobs": (sum(map(sum, per_query.values())) / n, "count"),
        "scheduler.stages": (len(stages) / n, "count"),
        "scheduler.tasks": (sum(s["tasks"] for s in stages) / n, "count"),
        "scheduler.job_s": (job_s / n, "s"),
        "scheduler.gap_s": (gap_s / n, "s"),
        "scheduler.task_s": (task_s / n, "s"),
        "scheduler.slot_util": (task_s / (job_s * cores) if job_s else 0.0, "ratio"),
        "scheduler.single_task_stages": (len(single) / n, "count"),
        "scheduler.single_task_stage_s": (sum(s["end"] - s["start"] for s in single) / n, "s"),
        "scheduler.task_skew_p90": (_quantile(skews, 0.9), "ratio"),
        "scheduler.failed_tasks": (sum(s["failed_tasks"] for s in stages) / n, "count"),
        "scheduler.unattributed_jobs": (unattributed / n, "count"),
        "scheduler.gc_s": (sum(s["gc_s"] for s in stages) / n, "s"),
        "shuffle.write_mb": (sum(s["shuffle_write_bytes"] for s in stages) / mb / n, "MB"),
        "shuffle.read_mb": (sum(s["shuffle_read_bytes"] for s in stages) / mb / n, "MB"),
        "shuffle.spill_mb": (sum(s["spill_bytes"] for s in stages) / mb / n, "MB"),
        "sources.input_mb": (sum(p["scan_bytes"] for p in plans) / mb / n, "MB"),
        "sources.input_rows": (sum(p["scan_rows"] for p in plans) / n, "count"),
        "checkpoints.rdds": (sum(1 for p in plans if p["func"] == "localCheckpoint") / n, "count"),
        "checkpoints.block_mb": (run["block_bytes"] / mb / n, "MB"),
        "checkpoints.release_s": (statistics.fmean(e["released"] - e["ran"] for e in execs), "s"),
        "checkpoints.pinned_live": (run["timed"]["pinned_live"][-1], "count"),
        "trace.queries_per_min": (qpm(traced), "1/min"),
        "trace.untraced_queries_per_min": (qpm(untraced), "1/min"),
        "trace.overhead_frac": (qpm(untraced) / qpm(traced) - 1.0, "ratio"),
        "trace.outside_span_s": (outside / n, "s"),
    }
    # run > pass > query: queries of a pass run one after another, so a
    # pass's self time is its span minus its queries' walls, and the
    # run's is the timed region minus its passes.
    passes = {}
    for e in run["executions"]:
        a, b, w = passes.get(e["pass"], (e["start"], e["released"], 0.0))
        passes[e["pass"]] = (min(a, e["start"]), max(b, e["released"]),
                             w + e["released"] - e["start"])
    timed = run["timed"]
    self_table = {k: v / n for k, v in sorted(self_by_name.items())}
    self_table["pass"] = sum(b - a - w for a, b, w in passes.values())
    self_table["run"] = (timed["end"] - timed["start"]
                         - sum(b - a for a, b, _ in passes.values()))
    jobs_per_query = {q: statistics.fmean(v) for q, v in sorted(per_query.items())}
    return m, self_table, jobs_per_query
