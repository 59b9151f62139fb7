"""Metrics computed from the raw record the benchmark JVM writes.

End-to-end metrics come from the untraced window; per-layer metrics come
from the traced window (spans, Spark listener records, plan phases),
except latencies, which are read from the untraced window.
"""
import math
import statistics

# how many samples must lie beyond a reported percentile
TAIL_SAMPLES = 10
# tail percentile cap per kind of workload (p90 of queries, p99 of requests)
TAIL_CAP = {"query": 0.90, "api": 0.99}

API_OPS = ["monitor_jobs", "log_search", "job_status", "metrics", "create_job", "update_job"]
API_METRIC = {"monitor_jobs": "api.monitor_jobs_ms", "log_search": "api.log_search_ms",
              "job_status": "api.job_status_ms", "metrics": "api.metrics_ms",
              "create_job": "api.create_job_ms", "update_job": "api.update_job_ms"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pick_percentile(samples, cap, beyond=TAIL_SAMPLES):
    """Highest nearest-rank percentile at or below `cap` that leaves at
    least `beyond` samples above it. Returns (percentile, value); with
    too few samples for any tail, the median is returned as (0.5, value)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    rank = min(math.ceil(cap * n - 1e-9), n - beyond)
    if rank < n / 2:
        return 0.5, xs[math.ceil(n / 2) - 1]
    return rank / n, xs[rank - 1]


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it covered by its children;
    overlapping children are counted once."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in children])


def tally(outcomes):
    """(attempted, failed, fail_frac) over an iterable of ok-booleans."""
    oks = list(outcomes)
    failed = sum(1 for ok in oks if not ok)
    return len(oks), failed, (failed / len(oks) if oks else 0.0)


# -- end-to-end -----------------------------------------------------------

def end_to_end(kind, record):
    """{name: (value, unit, samples)} for the first untraced window. Every
    value averages over the whole window or over every operation kind, so
    that one slow sample moves it little."""
    w = record["windows"][0]
    wall_s = (w["end"] - w["start"]) / 1000.0
    if kind == "query":
        ops = [(s["name"], s["ms"]) for s in w["samples"] if s["ok"]]
        units = pass_times_s(w)
    else:
        ops = [(r["op"], r["ms"]) for r in w["requests"] if r["ok"]]
        units = [j["ms"] / 1000.0 for j in w["jobs"] if j["ok"]]
    return {
        "setup_s": (setup_s(record), "s", 1),
        "pass_s": (statistics.fmean(units) if units else 0.0, "s", len(units)),
        "op_latency_ms": (kind_geomean(ops), "ms", len(ops)),
        "ops_per_s": (len(ops) / wall_s if wall_s > 0 else 0.0, "1/s", len(ops)),
    }


def setup_s(record):
    """Seconds from the benchmark JVM's launch to the start of its first
    timed window: JVM start, session, fixtures, gate and warm-up."""
    return (record["windows"][0]["start"] - record["launch_ms"]) / 1000.0


def kind_geomean(ops):
    """Geometric mean over operation kinds of each kind's median latency,
    from (kind, ms) pairs."""
    by_kind = {}
    for k, ms in ops:
        by_kind.setdefault(k, []).append(ms)
    meds = [statistics.median(v) for v in by_kind.values()]
    return math.exp(statistics.fmean(math.log(m) for m in meds)) if meds else 0.0


def process_metrics(kind, record):
    """Per-layer metrics of the whole process: tail latency of the
    untraced window and peak resident set."""
    w = record["windows"][0]
    lat = ([s["ms"] for s in w["samples"] if s["ok"]] if kind == "query"
           else [r["ms"] for r in w["requests"] if r["ok"]])
    p, tail = pick_percentile(lat, TAIL_CAP[kind])
    return {"op.tail_ms": tail, "op.tail_pct": p, "jvm.rss_peak_mb": record["rss_peak_mb"]}


def pass_times_s(window):
    """Wall seconds of each timed pass."""
    return [ms / 1000.0 for ms in window["pass_ms"]]


# -- per-layer ------------------------------------------------------------

def overhead(primary):
    """Tracing overhead from a workload's primary metric in the windows
    (untraced, traced, untraced): traced over the mean untraced, minus 1."""
    before, traced, after = primary
    base = (before + after) / 2.0
    return traced / base - 1.0 if base > 0 else 0.0


def _mb(b):
    return b / (1024.0 * 1024.0)


def _stage_sums(stages, nproc):
    return {
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_run_ms": sum(sum(s["run_ms"]) for s in stages),
        "exec.task_cpu_ms": sum(s["cpu_ms"] for s in stages),
        "exec.gc_ms": sum(s["gc_ms"] for s in stages),
        "exec.task_wait_ms": sum(s["wait_ms"] for s in stages),
        "exec.shuffle_read_mb": _mb(sum(s["shuffle_read_b"] for s in stages)),
        "exec.shuffle_write_mb": _mb(sum(s["shuffle_write_b"] for s in stages)),
        "exec.spill_mb": _mb(sum(s["spill_b"] for s in stages)),
        "exec.peak_exec_mem_mb": _mb(max([s["peak_mem_b"] for s in stages] or [0])),
        "exec.skew_max": skew_max(stages, nproc),
    }


def skew_max(stages, nproc):
    """Max over stages with at least `nproc` tasks of max/median task time."""
    ratios = []
    for s in stages:
        runs = s["run_ms"]
        if len(runs) >= nproc:
            med = statistics.median(runs)
            if med > 0:
                ratios.append(max(runs) / med)
    return max(ratios) if ratios else 1.0


def _plan_sums(plans):
    out = {"plan.analysis_ms": 0.0, "plan.optimization_ms": 0.0, "plan.planning_ms": 0.0}
    for p in plans:
        for phase in ("analysis", "optimization", "planning"):
            ph = p["phases"].get(phase)
            if ph:
                out[f"plan.{phase}_ms"] += ph["end"] - ph["start"]
    return out


def _in(t, span):
    return span["start"] <= t <= span["end"]


def _plan_start(p):
    starts = [ph["start"] for ph in p["phases"].values()]
    return min(starts) if starts else p["end"]


def per_layer_query(record, queries):
    """Per-layer metrics for a query workload."""
    nproc = record["meta"]["nproc"]
    base, traced = record["windows"][0], record["windows"][1]
    spans = {s["id"]: s for s in traced["spans"]}
    passes = sorted((s for s in spans.values() if s["name"] == "pass"), key=lambda s: s["start"])
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    jobs_by_span = {}
    for j in traced["spark_jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    stages_by_job = {}
    for st in traced["spark_stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)

    rows = []
    for ps in passes:
        top = children.get(ps["id"], [])
        qspans = [c for q in top for c in children.get(q["id"], [])]
        builds = [c for c in qspans if c["name"] == "build"]
        actions = [c for c in qspans if c["name"] == "action"]
        jobs = [j for c in qspans for j in jobs_by_span.get(c["id"], [])]
        stages = [st for j in jobs for st in stages_by_job.get(j["id"], [])]
        row = {"queries.build_ms": sum(b["end"] - b["start"] for b in builds),
               "driver.gap_ms": sum(self_time(a, [j for j in jobs_by_span.get(a["id"], [])])
                                    for a in actions),
               "exec.jobs": len(jobs),
               "trace.query_coverage":
                   covered(ps["start"], ps["end"], [(q["start"], q["end"]) for q in top])
                   / max(ps["end"] - ps["start"], 1e-9)}
        row.update(_stage_sums(stages, nproc))
        row.update(_plan_sums([p for p in traced["plans"] if _in(_plan_start(p), ps)]))
        rows.append(row)

    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    if rows:
        out["trace.query_coverage"] = min(r["trace.query_coverage"] for r in rows)
        out["exec.skew_max"] = max(r["exec.skew_max"] for r in rows)
    cache = traced["cache"]
    out["cache.pinned_mb"] = _mb(max([c["bytes"] for c in cache] or [0]))
    out["cache.pinned_entries"] = max([c["entries"] for c in cache] or [0])
    for q in queries:
        out[f"query.{q}_ms"] = median([s["ms"] for s in base["samples"]
                                       if s["name"] == q and s["ok"]])
    out["trace.overhead_frac"] = overhead(
        [median(pass_times_s(w)) for w in record["windows"]])
    out["setup.warm_s"] = sum(g["ms"] for g in record["gate"]) / 1000.0
    return out


def per_layer_api(record):
    """Per-layer metrics for api_with_etl."""
    nproc = record["meta"]["nproc"]
    base, traced = record["windows"][0], record["windows"][1]
    out = {}
    for op in API_OPS:
        out[API_METRIC[op]] = median([r["ms"] for r in base["requests"] if r["op"] == op and r["ok"]])
    api_jobs = [j for j in traced["spark_jobs"] if j["role"] != "etl"]
    n_req = len(traced["requests"])
    out["api.spark_jobs_per_req"] = len(api_jobs) / n_req if n_req else 0.0
    # planning phases per executed query, median over the window
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_ms"] = median([p["phases"][phase]["end"] - p["phases"][phase]["start"]
                                          for p in traced["plans"] if phase in p["phases"]])
    req_spans = [s for s in traced["spans"] if s["name"].startswith("request:")]
    job_iv = [(j["start"], j["end"]) for j in api_jobs if not math.isnan(j["end"])]
    out["driver.gap_ms"] = median([(s["end"] - s["start"]) - covered(s["start"], s["end"], job_iv)
                                   for s in req_spans])
    out.update(_stage_sums(traced["spark_stages"], nproc))
    out["exec.jobs"] = len(traced["spark_jobs"])
    jobs = [j for j in base["jobs"] if j["ok"]]
    out["etl.run_ms"] = median([j["run_ms"] for j in jobs])
    out["etl.upsert_ms"] = median([j["upsert_ms"] for j in jobs])
    out["etl.lookup_ms"] = median([j["lookup_ms"] for j in jobs])
    busy_s = sum(j["ms"] for j in jobs) / 1000.0
    out["etl.load_rows_per_s"] = sum(j["rows"] for j in jobs) / busy_s if busy_s else 0.0
    # the write command of each traced ETL run, matched by target path and time
    writes = [p for p in traced["plans"] if p.get("write")]
    runs = [s for s in traced["spans"] if s["name"] == "run" and s.get("target")]
    waits, jc, tc, files, mb = [], [], [], [], []
    for r in runs:
        mine = [p for p in writes if p["write"]["path"].rstrip("/").endswith(r["target"].rstrip("/"))
                and _in(_plan_start(p), r)]
        if mine:
            w = mine[-1]
            waits.append((r["end"] - r["start"]) - w["duration_ms"])
            jc.append(w["write"]["job_commit_ms"])
            tc.append(w["write"]["task_commit_ms"])
            files.append(w["write"]["files"])
            mb.append(_mb(w["write"]["bytes"]))
    out["etl.wait_ms"] = median(waits)
    out["commit.job_ms"] = median(jc)
    out["commit.task_ms"] = median(tc)
    out["write.files"] = median(files)
    out["write.mb"] = median(mb)
    out["cache.pinned_mb"] = 0.0
    out["cache.pinned_entries"] = 0
    out["trace.overhead_frac"] = overhead(
        [median([r["ms"] for r in w["requests"] if r["ok"]]) for w in record["windows"]])
    out["setup.warm_s"] = (record["warm"]["end"] - record["warm"]["start"]) / 1000.0
    return out
