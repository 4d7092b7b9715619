"""Statistics and layer accounting over one harness run's raw output."""
import statistics
from datetime import datetime

MIN_BEYOND = 10


def tail(samples):
    """The highest percentile that still has at least MIN_BEYOND samples
    above it, as (value, percentile, samples beyond). It is the order
    statistic n - MIN_BEYOND; when that would fall at or below the median,
    the median is used."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - MIN_BEYOND  # 1-based rank
    if k <= n / 2:
        return statistics.median(xs), 50.0, n // 2
    return xs[k - 1], 100.0 * k / n, MIN_BEYOND


def ok_frac(attempted, failed):
    """Share of attempted requests that returned a verified result."""
    if attempted <= 0:
        raise ValueError("no requests attempted")
    return (attempted - failed) / attempted


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span):
    """A span's duration minus the part of it its children cover."""
    kids = [(c["start"], c["end"]) for c in span.get("children", [])]
    return span["end"] - span["start"] - covered(kids, span["start"], span["end"])


def edge_sort(entries, counters):
    """Sums over the edge pass: (sink_s, body_s, edge_sort_s, edge_sort_jobs).
    A query without a root Sort has no edge sort and contributes 0."""
    sink = body = edge = jobs = 0.0
    for e in entries:
        if not e.get("sorted"):
            continue
        sink += e["sink_s"]
        body += e["body_s"]
        edge += e["sink_s"] - e["body_s"]
        jobs += (counters.get(e["sink_key"], {}).get("jobs", 0)
                 - counters.get(e["body_key"], {}).get("jobs", 0))
    return sink, body, edge, jobs


def _iso(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def spans(requests, plans, streams, counters):
    """One root span per request with queries/plans/exec children and the
    listener counters of its build and sink phases; stream micro-batches
    started by the request nest under its queries span."""
    by_key = {}
    for p in streams:
        by_key.setdefault(p["key"], []).append(p)
    out = []
    for r in requests:
        key = r["key"]
        batches = []
        for p in by_key.get(key + "|build", []):
            start = _iso(p["timestamp"])
            batches.append(dict(name="streaming", start=start,
                                end=start + p["durations"].get("triggerExecution", 0) / 1e3,
                                batch_id=p["batch_id"], input_rows=p["input_rows"]))
        children = [dict(name="queries", start=r["start"], end=r["built"], children=batches)]
        phases = plans.get(key + "|sink", [])
        exec_start = r["built"]
        if phases:
            names = {"analysis": "analyze", "optimization": "optimize", "planning": "physical"}
            kids = [dict(name=names.get(ph, ph), start=a / 1e3, end=b / 1e3) for ph, a, b in phases]
            lo, hi = min(k["start"] for k in kids), max(k["end"] for k in kids)
            children.append(dict(name="plans", start=lo, end=hi, children=kids))
            exec_start = max(exec_start, hi)
        children.append(dict(name="exec", start=exec_start, end=r["end"]))
        events = {ph: counters[f"{key}|{ph}"] for ph in ("build", "sink") if f"{key}|{ph}" in counters}
        out.append(dict(name="request", query=r["name"], client=r["client"], key=key,
                        start=r["start"], end=r["end"], error=r["error"], events=events,
                        children=children))
    return out


def _walk(span):
    yield span
    for c in span.get("children", []):
        yield from _walk(c)


# the planning phases are leaves of the plans layer
LAYER_OF = {"analyze": "plans", "optimize": "plans", "physical": "plans"}


def layer_self_times(roots):
    """Summed self time per layer over every request tree."""
    acc = {}
    for root in roots:
        for s in _walk(root):
            layer = LAYER_OF.get(s["name"], s["name"])
            acc[layer] = acc.get(layer, 0.0) + self_time(s)
    return acc


def per_layer(out):
    """Every per-layer metric of a traced run (values only)."""
    reqs = out["requests"]
    counters, plans, streams = out["counters"], out["plans"], out["streams"]
    keys = {r["key"] for r in reqs}

    def total(field, phase=None):
        return sum(v.get(field, 0) for k, v in counters.items()
                   if k.split("|")[0] in keys and (phase is None or k.endswith("|" + phase)))

    roots = spans(reqs, plans, streams, counters)
    selfs = layer_self_times(roots)
    sink, body, edge, edge_jobs = edge_sort(out["edge"], counters)
    phase_s = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for k, v in plans.items():
        if k.split("|")[0] in keys:
            for ph, a, b in v:
                phase_s[ph] = phase_s.get(ph, 0.0) + (b - a) / 1e3
    mine = [p for p in streams if p["key"] and p["key"].split("|")[0] in keys]
    dur = lambda *names: sum(p["durations"].get(n, 0) for p in mine for n in names) / 1e3
    build_s = sum(r["built"] - r["start"] for r in reqs)
    streamed = {p["key"] for p in mine}
    stream_build_s = sum(r["built"] - r["start"] for r in reqs if r["key"] + "|build" in streamed)
    m = {
        "exec.sink_s": sink, "exec.body_s": body, "exec.edge_sort_s": edge,
        "exec.edge_sort_jobs": edge_jobs,
        "exec.jobs": total("jobs"), "exec.stages": total("stages"), "exec.tasks": total("tasks"),
        "exec.task_overhead_s": (total("task_ms") - total("run_ms")) / 1e3,
        "exec.executor_run_s": total("run_ms") / 1e3, "exec.executor_cpu_s": total("cpu_ns") / 1e9,
        "exec.task_gc_s": total("gc_ms") / 1e3, "exec.input_bytes": total("input_bytes"),
        "exec.shuffle_read_bytes": total("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": total("shuffle_write_bytes"),
        "exec.spill_bytes": total("spill_bytes"), "exec.failed_tasks": total("failed_tasks"),
        "queries.build_s": build_s, "queries.build_jobs": total("jobs", "build"),
        "plans.analyze_s": phase_s["analysis"], "plans.optimize_s": phase_s["optimization"],
        "plans.physical_s": phase_s["planning"],
        "streaming.batches": len(mine),
        "streaming.nodata_batches": sum(1 for p in mine if p["input_rows"] == 0),
        "streaming.trigger_s": dur("triggerExecution"), "streaming.add_batch_s": dur("addBatch"),
        "streaming.wal_commit_s": dur("walCommit", "commitOffsets"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.input_rows": sum(p["input_rows"] for p in mine),
        "streaming.state_rows": sum(p["state_rows"] for p in mine),
        "streaming.harness_s": stream_build_s - dur("triggerExecution"),
        "sources.warm_s": out["warm_resolved"] - out["loaded"],
        "sources.warm_hooks": out["warm_hooks"], "sources.artifacts_built": out["artifacts_built"],
        "sources.artifact_bytes": out["artifact_bytes"],
        "sources.artifact_build_s": out["artifact_build_s"],
        "sources.artifacts_built_timed": out["artifacts_built_timed"],
        "jvm.gc_s": out["gc_s"], "jvm.heap_peak_mb": out["heap_peak_mb"],
        "jvm.peak_rss_mb": out["rss_peak_mb"],
        "trace.wall_s": timed_wall(out),
    }
    for layer in ("request", "queries", "streaming", "plans", "exec"):
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    return m, roots


def timed_wall(out):
    """The timed phase's wall clock as rounds × the median round, so one
    round hit by outside load does not move it."""
    return len(out["round_walls"]) * statistics.median(out["round_walls"])


def end_to_end(out, failed):
    """The end-to-end metrics of a run, given the queries whose results were
    wrong, plus tail details and the failed-request count."""
    reqs = out["requests"]
    bad = lambda r: r["error"] or r["name"] in failed
    good = [r for r in reqs if not bad(r)]
    if not good:
        raise ValueError("no request returned a verified result")
    lat = [r["end"] - r["start"] for r in good]
    t, pct, beyond = tail(lat)
    n_failed = len(reqs) - len(good)
    return {
        "setup_s": out["timed_start"] - out["launch"],
        "wall_s": timed_wall(out),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": t,
        "ok_frac": ok_frac(len(reqs), n_failed),
    }, dict(tail_percentile=pct, tail_beyond=beyond, samples=len(good)), n_failed
