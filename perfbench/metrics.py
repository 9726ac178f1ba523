"""Turns one run's raw record (written by perfbench.Main) into metrics.

End-to-end metrics come from the untraced cycles; per-layer metrics come
from the traced layer cycles: every Spark job is attributed to the innermost
span open when it started, every task to its job, and a layer's figures are
the medians over cycles of its per-cycle totals.
"""

import statistics

LAYERS = ["validation", "featurize", "transforms", "train", "localloop",
          "driverloop", "update", "conformal", "losses", "io"]
LAYER_FIELDS = ["s", "jobs", "sql_execs", "tasks", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "task_p50_ms", "task_max_ms",
                "busy_frac"]
MB = float(1 << 20)


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times_ns(spans):
    """Span id -> its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = [(max(c["start_ns"], lo), min(c["end_ns"], hi))
                   for c in children.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - union_length([(a, b) for a, b in covered if b > a])
    return out


def innermost(spans, t_ms):
    """The span open at wall-clock millisecond `t_ms` that started last
    (spans nest, so that is the innermost one), or None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"] and (best is None or s["start_ns"] > best["start_ns"]):
            best = s
    return best


def attribute(trace):
    """Job id -> owning span, and SQL execution start -> owning span."""
    spans = trace["spans"]
    jobs = {j["id"]: innermost(spans, j["start_ms"]) for j in trace["jobs"]}
    sqls = [innermost(spans, t) for t in trace["sql_starts_ms"]]
    return jobs, sqls


def layer_metrics(record):
    """`<layer>.<field>` medians over the traced layer cycles, plus
    driverloop.jobs_per_step and trace_overhead_pct."""
    trace = record["trace"]
    cores = record["cores"]
    spans = trace["spans"]
    selfs = self_times_ns(spans)
    job_span, sql_spans = attribute(trace)
    fields = trace["task_fields"]
    tasks_by_job = {}
    for t in trace["tasks"]:
        t = dict(zip(fields, t))
        tasks_by_job.setdefault(t["job"], []).append(t)
    cycles = sorted({s["cycle"] for s in spans if s["name"] == "cycle"})
    out = {}
    rows_of = {}
    for layer in LAYERS:
        rows = []
        for c in cycles:
            own = [s for s in spans if s["name"] == layer and s["cycle"] == c]
            ids = {s["id"] for s in own}
            secs = sum(selfs[i] for i in ids) / 1e9
            jobs = [j for j, s in job_span.items() if s is not None and s["id"] in ids]
            tasks = [t for j in jobs for t in tasks_by_job.get(j, [])]
            durs = sorted(t["duration_ms"] for t in tasks)
            run_s = sum(t["run_ms"] for t in tasks) / 1e3
            rows.append({
                "s": secs,
                "jobs": len(jobs),
                "sql_execs": sum(1 for s in sql_spans if s is not None and s["id"] in ids),
                "tasks": len(tasks),
                "shuffle_read_mb": sum(t["shuffle_read_b"] for t in tasks) / MB,
                "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / MB,
                "spill_mb": sum(t["spill_b"] for t in tasks) / MB,
                "task_p50_ms": median(durs),
                "task_max_ms": durs[-1] if durs else 0,
                "busy_frac": run_s / (secs * cores) if secs > 0 else 0.0,
            })
        rows_of[layer] = rows
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = median(r[f] for r in rows)
    steps = [lc.get("driverloop_steps", 0) for lc in record["layer_cycles"]]
    out["driverloop.jobs_per_step"] = median(
        r["jobs"] / n for r, n in zip(rows_of["driverloop"], steps) if n > 0)
    untraced = median(cycle_walls(record))
    traced = median(record["traced_cycle_s"])
    out["trace_overhead_pct"] = 100.0 * (traced - untraced) / untraced if untraced > 0 else 0.0
    return out


def cycle_walls(record):
    return [sum(c["wall_s"] for c in cyc["calls"]) for cyc in record["cycles"]]


def calls_of(record, kind):
    return [c for cyc in record["cycles"] for c in cyc["calls"] if c["kind"] == kind]


def end_to_end_metrics(record):
    calls = [c for cyc in record["cycles"] for c in cyc["calls"]]
    wall = sum(c["wall_s"] for c in calls)
    return {
        "setup_s": record["session_s"] + median(record["gen_s"]) + record["warm_s"],
        "fit_s": median(c["wall_s"] for c in calls_of(record, "fit")),
        "predict_s": median(c["wall_s"] for c in calls_of(record, "predict")),
        "pipeline_s": median(cycle_walls(record)),
        "forecasts_per_s": sum(c["forecasts"] for c in calls) / wall if wall > 0 else 0.0,
        "cpu_s": median(c["cpu_s"] for c in record["cycles"]),
        "peak_rss_mb": record["peak_rss_mb"],
        "smape": record["smape"],
    }


def call_summary(record):
    """Median wall per call kind, for the run's record line."""
    kinds = sorted({c["kind"] for cyc in record["cycles"] for c in cyc["calls"]})
    return {k + "_s": median(c["wall_s"] for c in calls_of(record, k)) for k in kinds}
