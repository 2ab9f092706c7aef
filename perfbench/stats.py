"""Arithmetic of the serving benchmark: turns the raw records one JVM run
writes (request intervals, outcomes, spans, Spark jobs) into the reported
metrics. Kept free of I/O so test_stats.py can check it directly."""

import math
import statistics

US_PER_MS = 1000.0
# set-ups left out of setup_s: the cold first one, and the next four, which
# run while the JIT still compiles the set-up path and trend downwards
SETUP_SKIPPED = 5


def median(values):
    return statistics.median(values) if values else None


def percentile(values, p, min_beyond=10):
    """The p-quantile (0 < p < 1, nearest rank) of `values`, or None unless
    at least `min_beyond` samples lie beyond it."""
    n = len(values)
    rank = math.ceil(p * n)
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(start, end, intervals):
    """Length of [start, end] that `intervals` cover."""
    return union_length([(max(s, start), min(e, end)) for s, e in intervals])


def self_time(span, children):
    """A span's duration minus the union of its children's intervals."""
    return (span[1] - span[0]) - covered(span[0], span[1], children)


def failures(records):
    """(attempted, failed, error_rate) over request records; a record fails
    when its status is not 200 or its answer was wrong (`ok` false)."""
    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"] or r["status"] != 200)
    return attempted, failed, (failed / attempted if attempted else None)


# ---- end to end ----

def end_to_end(raw):
    """Metrics of an untraced run, plus details reported only in the
    artifact (the p90 where it has enough samples, the sample count)."""
    recs = raw["requests"]
    lat = [(r["end_us"] - r["start_us"]) / 1e6 for r in recs]
    attempted, failed, error_rate = failures(recs)
    ok = [r for r in recs if r["ok"]]
    span_s = (max(r["end_us"] for r in recs) - raw["phase_start_us"]) / 1e6 if recs else None
    metrics = {
        "latency_p50_s": (median(lat), "s"),
        "throughput_qps": (len(ok) / span_s if span_s else None, "1/s"),
        "setup_s": (median(raw["setup_s"][SETUP_SKIPPED:]), "s"),
        "heap_after_gc_mb": (raw["heap_after_gc_mb"], "MB"),
    }
    extra = {
        # the first set-up of the run, the only one that pays class loading
        # and one-time initialisation; setup_s is a warm median
        "setup_cold_s": raw["setup_s"][0],
        "latency_p90_s": percentile(lat, 0.9),
        "latency_samples": len(lat),
        "error_rate": error_rate,
        "attempted": attempted,
        "failed": failed,
    }
    return metrics, extra


# ---- per layer ----

def _jobs_within(span, jobs):
    lo, hi = span[0] // 1000, span[1] // 1000 + 1
    return [j for j in jobs if lo <= j["start_ms"] <= hi]


def _job_intervals_us(jobs):
    return [(j["start_ms"] * US_PER_MS, j["end_ms"] * US_PER_MS) for j in jobs]


def driver_ms(span, jobs):
    """Wall of `span` (µs interval) not covered by any of `jobs` (epoch-ms
    intervals), in ms: the driver-side share of an execution."""
    return self_time(span, _job_intervals_us(jobs)) / US_PER_MS


def per_layer(raw):
    spans = raw["spans"]
    jobs = raw["jobs"]
    by_req = {}
    for s in spans:
        by_req.setdefault(s["request"], {})[s["name"]] = s
    jobs_by_req = {}
    for j in jobs:
        jobs_by_req.setdefault(j["request"], []).append(j)

    def iv(s):
        return (s["start_us"], s["end_us"])

    def ms(s):
        return (s["end_us"] - s["start_us"]) / US_PER_MS

    reqs = [(r, ss) for r, ss in sorted(by_req.items()) if "request" in ss]
    kind = {r: ss["request"]["kind"] for r, ss in reqs}

    def over(kinds, f):
        return [f(r, ss) for r, ss in reqs if kind[r] in kinds]

    def exec_jobs(r, ss):
        return _jobs_within(iv(ss["plans.exec"]), jobs_by_req.get(r, []))

    def exec_sum(field):
        return lambda r, ss: sum(j[field] for j in exec_jobs(r, ss))

    def read_attr(name):
        return lambda r, ss: ss["sources.read"]["attrs"][name]

    sources = ("sources.resolve", "sources.partition_prune", "sources.zone_prune", "sources.read")
    pruned = ("static", "delta")

    def handler_ms(ss):
        return sum(ms(ss[n]) for n in
                   ("server.session", "model.parse", "plans.run", "plans.exec", "server.encode"))

    def engine_ms(ss):
        return sum(ms(ss[n]) for n in ("model.parse", "plans.run", "plans.exec"))

    def ratio(kinds, num, den):
        a, b = median(over(kinds, num)), median(over(kinds, den))
        return a / b if a is not None and b else None

    m = {
        "server.overhead_ms": (median(over(pruned, lambda r, ss: ms(ss["http"]) - handler_ms(ss))), "ms"),
        "server.session_ms": (median(over(pruned, lambda r, ss: ms(ss["server.session"]))), "ms"),
        "server.encode_ms": (median(over(("wide",), lambda r, ss: ms(ss["server.encode"]))), "ms"),
        "server.response_bytes": (median(over(("wide",), lambda r, ss:
                                              ss["server.encode"]["attrs"]["response_bytes"])), "bytes"),
        "model.parse_ms": (median(over(pruned, lambda r, ss: ms(ss["model.parse"]))), "ms"),
        "sources.resolve_static_ms": (median(over(("static",), lambda r, ss: ms(ss["sources.resolve"]))), "ms"),
        "sources.resolve_delta_ms": (median(over(("delta",), lambda r, ss: ms(ss["sources.resolve"]))), "ms"),
        "sources.partition_prune_ms": (median(over(pruned, lambda r, ss: ms(ss["sources.partition_prune"]))), "ms"),
        "sources.zone_prune_ms": (median(over(pruned, lambda r, ss: ms(ss["sources.zone_prune"]))), "ms"),
        "sources.read_ms": (median(over(pruned, lambda r, ss: ms(ss["sources.read"]))), "ms"),
        "sources.files_total": (median(over(pruned, read_attr("files_total"))), "count"),
        "sources.files_after_partition": (median(over(pruned, read_attr("files_after_partition"))), "count"),
        "sources.files_after_zone": (median(over(pruned, read_attr("files_after_zone"))), "count"),
        "sources.bytes_planned": (median(over(pruned, read_attr("bytes_planned"))), "bytes"),
        "plans.run_ms": (median(over(pruned, lambda r, ss:
                                     ms(ss["plans.run"]) - sum(ms(ss[n]) for n in sources))), "ms"),
        "plans.driver_ms": (median(over(pruned, lambda r, ss:
                                        driver_ms(iv(ss["plans.exec"]), exec_jobs(r, ss)))), "ms"),
        "plans.exec_ms": (median(over(("scan",), lambda r, ss: ms(ss["plans.exec"]))), "ms"),
        "plans.jobs": (median(over(pruned, lambda r, ss: len(exec_jobs(r, ss)))), "count"),
        "plans.stages": (median(over(pruned, exec_sum("stages"))), "count"),
        "plans.tasks": (median(over(pruned, exec_sum("tasks"))), "count"),
        "plans.failed_tasks": (sum(j["failed_tasks"] for j in jobs), "count"),
        "plans.shuffle_write_bytes": (median(over(("scan",), exec_sum("shuffle_write_bytes"))), "bytes"),
        "plans.shuffle_fetch_wait_ms": (median(over(("scan",), exec_sum("shuffle_fetch_wait_ms"))), "ms"),
        "plans.executor_run_ms": (median(over(("scan",), exec_sum("executor_run_ms"))), "ms"),
        "plans.max_task_ms": (median(over(("scan",), lambda r, ss:
                                          max([j["max_task_ms"] for j in exec_jobs(r, ss)] or [0]))), "ms"),
    }
    for name, kinds in (("pruned_interactive", pruned), ("scan_reduce", ("scan",))):
        m[f"plans.input_bytes.{name}"] = (median(over(kinds, exec_sum("input_bytes"))), "bytes")
        m[f"plans.input_rows.{name}"] = (median(over(kinds, exec_sum("input_rows"))), "count")
    m["plans.overhead_ratio.pruned_interactive"] = (
        ratio(("static",), lambda r, ss: engine_ms(ss), lambda r, ss: ms(ss["direct"])), "ratio")
    m["plans.overhead_ratio.scan_reduce"] = (
        ratio(("scan",), lambda r, ss: engine_ms(ss), lambda r, ss: ms(ss["direct"])), "ratio")
    runs = {}  # operator span name -> one (wall, jobs) per traced run
    for r, ss in sorted(by_req.items()):
        for name, s in ss.items():
            if name.startswith("operators."):
                runs.setdefault(name, []).append((s, _jobs_within(iv(s), jobs_by_req.get(r, []))))
    for name, rs in runs.items():
        m[f"{name}.wall_s"] = (median([ms(s) / 1000.0 for s, _ in rs]), "s")
        m[f"{name}.jobs"] = (median([len(js) for _, js in rs]), "count")
        m[f"{name}.tasks"] = (median([sum(j["tasks"] for j in js) for _, js in rs]), "count")
        m[f"{name}.shuffle_write_bytes"] = (
            median([sum(j["shuffle_write_bytes"] for j in js) for _, js in rs]), "bytes")
        m[f"{name}.driver_ms"] = (median([driver_ms(iv(s), js) for s, js in rs]), "ms")
    # the same HTTP request with the job listener attached over without it
    m["trace_overhead_ratio"] = (ratio(
        pruned,
        lambda r, ss: ms(ss["http"]),
        lambda r, ss: ms(ss["http.untraced"])), "ratio")
    return m
