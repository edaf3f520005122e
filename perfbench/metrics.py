"""Reduce the harness's raw observations into the benchmark's metrics.

Pure functions over the raw JSON the benchmark JVM writes, so every
rule (percentile choice, open-loop latency, ratios and their bases,
span self time) is tested without Spark.
"""
import math
import statistics

PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values):
    """The highest of PERCENTILES with at least MIN_BEYOND samples
    above its rank, as {"p", "value", "n", "beyond"}; None when even the
    median lacks that many."""
    n = len(values)
    for p in PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_BEYOND:
            return {"p": p, "value": percentile(values, p), "n": n, "beyond": n - rank}
    return None


def ratio(num, den):
    """A ratio with its base: {"value", "num", "den"}."""
    return {"value": num / den if den else 0.0, "num": num, "den": den}


def open_loop_latencies_ms(batches):
    """Per-event latency of an open-loop phase: each event's commit time
    minus its due time (not its send time, so a feeder stall counts
    against every event it delayed). Valid events whose payload has no
    timestamp (the producer's `{"id": ...}` shape) carry no due time and
    are left out."""
    return [b["commit_ms"] - due for b in batches for due in b["due_ms"] if due > 0]


def windowed_tail(batches, t0_ms, window_ms, windows):
    """The open loop's tail latency, steadied: the events are split by due
    time into `windows` equal windows from `t0_ms` (events due after the
    last window count in it), each window's tail() is taken, and the
    median window's value is reported, so one slow stretch of the phase
    does not set the figure. Returns the tail() fields of the whole
    phase's samples with "value" replaced by that median and "windows"
    holding each window's tail."""
    per = [[] for _ in range(windows)]
    for b in batches:
        for due in b["due_ms"]:
            if due > 0:
                w = min(windows - 1, max(0, int((due - t0_ms) // window_ms)))
                per[w].append(b["commit_ms"] - due)
    tails = [tail(xs) for xs in per]
    if any(t is None for t in tails):
        raise ValueError("an open-loop window has too few samples for a tail")
    whole = tail([x for xs in per for x in xs])
    return dict(whole, value=statistics.median(t["value"] for t in tails), windows=tails)


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it its
    child spans cover (children of one span never overlap: spans are
    opened from one thread)."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    out = {}
    for s in spans:
        own = s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def reconcile(spans, window_s, pass_s, slack_s):
    """The traced run's bookkeeping law: layer self times sum to no more
    than the traced window, and the query spans of each pass sum to that
    pass's wall time within `slack_s` (the loop's own overhead).
    Returns (holds, unattributed seconds summed over passes)."""
    selfs = self_times(spans)
    passes = {s["id"]: s for s in spans if s["layer"] == "harness"}
    in_pass = {i: 0.0 for i in passes}
    for s in spans:
        if s["parent"] in in_pass:
            in_pass[s["parent"]] += s["end_s"] - s["start_s"]
    gaps = [p["end_s"] - p["start_s"] - in_pass[i] for i, p in passes.items()]
    holds = (sum(selfs.values()) <= window_s + 1e-6
             and all(-1e-6 <= g <= slack_s for g in gaps)
             and all(abs((p["end_s"] - p["start_s"]) - w) <= slack_s
                     for p, w in zip(sorted(passes.values(), key=lambda s: s["start_s"]), pass_s)))
    return holds, sum(gaps)


def batch_metrics(raw, oracle_failures):
    """End-to-end metrics and op counts of a batch run.

    An op is one query execution in a timed pass; it fails if it threw
    or its query's output failed the correctness check. Latency is per
    query (its median over the passes); a list of fewer than 20 queries
    has no percentile with 10 samples beyond it, so the tail reported is
    the nearest-rank p99 of the per-query medians, i.e. the slowest
    query, with its sample count."""
    passes = raw["pass_s"]
    per_query = {}
    failed = 0
    for s in raw["samples"]:
        per_query.setdefault(s["query"], []).append(s["s"] * 1000.0)
        if not s["ok"] or s["query"] in oracle_failures:
            failed += 1
    attempted = len(raw["samples"])
    medians = [statistics.median(v) for v in per_query.values()]
    n = len(medians)
    t = tail(medians) or {"p": 99.0, "value": percentile(medians, 99), "n": n,
                          "beyond": n - math.ceil(0.99 * n)}
    pass_s = statistics.median(passes)
    return {
        "pass_cpu_s": statistics.median(raw["pass_cpu_s"]),
        "pass_jit_s": statistics.median(raw["pass_jit_s"]),
        "passes_cpu_s": raw["pass_cpu_s"],
        "pass_s": pass_s,
        "drain_eps": len(raw["queries"]) / pass_s,
        "latency_p50_ms": statistics.median(medians),
        "latency_p99_ms": t["value"],
        "latency_tail": t,
        "passes": len(passes),
    }, attempted, failed


def events_metrics(raw):
    """End-to-end metrics, op counts and law violations of an events run.

    An op is one event fed; it fails if it is not accounted for exactly
    once (routing), or is counted against a violated conservation law."""
    drains = raw["drains"]
    violations = {}
    attempted = 0
    for i, d in enumerate(drains):
        attempted += d["fed"]
        violations[f"drain{i}.routing"] = abs(d["fed"] - d["valid"] - d["errors"])
        violations[f"drain{i}.metrics"] = d["metrics_mismatched"] + (d["metrics_rows"] == 0)
        violations[f"drain{i}.upsert"] = d["state_violations"]
        violations[f"drain{i}.sequence"] = d["sequence_violations"]
    violations["dropped_by_watermark"] = sum(
        s["dropped"] for d in drains for p in d["progress"] for s in p["state"])
    pass_s = statistics.median(d["processor_s"] + d["aggregation_s"] for d in drains)
    e2e = {
        "pass_cpu_s": statistics.median(d["cpu_s"] for d in drains),
        "pass_jit_s": statistics.median(d["jit_s"] for d in drains),
        "passes_cpu_s": [d["cpu_s"] for d in drains],
        "pass_s": pass_s,
        "drain_eps": statistics.median(d["fed"] for d in drains) / pass_s,
        "drain_s": [d["processor_s"] + d["aggregation_s"] for d in drains],
    }
    o = raw.get("openloop")  # traced runs only
    if o:
        attempted += o["fed"]
        violations["openloop.routing"] = abs(o["fed"] - o["valid"] - o["errors"])
        violations["openloop.sequence"] = o["sequence_violations"]
        violations["openloop.unattributed"] = o["unmapped"] + sum(
            len(b["due_ms"]) for b in o["batches"] if b["commit_ms"] < 0)
        t = windowed_tail(o["batches"], o["t0_ms"], o["window_ms"], o["windows"])
        e2e.update(latency_p50_ms=statistics.median(open_loop_latencies_ms(o["batches"])),
                   latency_p99_ms=t["value"], latency_tail=t)
    return e2e, attempted, sum(violations.values()), violations


# the per-layer metrics only the events workload exercises
STREAMING = (
    "streaming.latency_p50_ms", "streaming.latency_p99_ms", "streaming.trigger_ms_p50",
    "streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.offsets_ms", "streaming.commit_ms", "streaming.state_update_ms",
    "streaming.state_commit_ms", "streaming.state_rows", "streaming.state_bytes",
    "streaming.batches", "streaming.backlog_rows_max", "streaming.dropped_by_watermark",
    "jobs.processor_s", "jobs.aggregation_s", "jobs.source_reads_per_event",
    "feeder.late_ms_p99")


def _sum(xs):
    return float(sum(xs))


def per_layer(raw, e2e):
    """Per-layer metrics of a traced run. Batch counters are per timed
    pass; streaming counters are over the whole workload (0 where a
    layer did not run)."""
    tr = raw["trace"]
    tasks, plans = tr["tasks"], tr["plans"]
    spans = tr["spans"]
    batch = "samples" in raw
    per = len(raw["pass_s"]) if batch else 1
    span_sum = lambda layer: _sum(s["end_s"] - s["start_s"] for s in spans if s["layer"] == layer)
    window = tr["window_s"]
    busy = ratio(tasks.get("run_ms", 0) / 1000.0, window * tr["cores"])
    m = {
        "operators.build_s": span_sum("operators.build") / per,
        "operators.exec_s": span_sum("operators.exec") / per,
        "plans.planning_s": plans.get("planning_s", 0.0) / per,
        "plans.custom_nodes": plans.get("custom_nodes", 0.0) / per,
        "sources.scan_s": plans.get("scan_s", 0.0) / per,
        "sources.scan_tasks": tasks.get("scan_tasks", 0) / per,
        "sources.scan_bytes": tasks.get("scan_bytes", 0) / per,
        "sources.scan_rows": tasks.get("scan_rows", 0) / per,
        "functions.codegen_stage_s": plans.get("codegen_stage_s", 0.0) / per,
        "spark.codegen_compile_s": tr["codegen_compile_s"],
        "jvm.jit_cpu_s": e2e["pass_jit_s"],
        "spark.exchanges": plans.get("exchanges", 0.0) / per,
        "spark.shuffle_write_bytes": tasks.get("shuffle_write_bytes", 0) / per,
        "spark.shuffle_write_s": tasks.get("shuffle_write_ns", 0) / 1e9 / per,
        "spark.shuffle_fetch_wait_s": tasks.get("fetch_wait_ms", 0) / 1e3 / per,
        "spark.spill_bytes": tasks.get("spill_bytes", 0) / per,
        "spark.sort_s": plans.get("sort_s", 0.0) / per,
        "spark.agg_build_s": plans.get("agg_build_s", 0.0) / per,
        "spark.join_build_s": plans.get("join_build_s", 0.0) / per,
        "spark.tasks": tasks.get("tasks", 0) / per,
        "spark.task_run_s": tasks.get("run_ms", 0) / 1e3 / per,
        "spark.task_cpu_s": tasks.get("cpu_ns", 0) / 1e9 / per,
        "spark.gc_s": tasks.get("gc_ms", 0) / 1e3 / per,
        "spark.core_busy_frac": busy["value"],
        "spark.driver_only_s": tasks.get("driver_only_ms", 0) / 1e3 / per,
    }
    bases = {"spark.core_busy_frac": busy}
    m.update(_streaming(raw, bases, e2e))
    holds, gap = reconcile(spans, window, raw.get("pass_s", []), 0.05 + 0.01 * e2e["pass_s"])
    m["trace.unattributed_s"] = gap / per
    return m, bases, holds, self_times(spans)


def _streaming(raw, bases, e2e):
    if "drains" not in raw:
        return dict.fromkeys(STREAMING, 0.0)
    o = raw["openloop"]
    prog = [p for d in raw["drains"] for p in d["progress"]] + o["progress"]
    data = [p for p in prog if p["rows"] > 0]
    dur = lambda p, *ks: sum(p["duration_ms"].get(k, 0) for k in ks)
    per_batch = lambda *ks: statistics.mean(dur(p, *ks) for p in data)
    states = [s for p in data for s in p["state"]]
    fed = sum(d["fed"] for d in raw["drains"]) + o["fed"]
    reads = ratio(_sum(p["rows"] for p in prog
                       if p["query"] in ("valid", "errors")), fed)
    bases["jobs.source_reads_per_event"] = reads
    # source lag in the open-loop phase: events fed by each valid batch's
    # start minus events the valid route had processed before it
    fed_at = [(f["sent_ms"], f["fed"]) for f in o["feeder"]]
    done, lag = 0, [0]
    for p in sorted((p for p in o["progress"] if p["query"] == "valid"), key=lambda p: p["batch"]):
        lag.append(max([n for t, n in fed_at if t <= p["ts_ms"]], default=0) - done)
        done += p["rows"]
    late = [f["sent_ms"] - f["due_ms"] for f in o["feeder"]]
    return {
        # the open loop's latency is wall time, which follows the host's
        # CPU steal, so it is reported here, unbounded
        "streaming.latency_p50_ms": e2e["latency_p50_ms"],
        "streaming.latency_p99_ms": e2e["latency_p99_ms"],
        "streaming.trigger_ms_p50": statistics.median(dur(p, "triggerExecution") for p in data),
        "streaming.add_batch_ms": per_batch("addBatch"),
        "streaming.planning_ms": per_batch("queryPlanning"),
        "streaming.offsets_ms": per_batch("latestOffset", "getBatch"),
        "streaming.commit_ms": per_batch("walCommit", "commitOffsets"),
        "streaming.state_update_ms": _sum(s["update_ms"] for s in states) / len(data),
        "streaming.state_commit_ms": _sum(s["commit_ms"] for s in states) / len(data),
        "streaming.state_rows": float(max((s["rows"] for s in states), default=0)),
        "streaming.state_bytes": float(max((s["bytes"] for s in states), default=0)),
        "streaming.batches": float(len(data)),
        "streaming.backlog_rows_max": float(max(lag)),
        "streaming.dropped_by_watermark": _sum(s["dropped"] for s in states),
        "jobs.processor_s": statistics.median(d["processor_s"] for d in raw["drains"]),
        "jobs.aggregation_s": statistics.median(d["aggregation_s"] for d in raw["drains"]),
        "jobs.source_reads_per_event": reads["value"],
        "feeder.late_ms_p99": float(percentile(late, 99)),
    }
