"""Pure parts of the benchmark: samples, percentiles, checks and metrics.

run.py feeds these the raw record the JVM driver writes; nothing here
touches Spark, files or the clock, so test_benchlib.py covers it.
"""
import math
import statistics

# End-to-end metrics, printed on every workload with --trace 0.
E2E = [
    ("latency_p50_ms", "ms"),
    ("latency_p75_ms", "ms"),
    ("cpu_ms_per_kevent", "ms"),
    ("cold_s", "s"),
    ("setup_s", "s"),
    ("rss_peak_mb", "MB"),
]

MODULES = ["graph", "dedup", "similarity", "prefix_sums", "pipeline",
           "sketches", "text", "windows", "inline"]

STREAM_LAYERS = [
    ("source.offset_ms", "ms"), ("source.lag_ms", "ms"),
    ("microbatch.count", "count"), ("microbatch.duration_p50_ms", "ms"),
    ("microbatch.planning_ms", "ms"), ("microbatch.wal_ms", "ms"),
    ("microbatch.add_batch_ms", "ms"), ("microbatch.task_cpu_ms", "ms"),
    ("state.commit_ms", "ms"), ("state.file_sync_ms", "ms"),
    ("state.rows_total", "count"), ("state.rows_updated", "count"),
    ("state.memory_bytes", "bytes"), ("state.put_count", "count"),
    ("state.get_count", "count"), ("state.bytes_written", "bytes"),
    ("state.late_rows", "count"), ("sink.alert_rows", "count"),
]
BATCH_LAYERS = [
    ("query_wall_s", "s"), ("query_first_wall_s", "s"),
    ("query_wall_p50_s", "s"), ("query_cpu_s", "s"), ("build_wall_s", "s"),
    ("driver.jobs", "count"), ("driver.stages", "count"),
    ("driver.tasks", "count"), ("driver.gap_s", "s"),
    ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("scan.bytes_read", "bytes"), ("scan.records_read", "count"),
    ("shuffle.bytes_read", "bytes"), ("spill.bytes", "bytes"),
    ("build.bytes_written", "bytes"), ("build.jobs", "count"),
] + [(f"module.{m}.{k}", "s") for m in MODULES for k in ("wall_s", "cpu_s")]
SHARED_LAYERS = [("shuffle.bytes_written", "bytes"), ("failed_share", "share"),
                 ("host.steal_share", "share")]
OVERHEAD = [(f"trace_overhead.{n}", u) for n, u in E2E]
PER_LAYER = STREAM_LAYERS + BATCH_LAYERS + SHARED_LAYERS + OVERHEAD

MIN_BEYOND = 10


class NotEnoughSamples(ValueError):
    pass


def percentile(samples, p, min_beyond=MIN_BEYOND):
    """Nearest-rank p-quantile (0 < p < 1). At least `min_beyond` samples
    must lie above the reported rank, otherwise the figure is refused."""
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(p * n))
    if n - rank < min_beyond:
        raise NotEnoughSamples(
            f"p{round(p * 100)} of {n} samples leaves {n - rank} beyond it; "
            f"{min_beyond} needed")
    return xs[rank - 1]


def failed_share(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def alert_latencies(alerts, batches, lo, hi):
    """Latency samples, one per closed (account, window): end of the
    micro-batch that wrote the alert minus the window end. `alerts` holds
    [batch id, window end ms, alerts] groups; windows ending in (lo, hi]
    count."""
    end = {b["id"]: b["end_ms"] for b in batches}
    out = []
    for batch_id, window_end, n in alerts:
        e = end.get(batch_id)
        if e is None:
            raise ValueError(f"alert from batch {batch_id}, which never finished")
        if lo < window_end <= hi:
            out.extend([e - window_end] * n)
    return out


def uncovered(names, module_map):
    """Registered rows with no module, or with one outside MODULES."""
    return sorted(n for n in names if module_map.get(n) not in MODULES)


def check_calls(calls, expected):
    """Failed calls: an error, or a query result whose fingerprint is not
    the recorded one. Builds return nothing and only fail by error."""
    failed = []
    for c in calls:
        if c.get("error"):
            failed.append((c["name"], c["error"]))
        elif c["kind"] == "query" and c["fingerprint"] != expected.get(c["name"]):
            failed.append((c["name"], f"fingerprint {c['fingerprint']} != "
                                      f"{expected.get(c['name'])}"))
    return failed


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def stream_metrics(raw):
    lat = alert_latencies(raw["alerts"], raw["batches"], *raw["latency_windows"])
    e2e = {
        "latency_p50_ms": percentile(lat, 0.50),
        "latency_p75_ms": percentile(lat, 0.75),
        "cpu_ms_per_kevent": raw["cpu_s"] * 1e6 / raw["events"],
        "cold_s": raw["cold_s"],
        "setup_s": _median(raw["setup_s"]),
        "rss_peak_mb": raw["rss_peak_mb"],
    }
    attempted = raw["check"]["attempted"]
    failed = raw["check"]["failed"]
    return e2e, attempted, failed


def stream_layers(raw):
    t0, t1 = raw["interval"]
    steady = [b for b in raw["batches"] if t0 <= b["end_ms"] <= t1]
    if not steady:
        raise ValueError("no micro-batch finished inside the measured interval")

    def dur(k):
        return _median([b["durations"].get(k, 0) for b in steady])

    def state(k, agg=sum):
        return agg([b["state"].get(k, 0.0) for b in steady])

    c = raw["creation_ms"]
    data = [b for b in steady if b["end_off"] > b["start_off"]]
    trace = raw.get("trace") or {}
    ids = {b["id"] for b in steady}
    out = {
        "source.offset_ms": dur("latestOffset"),
        "source.lag_ms": _median([b["start_ms"] - (c + b["end_off"] * 1000)
                                  for b in data]),
        "microbatch.count": len(steady),
        "microbatch.duration_p50_ms": dur("triggerExecution"),
        "microbatch.planning_ms": dur("queryPlanning"),
        "microbatch.wal_ms": _median([b["durations"].get("walCommit", 0) +
                                      b["durations"].get("commitOffsets", 0)
                                      for b in steady]),
        "microbatch.add_batch_ms": dur("addBatch"),
        "microbatch.task_cpu_ms": trace.get("cpu_s", 0.0) * 1000 / len(steady),
        "state.commit_ms": _median([b["state"].get("commitTimeMs", 0.0) for b in steady]),
        "state.file_sync_ms": _median([b["state"].get("rocksdbCommitFileSyncLatencyMs", 0.0)
                                       for b in steady]),
        "state.rows_total": steady[-1]["state"].get("numRowsTotal", 0.0),
        "state.rows_updated": state("numRowsUpdated"),
        "state.memory_bytes": state("memoryUsedBytes", max),
        "state.put_count": state("rocksdbPutCount"),
        "state.get_count": state("rocksdbGetCount"),
        "state.bytes_written": state("rocksdbTotalBytesWritten"),
        "state.late_rows": state("numRowsDroppedByWatermark"),
        "sink.alert_rows": sum(n for b, _, n in raw["alerts"] if b in ids),
        "shuffle.bytes_written": trace.get("shuffle_written", 0.0),
    }
    return out


def batch_metrics(raw, expected):
    passes = raw["passes"]
    second = [c["wall_s"] for p in passes for c in p["calls"]]
    calls = raw["builds"] + raw["first"] + [c for p in passes for c in p["calls"]]
    failed = check_calls(calls, expected)
    krows = raw["input_rows"] / 1000.0
    e2e = {
        "latency_p50_ms": percentile(second, 0.50) * 1000,
        "latency_p75_ms": percentile(second, 0.75) * 1000,
        "cpu_ms_per_kevent": _median([p["cpu_s"] for p in passes]) * 1000 / krows,
        "cold_s": sum(c["wall_s"] for c in raw["builds"] + raw["first"]),
        "setup_s": _median(raw["setup_s"]),
        "rss_peak_mb": raw["rss_peak_mb"],
    }
    return e2e, len(calls), len(failed), failed


def batch_layers(raw, module_map):
    passes = raw["passes"]
    n = len(passes)
    rep = [c for p in passes for c in p["calls"]]

    def tsum(cs, k):
        return sum(c.get("trace", {}).get(k, 0.0) for c in cs)

    out = {
        "query_wall_s": sum(c["wall_s"] for c in rep) / n,
        "query_first_wall_s": sum(c["wall_s"] for c in raw["first"]),
        "query_wall_p50_s": _median([c["wall_s"] for c in rep]),
        "query_cpu_s": sum(p["cpu_s"] for p in passes) / n,
        "build_wall_s": sum(c["wall_s"] for c in raw["builds"]),
        "driver.jobs": tsum(rep, "jobs") / n,
        "driver.stages": tsum(rep, "stages") / n,
        "driver.tasks": tsum(rep, "tasks") / n,
        "driver.gap_s": (sum(c["wall_s"] for c in rep) - tsum(rep, "job_busy_s")) / n,
        "executor.cpu_s": tsum(rep, "cpu_s") / n,
        "executor.gc_s": tsum(rep, "gc_s") / n,
        "scan.bytes_read": tsum(rep, "bytes_read") / n,
        "scan.records_read": tsum(rep, "records_read") / n,
        "shuffle.bytes_read": tsum(rep, "shuffle_read") / n,
        "shuffle.bytes_written": tsum(rep, "shuffle_written") / n,
        "spill.bytes": tsum(rep, "spill") / n,
        "build.bytes_written": tsum(raw["builds"], "bytes_written"),
        "build.jobs": tsum(raw["builds"], "jobs"),
    }
    for m in MODULES:
        cs = [c for c in rep if module_map.get(c["name"]) == m]
        out[f"module.{m}.wall_s"] = sum(c["wall_s"] for c in cs) / n
        out[f"module.{m}.cpu_s"] = tsum(cs, "cpu_s") / n
    return out


def per_layer(raw, layers, share, e2e_traced, e2e_untraced):
    """Every per-layer metric by name; layers a workload does not have
    read 0."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update(layers)
    out["failed_share"] = share
    out["host.steal_share"] = raw.get("host_steal_share", 0.0)
    for name, _ in E2E:
        if e2e_untraced and name in e2e_untraced:
            out[f"trace_overhead.{name}"] = e2e_traced[name] - e2e_untraced[name]
    return out


def result(correct, attempted, failed, values, spec):
    units = dict(spec)
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k, _ in spec},
    }
