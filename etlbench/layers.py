"""Per-layer metrics of a traced run, from the tracer's spans, Spark
jobs, store deltas and the stream listener's epochs.

Times are per op (ms) unless named per call; counts and bytes are
totals over the timed phase, so they repeat exactly for a given seed.

:func:`per_layer` returns two dicts. ``metrics`` holds what every
workload measures: Spark, the txlog read and commit path, the
harness's own time, and layer counters (a count is 0 where the workload
never calls the layer). ``details`` holds the times of layers only some
workloads call (etl, recon, ivm, stream, and txlog per verb); they go
into the run's context line, because a time that reads 0 on every run
of a workload is no measurement.
"""

from __future__ import annotations

from collections import defaultdict

from etlbench.tracing import layer_times, median

WRITE_VERBS = ("append", "merge", "overwrite_dynamic", "delete", "update")
LAYERS = ("bench", "etl", "txlog", "recon", "ivm", "stream", "spark", "trace")
SHARED_LAYERS = ("bench", "txlog", "spark")


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total * 1000.0


def per_layer(wl, tracer, wall_s: float) -> tuple[dict, dict]:
    ops = wl.bench.ops
    n = max(1, len(ops))
    spans_of, jobs_of, over_of = defaultdict(list), defaultdict(list), defaultdict(list)
    for s in tracer.spans:
        spans_of[s["op"]].append(s)
    for j in tracer.jobs:
        jobs_of[j["op"]].append(j)
    for o in tracer.overhead:
        over_of[o["op"]].append(o)

    layer_ms: dict[str, float] = defaultdict(float)
    name_ms: dict[str, float] = defaultdict(float)
    job_ms = driver_ms = unaccounted = 0.0
    for op in ops:
        by_layer, by_name = layer_times(op, spans_of[op["id"]], jobs_of[op["id"]],
                                        over_of[op["id"]])
        for k, v in by_layer.items():
            layer_ms[k] += v
        for k, v in by_name.items():
            name_ms[k] += v
        wall = (op["t1"] - op["t0"]) * 1000.0
        union = _union_ms([(max(j["t0"], op["t0"]), min(j["t1"], op["t1"]))
                           for j in jobs_of[op["id"]] if j["t1"] > j["t0"]])
        job_ms += union
        driver_ms += wall - union
        unaccounted += wall - sum(by_layer.values())

    jobs = tracer.jobs
    m: dict[str, tuple[float, str]] = {}
    d: dict[str, tuple[float, str]] = {}
    m["spark.jobs"] = (len(jobs), "count")
    m["spark.stages"] = (sum(j["stages"] for j in jobs), "count")
    m["spark.tasks"] = (sum(j["tasks"] for j in jobs), "count")
    m["spark.job_ms"] = (job_ms / n, "ms")
    m["spark.driver_ms"] = (driver_ms / n, "ms")
    m["spark.executor_run_ms"] = (sum(j["run_ms"] for j in jobs) / n, "ms")
    m["spark.executor_cpu_ms"] = (sum(j["cpu_ms"] for j in jobs) / n, "ms")
    for k in ("input_bytes", "shuffle_bytes", "output_bytes"):
        m[f"spark.{k}"] = (sum(j[k] for j in jobs), "bytes")

    for name in ("init", "source_view", "hooks", "operate", "clean"):
        d[f"etl.{name}_ms"] = (name_ms.get(f"etl.{name}", 0.0) / n, "ms")

    writes = tracer.writes
    for verb in WRITE_VERBS:
        ws = [w for w in writes if w["verb"] == verb]
        d[f"txlog.op_ms.{verb}"] = (
            sum(w["t1"] - w["t0"] for w in ws) * 1000.0 / len(ws) if ws else 0.0, "ms")
    for k in ("commits", "checkpoints", "log_bytes", "files_added", "files_removed"):
        m[f"txlog.{k}"] = (sum(w.get(k, 0) for w in writes), "bytes" if k == "log_bytes" else "count")
    m["txlog.bytes_written"] = (sum(w.get("bytes", 0) for w in writes), "bytes")
    resolves = [s for s in tracer.spans if s["name"] == "txlog.resolve"]
    m["txlog.resolve_calls"] = (len(resolves), "count")
    m["txlog.resolve_ms"] = (sum(s["t1"] - s["t0"] for s in resolves) * 1000.0 / n, "ms")
    merges = [w for w in writes if w["verb"] == "merge"]
    # rows, not bytes: scans through the txlog Python data source report
    # in-memory row bytes as input bytes, not file bytes
    read = sum(j["input_rows"] for w in merges for j in jobs
               if j["op"] == w["op"] and w["t0"] <= j["t0"] <= w["t1"])
    rows_of = {op["id"]: op["rows"] for op in ops}
    base = sum(w["live_rows"] + rows_of.get(w["op"], 0) for w in merges)
    m["txlog.merge_rows_read_frac"] = (read / base if base else 0.0, "ratio")
    sqls = sum(1 for s in tracer.spans if s["name"] == "txlog.sql")
    d["txlog.sql_plan_ms"] = (name_ms.get("txlog.sql", 0.0) / sqls if sqls else 0.0, "ms")

    recon_ops = {op["id"] for op in ops if op["kind"].startswith("recon")}
    nr = max(1, len(recon_ops))
    for name in ("query", "calculate", "join", "collect"):
        d[f"recon.{name}_ms"] = (name_ms.get(f"recon.{name}", 0.0) / nr, "ms")
    m["recon.jobs"] = (sum(1 for j in jobs if j["op"] in recon_ops), "count")

    refreshes = [s for s in tracer.spans if s["name"] == "ivm.refresh"]
    nf = max(1, len(refreshes))
    m["ivm.refreshes"] = (len(refreshes), "count")
    d["ivm.refresh_ms"] = (sum(s["t1"] - s["t0"] for s in refreshes) * 1000.0 / nf, "ms")
    parent = {s["id"]: s for s in tracer.spans}

    def in_refresh(span_id) -> bool:
        s = parent.get(span_id)
        while s is not None:
            if s["name"] == "ivm.refresh":
                return True
            s = parent.get(s["parent"])
        return False

    stream_ops = {op["id"] for op in ops if op.get("epochs") is not None}
    m["ivm.refresh_commits"] = (sum(w.get("commits", 0) for w in writes if in_refresh(w["span"])), "count")
    m["ivm.cdf_rows"] = (sum(w.get("rows_added", 0) for w in writes
                             if w["op"] in stream_ops and not in_refresh(w["span"])), "count")

    epochs = [e for op in ops for e in op.get("epochs", [])]
    m["stream.epochs"] = (len(epochs), "count")
    d["stream.epoch_ms"] = (median([e["trigger_ms"] for e in epochs]), "ms")
    d["stream.handler_ms"] = (median([e["add_ms"] for e in epochs]), "ms")
    d["stream.overhead_ms"] = (median([e["trigger_ms"] - e["add_ms"] for e in epochs]), "ms")

    for layer in LAYERS:
        (m if layer in SHARED_LAYERS else d)[f"self_ms.{layer}"] = (
            layer_ms.get(layer, 0.0) / n, "ms")
    d["trace.unaccounted_ms"] = (unaccounted / n, "ms")
    # all bookkeeping, including the status-store read after each op,
    # which self_ms.trace leaves out because it falls outside the op
    m["trace.overhead_ms"] = (sum(o["t1"] - o["t0"] for o in tracer.overhead) * 1000.0 / n, "ms")
    m["trace.wall_s"] = (wall_s, "s")

    def as_json(x):
        return {k: {"value": v, "unit": u} for k, (v, u) in x.items()}

    return as_json(m), as_json(d)
