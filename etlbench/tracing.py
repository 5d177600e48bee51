"""Measurement from outside the engine: per-op timing, epoch latency,
bytes written, and (traced runs only) spans, Spark job data and store
deltas.

Nothing here edits ``x_spark``. Traced runs wrap the engine's public
functions at run time (:meth:`Tracer.install`, undone by
:meth:`Tracer.uninstall`), tag each op's Spark jobs with a job group,
and read Spark's status store once per op. Spans stay in memory and are
written out when the run ends.

Attribution: within one op, every instant goes to exactly one layer.
Tracer bookkeeping wins, then a running Spark job, then the innermost
open span. So the layers' self times add up to the op's wall time.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_COMMIT_RE = re.compile(r"^\d+\.json$")
_CHECKPOINT_RE = re.compile(r"^\d+\.checkpoint\.json$")


def dir_sizes(root: str) -> dict[str, int]:
    """{relative path: size} of every file under ``root``."""
    out: dict[str, int] = {}
    if not os.path.isdir(root):
        return out
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                pass  # removed between listing and stat
    return out


def bytes_added(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(max(0, s - before.get(p, 0)) for p, s in after.items())


class EpochListener(StreamingQueryListener):
    """Collects one record per micro-batch that read rows."""

    def __init__(self) -> None:
        self.epochs: list[dict] = []
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows <= 0:
            return
        d = p.durationMs
        with self._lock:
            self.epochs.append({
                "batch": p.batchId, "rows": p.numInputRows,
                "trigger_ms": float(d.get("triggerExecution", 0)),
                "add_ms": float(d.get("addBatch", 0)),
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def wait_terminated(self, count: int, timeout_s: float = 30.0) -> None:
        """Listener events arrive asynchronously; wait for the
        termination of the ``count``-th query so its last progress
        event is in."""
        deadline = time.monotonic() + timeout_s
        while self.terminated < count:
            if time.monotonic() > deadline:
                raise TimeoutError(f"streaming query {count} never reported termination")
            time.sleep(0.01)


class Tracer:
    """Spans, Spark jobs and store deltas, grouped by op.

    With ``enabled=False`` every hook is a no-op and nothing is wrapped,
    so untraced runs time the engine as a user would call it.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.writes: list[dict] = []
        self.overhead: list[dict] = []
        self.op: dict | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._patched: list[tuple[object, str, object, bool]] = []
        self._next_job = 0

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled or self.op is None or getattr(self._local, "quiet", False):
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = {"id": next(self._ids), "parent": parent["id"] if parent else None,
              "depth": parent["depth"] + 1 if parent else 0, "op": self.op["id"],
              "name": name, "layer": layer, "t0": time.time(), "t1": None}
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            stack.pop()
            self.spans.append(sp)

    @contextmanager
    def bookkeeping(self):
        """Tracer work inside an op: timed as layer ``trace`` and kept
        out of the engine's spans."""
        self._local.quiet = True
        t0 = time.time()
        try:
            yield
        finally:
            self._local.quiet = False
            if self.op is not None:
                self.overhead.append({"op": self.op["id"], "t0": t0, "t1": time.time()})

    # -- ops ---------------------------------------------------------------
    def begin_op(self, op: dict) -> None:
        self.op = op
        if not self.enabled:
            return
        self.spark.sparkContext.setJobGroup(f"etlbench-op-{op['id']}", op["kind"])
        root = {"id": next(self._ids), "parent": None, "depth": 0, "op": op["id"],
                "name": f"op.{op['kind']}", "layer": "bench", "t0": None, "t1": None}
        self._main_stack.append(root)
        op["root"] = root

    def end_op(self, op: dict) -> None:
        if self.enabled:
            root = self._main_stack.pop()
            root["t1"] = op["t1"]
            self.spans.append(root)
            with self.bookkeeping():
                self._collect_jobs(op)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.op = None

    def skip_jobs(self) -> None:
        """Start attribution after every job submitted so far (set-up)."""
        if self.enabled:
            self._collect_jobs(None)

    def _collect_jobs(self, op: dict | None) -> None:
        """Every job submitted since the previous op belongs to this op:
        the benchmark is one closed-loop client, so job ids in between
        are this op's, tagged (driver thread) or not (foreachBatch
        threads)."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        while True:
            try:
                j = store.job(self._next_job)
            except Exception:  # py4j NoSuchElementException: no more jobs
                break
            self._next_job += 1
            if op is None:
                continue
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            rec = {"op": op["id"], "job": j.jobId(), "group": group,
                   "t0": j.submissionTime().get().getTime() / 1000.0,
                   "t1": j.completionTime().get().getTime() / 1000.0
                   if j.completionTime().isDefined() else op["t1"],
                   "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
                   "input_bytes": 0, "input_rows": 0, "shuffle_bytes": 0, "output_bytes": 0}
            ids = j.stageIds()
            for i in range(ids.length()):
                try:
                    s = store.lastStageAttempt(ids.apply(i))
                except Exception:  # py4j: stage never registered
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numTasks()
                rec["run_ms"] += s.executorRunTime()
                rec["cpu_ms"] += s.executorCpuTime() / 1e6
                rec["input_bytes"] += s.inputBytes()
                rec["input_rows"] += s.inputRecords()
                rec["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                rec["output_bytes"] += s.outputBytes()
            self.jobs.append(rec)

    # -- wrapping ----------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        own = attr in vars(owner)
        fn = vars(owner)[attr] if own else getattr(owner, attr)
        setattr(owner, attr, functools.wraps(fn)(make(fn)))
        self._patched.append((owner, attr, fn, own))

    def wrap(self, owner, attr: str, name: str, layer: str) -> None:
        tracer = self

        def make(fn):
            def wrapper(*a, **k):
                with tracer.span(name, layer):
                    return fn(*a, **k)
            return wrapper

        self._patch(owner, attr, make)

    def wrap_write(self, owner, attr: str, verb: str) -> None:
        """A txlog write verb: a span plus what it left in the table
        directory (commits, checkpoints, log bytes, files, rows). A verb
        called from inside another is only a span: the outer one's
        directory delta already holds its writes."""
        tracer = self
        from x_spark.sources.base import TableRef

        def make(fn):
            def wrapper(ds, *a, **k):
                if not tracer.enabled or tracer.op is None or getattr(tracer._local, "quiet", False):
                    return fn(ds, *a, **k)
                if getattr(tracer._local, "writing", False):
                    with tracer.span(f"txlog.{verb}", "txlog"):
                        return fn(ds, *a, **k)
                ref = next((x for x in list(a) + list(k.values()) if isinstance(x, TableRef)), None)
                with tracer.bookkeeping():
                    path = _table_dir(ds, ref)
                    before = dir_sizes(path) if path else {}
                    live = _live_rows(ds, ref) if verb == "merge" else 0
                tracer._local.writing = True
                try:
                    with tracer.span(f"txlog.{verb}", "txlog") as sp:
                        result = fn(ds, *a, **k)
                finally:
                    tracer._local.writing = False
                with tracer.bookkeeping():
                    path = path or _table_dir(ds, ref)
                    after = dir_sizes(path) if path else {}
                    rec = _store_delta(path, before, after) if path else {}
                    rec.update(op=tracer.op["id"], verb=verb, span=sp["id"],
                               t0=sp["t0"], t1=sp["t1"], table=path, live_rows=live)
                    tracer.writes.append(rec)
                return result
            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> None:
        if not self.enabled:
            return
        from x_spark.operators import ivm, recon
        from x_spark.plans import etl
        from x_spark.sources import txlog
        from x_spark.streaming import events

        self.wrap(etl, "init_etl_job", "etl.init", "etl")
        for step, name in (("step_01_source_pre_sql", "etl.hooks"),
                           ("step_03_create_source_view", "etl.source_view"),
                           ("step_04_source_post_sql", "etl.hooks"),
                           ("step_05_target_pre_sql", "etl.hooks"),
                           ("step_07_target_post_sql", "etl.hooks"),
                           ("step_08_clean", "etl.clean")):
            self.wrap(etl.BaseETLJob, step, name, "etl")
        for cls in (etl.AppendETLJob, etl.OverwriteETLJob, etl._MergeETLJob, etl.DeleteETLJob):
            self.wrap(cls, "step_06_operate", "etl.operate", "etl")
        ds = txlog.TxLogDataSource
        for verb in ("create", "append", "merge", "overwrite_dynamic", "overwrite", "delete",
                     "update"):
            self.wrap_write(ds, verb, verb)
        for attr in ("read", "sql", "changes", "count_rows"):
            self.wrap(ds, attr, f"txlog.{attr}", "txlog")
        self.wrap(txlog, "resolve_snapshot", "txlog.resolve", "txlog")
        for step, name in (("step_01_query", "recon.query"),
                           ("step_02_calculate", "recon.calculate"),
                           ("step_03_join", "recon.join")):
            self.wrap(recon.ReconJob, step, name, "recon")
        self.wrap(ivm.AggregateView, "refresh", "ivm.refresh", "ivm")
        self.wrap(ivm.JoinView, "refresh", "ivm.refresh", "ivm")
        for fn in ("streaming_ivm_totals", "streaming_ivm_join"):
            self.wrap(events, fn, "stream.run", "stream")

    def uninstall(self) -> None:
        for owner, attr, fn, own in reversed(self._patched):
            if own:
                setattr(owner, attr, fn)
            else:
                delattr(owner, attr)
        self._patched.clear()

    def dump(self, path: str, ops: list[dict]) -> None:
        with open(path, "w") as fh:
            for kind, rows in (("op", ops), ("span", self.spans), ("job", self.jobs),
                               ("write", self.writes), ("overhead", self.overhead)):
                for r in rows:
                    rec = {k: v for k, v in r.items() if k != "root"}
                    fh.write(json.dumps({"type": kind, **rec}) + "\n")


def _table_dir(ds, ref) -> str | None:
    if ref is None:
        return None
    try:
        return ds._table_path(ref)
    except Exception:  # an unknown name: the verb is about to create it
        return None


def _live_rows(ds, ref) -> int:
    try:
        return int(ds.count_rows(ref))
    except Exception:  # table does not exist yet
        return 0


def _store_delta(root: str, before: dict[str, int], after: dict[str, int]) -> dict:
    """What one write left in its table directory: bytes, new commits
    and checkpoints, log bytes, and the data files the new commits add
    and remove, with the rows those adds carry."""
    rec = {"bytes": bytes_added(before, after), "commits": 0, "checkpoints": 0,
           "log_bytes": 0, "files_added": 0, "files_removed": 0, "rows_added": 0}
    for rel, size in after.items():
        head, name = os.path.split(rel)
        if rel in before or os.path.basename(head) != "_txlog":
            continue
        rec["log_bytes"] += size
        if _CHECKPOINT_RE.match(name):
            rec["checkpoints"] += 1
        elif _COMMIT_RE.match(name):
            rec["commits"] += 1
            with open(os.path.join(root, rel)) as fh:
                for line in fh:
                    _count_action(rec, json.loads(line), os.path.join(root, head))
    return rec


def _count_action(rec: dict, action: dict, log_dir: str) -> None:
    if "add" in action:
        rec["files_added"] += 1
        rec["rows_added"] += int(action["add"].get("numRecords") or 0)
    elif "remove" in action:
        rec["files_removed"] += 1
    elif "addBatch" in action:
        import pyarrow.parquet as pq

        batch = pq.read_table(os.path.join(log_dir, action["addBatch"]["parquet"]))
        rec["files_added"] += batch.num_rows
        if "numRecords" in batch.column_names:
            rec["rows_added"] += int(sum(v or 0 for v in batch.column("numRecords").to_pylist()))


def layer_times(op: dict, spans: list[dict], jobs: list[dict],
                overhead: list[dict]) -> tuple[dict[str, float], dict[str, float]]:
    """Self time per layer and per span name within one op, in ms.

    Every instant of ``[op.t0, op.t1]`` is given to one owner: tracer
    bookkeeping, else a running Spark job, else the deepest open span.
    """
    t0, t1 = op["t0"], op["t1"]
    ivs = []
    for s in spans:
        ivs.append((max(s["t0"], t0), min(s["t1"], t1), s["depth"], s["layer"], s["name"]))
    for j in jobs:
        ivs.append((max(j["t0"], t0), min(j["t1"], t1), 10**6, "spark", "spark.job"))
    for o in overhead:
        ivs.append((max(o["t0"], t0), min(o["t1"], t1), 10**7, "trace", "trace"))
    ivs = [iv for iv in ivs if iv[1] > iv[0]]
    points = sorted({t0, t1, *(iv[0] for iv in ivs), *(iv[1] for iv in ivs)})
    by_layer: dict[str, float] = {}
    by_name: dict[str, float] = {}
    for a, b in zip(points, points[1:]):
        owner = None
        for iv in ivs:
            if iv[0] <= a and iv[1] >= b and (owner is None or iv[2] > owner[2]):
                owner = iv
        layer, name = (owner[3], owner[4]) if owner else ("bench", "op")
        ms = (b - a) * 1000.0
        by_layer[layer] = by_layer.get(layer, 0.0) + ms
        by_name[name] = by_name.get(name, 0.0) + ms
    return by_layer, by_name


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
