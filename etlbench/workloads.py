"""The four workloads. Each is one closed-loop client on one session.

A workload generates its inputs from the seed and builds its tables in
:meth:`setup`, runs a fixed number of passes over its op cycle in
:meth:`timed`, and compares the engine's outputs with the pandas
reference results in :meth:`check` and in the ops themselves.

Only public entry points are called: ``init_etl_job(...).run()``, the
``delta`` datasource verbs (txlog), ``init_recon_job(...).run()`` and
``streaming_ivm_totals`` / ``streaming_ivm_join``. Module attributes
are looked up at call time so a traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import pandas as pd

from etlbench import gen
from etlbench.steal import cpu_ticks, stolen_share
from etlbench.tracing import dir_sizes


class Bench:
    """Run state shared by a workload and the harness: the session, the
    tracer, the work directory, and one record per timed op."""

    def __init__(self, spark, tracer, work: str) -> None:
        from x_spark.sources import init_datasource

        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.warehouse = os.path.join(work, "warehouse")
        os.makedirs(self.inputs, exist_ok=True)
        self.ds = init_datasource("delta", spark)
        self.ops: list[dict] = []
        self.timed = False
        self._next_id = 1

    def run_op(self, kind: str, fn, rows: int, src_bytes: int = 0) -> None:
        """Run one op; ``fn(op)`` returns False when its output check
        fails. A raised exception or a failed check marks the op failed."""
        op = {"id": self._next_id, "kind": kind, "rows": rows, "src_bytes": src_bytes, "ok": True}
        self._next_id += 1
        self.tracer.begin_op(op)
        ticks0 = cpu_ticks()
        op["t0"] = time.time()
        if "root" in op:
            op["root"]["t0"] = op["t0"]
        try:
            if fn(op) is False:
                op["ok"] = False
                print(f"etlbench: wrong output in op {op['id']} ({kind})", file=sys.stderr)
        except Exception:
            op["ok"] = False
            traceback.print_exc()
        op["t1"] = time.time()
        op["stolen"] = stolen_share(ticks0, cpu_ticks())
        self.tracer.end_op(op)
        if self.timed:
            self.ops.append(op)

    def write_parquet(self, df: pd.DataFrame, rel: str, files: int = 1) -> int:
        """Write a generated frame as ``files`` parquet files split in row
        order under ``inputs/rel``; return the bytes written."""
        path = os.path.join(self.inputs, rel)
        os.makedirs(path, exist_ok=True)
        step = -(-len(df) // files)
        for i in range(files):
            df.iloc[i * step:(i + 1) * step].to_parquet(
                os.path.join(path, f"part-{i:03d}.parquet"), index=False)
        return sum(dir_sizes(path).values())

    def read_input(self, rel: str):
        return self.spark.read.parquet(os.path.join(self.inputs, rel))

    def table_bytes(self) -> int:
        return sum(dir_sizes(os.path.join(self.warehouse, "txlog")).values())

    def actual_digest(self, df) -> str:
        return gen.digest(df.toPandas())


class Workload:
    name = ""
    #: wall seconds one pass over the op cycle took on a 4-core x86 VM
    #: with the session settings of run.py; a run makes
    #: round(seconds / nominal_cycle_s) passes, at least one
    nominal_cycle_s = 1.0

    def __init__(self, bench: Bench, seed: int, cycles: int) -> None:
        self.bench = bench
        self.spark = bench.spark
        self.ds = bench.ds
        self.seed = seed
        self.cycles = cycles
        self.src_bytes = 0
        self.written_bytes = 0

    def setup(self) -> None:
        raise NotImplementedError

    def timed(self) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Final-state checks; one message per failure."""
        return []

    def latencies_ms(self) -> dict[str, list[float]]:
        """Latency samples by op type, less stolen time (see steal.py)."""
        out: dict[str, list[float]] = {}
        for op in self.bench.ops:
            ms = (op["t1"] - op["t0"]) * 1000.0 * (1 - op["stolen"])
            out.setdefault(op["kind"], []).append(ms)
        return out

    def write_amp(self) -> float:
        return self.written_bytes / self.src_bytes if self.src_bytes else 0.0

    def close(self) -> None:
        """Undo what setup installed in the session or the engine."""

    def _count_check(self, table: str, expected: int) -> list[str]:
        from x_spark.sources.base import TableRef

        ref = TableRef(table=table)
        meta, scanned = self.ds.count_rows(ref), self.ds.read(ref).count()
        if meta == scanned == expected:
            return []
        return [f"{table}: count_rows={meta} scanned={scanned} expected={expected}"]


class EtlIncremental(Workload):
    """Many small YAML jobs against one partitioned catalog table.

    Why: per-commit fixed cost dominates. Jobs, commits and driver time
    show here; executor compute is a few percent of each op. The table
    starts ten commits in, so the first pass crosses the checkpoint
    written every ``CHECKPOINT_INTERVAL`` (20) commits.
    """

    name = "etl_incremental"
    nominal_cycle_s = 3.4
    INITIAL = 4
    BATCH_ROWS = 1500
    TABLE = "inc_target"

    def setup(self) -> None:
        warm = len(gen.INC_CYCLE)
        self.inputs = gen.IncrementalInputs(self.seed, self.INITIAL, self.cycles + 1, self.BATCH_ROWS)
        self.batch_bytes = {}
        for kind, batch, df, _ in self.inputs.ops:
            if df is not None:
                self.batch_bytes[batch] = self.bench.write_parquet(df, f"inc/batch_{batch}")
        self.yaml = self._write_configs()
        first_timed = self.INITIAL + warm
        for kind, batch, _, _ in self.inputs.ops[:first_timed]:
            self._job(kind, batch)
        self.timed_ops = self.inputs.ops[first_timed:]
        self.before = self.bench.table_bytes()

    def _write_configs(self) -> dict[str, str]:
        src = os.path.join(self.bench.inputs, "inc", "batch_${batch}")
        keyed = "  primary_key_column: [id]\n  update_column: [%s]\n" % ", ".join(gen.INC_UPDATE_COLS)
        paths = {}
        for kind in ("append", "upsert", "update", "overwrite", "delete"):
            text = "version: 0\n"
            if kind != "delete":
                text += f"source:\n  datasource: file\n  path: \"{src}\"\n"
            text += (f"target:\n  datasource: delta\n  table: {self.TABLE}\n"
                     f"  operation: {kind}\n  partition_by: [part]\n")
            if kind in ("upsert", "update"):
                text += keyed
            if kind == "delete":
                text += "  where_statement_on_table: \"qty = ${q}\"\n"
            paths[kind] = os.path.join(self.bench.work, f"job_{kind}.yaml")
            with open(paths[kind], "w") as fh:
                fh.write(text)
        return paths

    def _job(self, kind: str, batch: int) -> None:
        from x_spark.plans import etl

        params = {"q": batch % 50} if kind == "delete" else {"batch": batch}
        etl.init_etl_job(self.yaml[kind], params, spark=self.spark).run()

    def timed(self) -> None:
        for kind, batch, _, rows in self.timed_ops:
            src = self.batch_bytes.get(batch, 0)
            self.src_bytes += src
            self.bench.run_op(kind, lambda op, k=kind, b=batch: self._job(k, b), rows, src)
        self.written_bytes = self.bench.table_bytes() - self.before

    def check(self) -> list[str]:
        from x_spark.sources.base import TableRef

        actual = self.bench.actual_digest(self.ds.read(TableRef(table=self.TABLE)))
        expected = self.inputs.expected()
        out = [] if actual == expected else [f"{self.TABLE}: digest {actual} != {expected}"]
        return out + self._count_check(self.TABLE, len(self.inputs.live))


class EtlBulk(Workload):
    """A large load into a table partitioned 8 ways, then a spread
    upsert of a fifth of the keys, a narrow key-range upsert, an upsert
    of only new keys, an overwrite of two partitions and a predicate
    delete. Each pass starts from a fresh table.

    Why: executor compute, shuffle and bytes written dominate, and
    MERGE file skipping shows (the narrow and new-key upserts touch few
    or no files).
    """

    name = "etl_bulk"
    nominal_cycle_s = 6.0
    N_ROWS = 200_000

    def setup(self) -> None:
        from x_spark.sources.base import TableRef

        nproc = self.spark.sparkContext.defaultParallelism
        self.inputs = gen.BulkInputs(self.seed, self.N_ROWS)
        self.op_bytes = {}
        for kind, df, _ in self.inputs.ops:
            if df is not None:
                files = 2 * nproc if kind == "load" else nproc
                self.op_bytes[kind] = self.bench.write_parquet(df, f"bulk/{kind}", files)
        # warm-up: the same op sequence on a twentieth of the rows
        self.warm = gen.BulkInputs(self.seed, self.N_ROWS // 20)
        for kind, df, _ in self.warm.ops:
            if df is not None:
                self.bench.write_parquet(df, f"bulk_warm/{kind}", nproc)
        ref = TableRef(table="bulk_warm", partition_by=["part"])
        for kind, _, _ in self.warm.ops:
            self._do(kind, ref, "bulk_warm")
        self.before = self.bench.table_bytes()

    def _do(self, kind: str, ref, rel: str) -> None:
        from x_spark.sources.base import MergeSpec

        if kind == "delete":
            self.ds.delete(ref, gen.BULK_DELETE)
            return
        src = self.bench.read_input(f"{rel}/{kind}")
        if kind == "load":
            self.ds.append(src, ref)
        elif kind == "overwrite_2parts":
            self.ds.overwrite_dynamic(src, ref)
        else:
            spec = MergeSpec(["id"], list(gen.BULK_UPDATE_COLS), insert_when_not_matched=True)
            self.ds.merge(src, ref, spec)

    def timed(self) -> None:
        from x_spark.sources.base import TableRef

        for c in range(self.cycles):
            ref = TableRef(table=f"bulk_{c}", partition_by=["part"])
            for kind, _, rows in self.inputs.ops:
                src = self.op_bytes.get(kind, 0)
                self.src_bytes += src
                self.bench.run_op(kind, lambda op, k=kind: self._do(k, ref, "bulk"), rows, src)
        self.written_bytes = self.bench.table_bytes() - self.before

    def check(self) -> list[str]:
        from x_spark.sources.base import TableRef

        out = []
        expected = self.inputs.expected()
        last = f"bulk_{self.cycles - 1}"
        actual = self.bench.actual_digest(self.ds.read(TableRef(table=last)))
        if actual != expected:
            out.append(f"{last}: digest {actual} != {expected}")
        for c in range(self.cycles):
            out += self._count_check(f"bulk_{c}", len(self.inputs.live))
        return out


class ReadRecon(Workload):
    """Read-only queries over catalog tables that already exist: a
    2-source and a 3-way pairwise ReconJob, a join in SQL that names
    txlog tables, ``VERSION AS OF``, ``changes()`` and ``count_rows``
    against a scan. No commits while timed.

    Why: it exercises the store's read path (snapshot resolve, name
    rewrite, scan) and the recon operator; write-path changes should
    leave it unchanged. ``sales_log`` has a log past its first
    checkpoint.
    """

    name = "read_recon"
    nominal_cycle_s = 2.0
    N_ROWS = 40_000
    LOG_ROWS = 500
    AS_OF = 10
    CHANGES_FROM = 15
    ZONE_SQL = ("SELECT r.zone, count(*) AS n, sum(s.amount) AS amt "
                "FROM sales_a s JOIN regions r ON s.region = r.region GROUP BY r.zone")

    def setup(self) -> None:
        from x_spark.sources import txlog
        from x_spark.sources.base import TableRef

        n_log = txlog.CHECKPOINT_INTERVAL + 1
        self.inputs = gen.ReconInputs(self.seed, self.N_ROWS, n_log, self.LOG_ROWS)
        tables = dict(self.inputs.tables, regions=self.inputs.regions)
        for name, df in tables.items():
            self.src_bytes += self.bench.write_parquet(df, f"recon/{name}")
            self.ds.append(self.bench.read_input(f"recon/{name}"), TableRef(table=name))
        for i, df in enumerate(self.inputs.log_batches):
            self.src_bytes += self.bench.write_parquet(df, f"recon/log_{i}")
            self.ds.append(self.bench.read_input(f"recon/log_{i}"), TableRef(table="sales_log"))
        self.written_bytes = self.bench.table_bytes()
        t = self.inputs.tables
        n_a, n_b, n_c = (len(t[k]) for k in ("sales_a", "sales_b", "sales_c"))
        as_of_rows = self.AS_OF * self.LOG_ROWS
        changed = (n_log - self.CHANGES_FROM) * self.LOG_ROWS
        self.cycle = [
            ("recon_two", self._recon_two, n_a + n_b),
            ("recon_three", self._recon_three, n_a + n_b + n_c),
            ("sql_join", self._zone_sql, n_a + len(self.inputs.regions)),
            ("version_as_of", self._as_of, as_of_rows),
            ("changes", self._changes, changed),
            ("count_rows", self._count, n_a),
        ]
        self.expected = {
            "recon_two": self.inputs.recon_two(),
            "recon_three": self.inputs.recon_three(),
            "sql_join": self.inputs.zone_totals(),
            "version_as_of": self.inputs.log_as_of(self.AS_OF),
            "changes": self.inputs.log_changes(self.CHANGES_FROM),
        }
        for kind, fn, _ in self.cycle:  # warm-up pass, checked like the timed ones
            if fn(kind) is False:
                raise RuntimeError(f"read_recon warm-up: {kind} returned a wrong result")

    def _source(self, name: str, query: bool = False) -> dict:
        src = {"name": name, "datasource": "delta",
               "metrics": [{m: e} for m, e in gen.RECON_METRICS.items()]}
        if query:
            src["query"] = f"SELECT * FROM sales_{name}"
        else:
            src["table"] = f"sales_{name}"
        return src

    def _collect(self, df):
        with self.bench.tracer.span("recon.collect", "recon"):
            return df.toPandas()

    def _recon(self, kind: str, sources: list[dict], mode: str) -> bool:
        from x_spark.operators import recon

        cfg = {"version": 0, "group_by": ["region"], "compare": mode, "data": sources}
        out = self._collect(recon.init_recon_job(cfg, spark=self.spark).run())
        return gen.digest(out) == self.expected[kind]

    def _recon_two(self, kind: str) -> bool:
        return self._recon(kind, [self._source("a"), self._source("b")], "two_source")

    def _recon_three(self, kind: str) -> bool:
        srcs = [self._source("a"), self._source("b"), self._source("c", query=True)]
        return self._recon(kind, srcs, "pairwise")

    def _zone_sql(self, kind: str) -> bool:
        return self.bench.actual_digest(self.ds.sql(self.ZONE_SQL)) == self.expected[kind]

    def _as_of(self, kind: str) -> bool:
        q = ("SELECT count(*) AS n, sum(amount) AS amt, max(id) AS mx "
             f"FROM sales_log VERSION AS OF {self.AS_OF}")
        return self.bench.actual_digest(self.ds.sql(q)) == self.expected[kind]

    def _changes(self, kind: str) -> bool:
        from pyspark.sql import functions as F
        from x_spark.sources.base import TableRef

        feed = self.ds.changes(TableRef(table="sales_log"), self.CHANGES_FROM)
        agg = feed.groupBy("_change_type").agg(F.count("*").alias("n"), F.sum("amount").alias("amt"))
        return self.bench.actual_digest(agg) == self.expected[kind]

    def _count(self, kind: str) -> bool:
        return not self._count_check("sales_a", self.N_ROWS)

    def timed(self) -> None:
        for _ in range(self.cycles):
            for kind, fn, rows in self.cycle:
                self.bench.run_op(kind, lambda op, f=fn, k=kind: f(k), rows)


class _CountingShutil:
    """Stands in for ``shutil`` inside ``x_spark.streaming.events`` so
    the bytes a streaming run wrote (its tables and stream checkpoint)
    are counted before the run removes its work directory."""

    def __init__(self) -> None:
        self.bytes = 0

    def rmtree(self, path, *a, **k):
        self.bytes += sum(dir_sizes(path).values())
        return shutil.rmtree(path, *a, **k)

    def __getattr__(self, name):
        return getattr(shutil, name)


class StreamIvm(Workload):
    """File-per-trigger streams that append every epoch to a txlog base
    table and refresh an incrementally maintained view:
    ``streaming_ivm_totals`` (aggregate view) then ``streaming_ivm_join``
    (join view whose dimension is merged and deleted from mid-stream).
    Latency is per epoch (triggerExecution from a query listener).

    Why: the only workload that runs ``operators.ivm`` and
    ``streaming.events``; each epoch pays the per-commit fixed cost
    twice (append, refresh). The events table is generated from the
    run's seed, not read from the repository's fixed test data.
    """

    name = "stream_ivm"
    nominal_cycle_s = 9.0
    N_EVENTS = 8_000
    N_USERS = 400
    CHUNKS = 4

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        from etlbench.tracing import EpochListener

        self.listener = EpochListener()
        self.queries = 0
        self.counter = _CountingShutil()

    def setup(self) -> None:
        from x_spark.streaming import events

        self.inputs = gen.StreamInputs(self.seed, self.N_EVENTS, self.N_USERS)
        self.sf_dir = os.path.join(self.bench.inputs, "stream")
        os.makedirs(self.sf_dir)
        self.inputs.events.to_parquet(os.path.join(self.sf_dir, "events.parquet"), index=False)
        self.expected = {"streaming_ivm_totals": self.inputs.totals(),
                         "streaming_ivm_join": self.inputs.joined()}
        self.spark.streams.addListener(self.listener)
        events.shutil = self.counter
        # warm-up on two chunks: same code paths, a quarter of the epochs
        for fn in self.expected:
            if not self._stream(fn, {}, chunks=2):
                raise RuntimeError(f"stream_ivm warm-up: {fn} returned a wrong result")
        chunks = events.chunked_events_dir(self.spark, self.sf_dir, self.CHUNKS)
        self.chunk_bytes = sum(s for p, s in dir_sizes(chunks).items() if p.endswith(".parquet"))
        self.counter.bytes = 0

    def _stream(self, fn: str, op: dict, chunks: int | None = None) -> bool:
        from x_spark.streaming import events

        first = len(self.listener.epochs)
        out = getattr(events, fn)(self.spark, self.sf_dir, chunks or self.CHUNKS)
        ok = self.bench.actual_digest(out) == self.expected[fn]
        self.queries += 1
        self.listener.wait_terminated(self.queries)
        op["epochs"] = self.listener.epochs[first:]
        return ok

    def timed(self) -> None:
        for _ in range(self.cycles):
            for fn in self.expected:
                self.src_bytes += self.chunk_bytes
                self.bench.run_op(fn, lambda op, f=fn: self._stream(f, op), self.N_EVENTS,
                                  self.chunk_bytes)
        self.written_bytes = self.counter.bytes

    def latencies_ms(self) -> dict[str, list[float]]:
        """Epoch latencies (triggerExecution) by streaming function, less
        the stolen share of their op."""
        out: dict[str, list[float]] = {}
        for op in self.bench.ops:
            out.setdefault(op["kind"], []).extend(
                e["trigger_ms"] * (1 - op["stolen"]) for e in op.get("epochs", []))
        return out

    def close(self) -> None:
        from x_spark.streaming import events

        if events.shutil is self.counter:
            events.shutil = shutil
            self.spark.streams.removeListener(self.listener)


WORKLOADS = {w.name: w for w in (EtlIncremental, EtlBulk, ReadRecon, StreamIvm)}
