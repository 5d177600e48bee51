"""Commit batch sidecars — the tail of the log as a columnar scan.

A commit carrying >= COMMIT_PARQUET_MIN add actions writes them as a
TYPED parquet batch sidecar referenced by one ``addBatch`` action
(Delta's multi-part-checkpoint idea applied to the TAIL), so replaying
a huge write between checkpoints — 100k-file COPY INTO, RESTORE
re-emission, a DV sweep — never json.loads its adds on the driver:
snapshot resolution layers the batch lazily (LazyAdds), the metadata
plane reads its typed columns, and per-action consumers (CDF,
streaming admission, vacuum) expand it via one bulk columnar read.
"""

import glob
import json
import os

import pytest
from pyspark.sql import types as T

import x_spark.sources.txlog as tx
from x_spark.sources import init_datasource
from x_spark.sources.base import TableRef
from x_spark.sources.txlog import (
    LazyAdds,
    Snapshot,
    _list_log,
    _log_path,
    iter_commit_actions,
    resolve_snapshot,
)


@pytest.fixture()
def ds(spark):
    return init_datasource("txlog", spark)


SCHEMA = "pk int, part string, v int"
N_PARTS = 4
N_ROWS = 40


def _batched_table(spark, ds, tmp_path, monkeypatch):
    """A table whose first append commits N_PARTS files in ONE commit
    that exceeds the (lowered) batch threshold — no checkpoint yet, so
    the batch IS the tail."""
    monkeypatch.setattr(tx, "COMMIT_PARQUET_MIN", 3)
    ref = TableRef(path=str(tmp_path / "t"))
    ds.create(ref, T._parse_datatype_string(SCHEMA),
              partition_by=["part"])
    df = spark.createDataFrame(
        [(i, f"p{i // (N_ROWS // N_PARTS)}", i * 10) for i in range(N_ROWS)], SCHEMA
    )
    ds.append(df.coalesce(1), ref)  # one file per partition dir
    return ref


def _commit_actions_raw(table: str, fname: str) -> list[dict]:
    with open(os.path.join(_log_path(table), fname)) as fh:
        return [json.loads(line) for line in fh]


def test_large_commit_writes_batch_not_json_lines(spark, ds, tmp_path,
                                                  monkeypatch):
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)
    commits, _ = _list_log(ref.path)
    actions = _commit_actions_raw(ref.path, commits[-1])
    # the adds collapsed into ONE addBatch reference line
    assert not any("add" in a for a in actions)
    batches = [a for a in actions if "addBatch" in a]
    assert len(batches) == 1
    assert batches[0]["addBatch"]["count"] == N_PARTS
    side = os.path.join(_log_path(ref.path),
                        batches[0]["addBatch"]["parquet"])
    assert os.path.isfile(side)
    # TYPED layout: the batch serves the metadata plane directly
    import pyarrow.parquet as pq

    cols = set(pq.ParquetFile(side).schema_arrow.names)
    assert {"path", "add_json", "pv::part", "min::pk", "max::pk"} <= cols
    # data readable and partition-complete
    assert ds.read(ref).count() == N_ROWS
    got = {r["part"] for r in ds.read(ref).select("part").distinct()
           .collect()}
    assert got == {f"p{i}" for i in range(N_PARTS)}


def test_batched_tail_resolves_lazy(spark, ds, tmp_path, monkeypatch):
    """Resolution of a batch-carrying tail is a columnar scan: the
    live set is a LazyAdds whose len/iter/pruning never parse adds."""
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)
    snap = resolve_snapshot(ref.path)
    files = snap.files
    assert isinstance(files, LazyAdds)
    assert len(files) == N_PARTS
    assert sorted(files)
    assert files._full is None, "len/iter must not parse adds"
    # stats + pv pruning runs on the batch's typed columns
    got = ds._files_matching_predicate(ref.path, snap, "pk = 3")
    assert len(got) == 1
    got = ds._files_matching_predicate(ref.path, snap, "part = 'p1'")
    assert len(got) == 1
    assert files._full is None, "pruning must not parse adds"
    # value access still materializes correctly (add_json truth)
    some = next(iter(files))
    assert files[some]["path"] == some


def test_zero_candidate_delete_on_batch_tail_never_parses(
        spark, ds, tmp_path, monkeypatch):
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)

    def boom(self):
        raise AssertionError("add dicts materialized on a "
                             "metadata-only path")

    monkeypatch.setattr(LazyAdds, "_materialize", boom)
    before = ds.read(ref).count()
    ds.delete(ref, "pk = 99999999")  # no file's [min,max] holds it
    monkeypatch.undo()
    assert ds.read(ref).count() == before


def test_batch_and_dict_pruning_agree(spark, ds, tmp_path, monkeypatch):
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)
    lazy = resolve_snapshot(ref.path)
    twin = Snapshot(lazy.version, lazy.schema_json, lazy.partition_cols,
                    LazyAdds(ref.path, [("delta", dict(lazy.files))]),
                    lazy.configuration, row_id_high=lazy.row_id_high)
    for pred in ["pk = 3", "pk >= 30", "part = 'p2'",
                 "part = 'p0' AND pk < 8", "pk IN (1, 2, 999)",
                 "pk = 1 OR pk = 38"]:
        a = ds._files_matching_predicate(ref.path, lazy, pred)
        b = ds._files_matching_predicate(ref.path, twin, pred)
        assert a == b, f"batch/dict divergence for {pred!r}"


def test_remove_then_batched_readd_ordering(spark, ds, tmp_path,
                                            monkeypatch):
    """The layered-merge correctness case a flat overrides dict gets
    wrong: files removed in a small tail commit, then re-added by a
    LATER batch (RESTORE re-emission) — the batch must win."""
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)  # v1: batch
    ds.delete(ref, "part IN ('p0', 'p1', 'p2')")  # v2: 3 removes
    assert ds.read(ref).count() == N_ROWS // N_PARTS
    ds.restore(ref, 1)  # v3: re-adds 3 files -> batched (min is 3)
    commits, _ = _list_log(ref.path)
    actions = _commit_actions_raw(ref.path, commits[-1])
    assert any("addBatch" in a for a in actions), \
        "restore re-emission did not batch — threshold drifted"
    snap = resolve_snapshot(ref.path)
    assert isinstance(snap.files, LazyAdds)
    assert len(snap.files) == N_PARTS
    assert ds.read(ref).count() == N_ROWS


def test_iter_commit_actions_expands_batch(spark, ds, tmp_path,
                                           monkeypatch):
    """The per-action reader (CDF / streaming admission / vacuum)
    yields the batched adds back as ordinary add actions."""
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)
    commits, _ = _list_log(ref.path)
    actions = list(iter_commit_actions(ref.path, commits[-1]))
    adds = [a["add"] for a in actions if "add" in a]
    assert len(adds) == N_PARTS
    assert all("path" in a and "numRecords" in a for a in adds)
    assert sum(int(a["numRecords"]) for a in adds) == N_ROWS
    assert any("commitInfo" in a for a in actions)


def test_cdf_over_batched_commit(spark, ds, tmp_path, monkeypatch):
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)
    out = ds.changes(ref, -1).collect()
    inserts = [r for r in out if r["_change_type"] == "insert"]
    assert len(inserts) == N_ROWS
    assert {r["_commit_version"] for r in inserts} == {1}


def test_checkpoint_absorbs_batches(spark, ds, tmp_path, monkeypatch):
    """Batches are tail state: the next checkpoint materializes them
    into its own (inline or sidecar) adds and resolution stays exact."""
    monkeypatch.setattr(tx, "CHECKPOINT_INTERVAL", 4)
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)  # v1
    df = spark.createDataFrame([(100 + i, f"p{i % N_PARTS}", 7)
                                for i in range(N_PARTS)], SCHEMA)
    ds.append(df, ref)  # v2 (batched again)
    ds.append(spark.createDataFrame([(999, "p0", 1)], SCHEMA), ref)  # v3
    ds.append(spark.createDataFrame([(998, "p1", 1)], SCHEMA), ref)  # v4
    _, checkpoints = _list_log(ref.path)
    assert checkpoints, "no checkpoint written at the interval"
    assert ds.read(ref).count() == N_ROWS + N_PARTS + 2
    snap = resolve_snapshot(ref.path)
    assert len(snap.files) == 2 * N_PARTS + 2


def test_orphan_batch_sidecar_reaped(spark, ds, tmp_path, monkeypatch):
    """A race loser's / crashed writer's unreferenced batch sidecar is
    age-reaped; the referenced one survives any clean_log."""
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)
    commits, _ = _list_log(ref.path)
    referenced = [a["addBatch"]["parquet"]
                  for a in _commit_actions_raw(ref.path, commits[-1])
                  if "addBatch" in a][0]
    orphan = os.path.join(
        _log_path(ref.path),
        f"{1:020d}.commit.adds-deadbeef.parquet",
    )
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1junkPAR1")
    ds.clean_log(ref, keep_last=1000, min_age_sec=0.0)
    assert not os.path.exists(orphan)
    assert os.path.isfile(os.path.join(_log_path(ref.path), referenced))
    assert ds.read(ref).count() == N_ROWS


def test_lost_version_race_cleans_its_batch(spark, ds, tmp_path,
                                            monkeypatch):
    """A writer losing the O_EXCL version race removes the batch
    sidecar it published for the version it failed to take."""
    ref = _batched_table(spark, ds, tmp_path, monkeypatch)
    adds = [dict(resolve_snapshot(ref.path).files[p])
            for p in sorted(resolve_snapshot(ref.path).files)]
    with pytest.raises(tx.ConcurrentWriteException):
        ds._commit(ref.path, 1, [{"add": a} for a in adds], "race")
    batch_files = glob.glob(os.path.join(
        _log_path(ref.path), f"{1:020d}.commit.adds-*.parquet"))
    assert len(batch_files) == 1, \
        "race loser left an unreferenced batch sidecar"
    # the survivor is the one the committed v1 references
    assert os.path.basename(batch_files[0]) == [
        a["addBatch"]["parquet"]
        for a in _commit_actions_raw(ref.path, _list_log(ref.path)[0][1])
        if "addBatch" in a
    ][0]


def test_batch_dv_dirs_columnar_read(spark, tmp_path):
    """vacuum-lite's dv-dir discovery reads the batch's dv_json column
    — adds carrying deletion vectors surface their sidecar dirs."""
    schema = T._parse_datatype_string(SCHEMA)
    adds = [
        {"path": f"f{i}.parquet", "size": 10, "numRecords": 1,
         "partitionValues": {"part": "p0"},
         "dv": {"path": f"_dv/dir{i % 2}", "cardinality": 1}}
        for i in range(4)
    ]
    table = str(tmp_path / "t2")
    os.makedirs(_log_path(table), exist_ok=True)
    tx._publish_adds_sidecar(
        os.path.join(_log_path(table), "b.parquet"),
        adds, schema, ["part"],
    )
    got = tx.TxLogDataSource._batch_dv_dirs(
        table, {"addBatch": {"parquet": "b.parquet"}})
    assert got == {"_dv/dir0", "_dv/dir1"}


# -- executor-side footer stats at publish ----------------------------------


def test_footer_stats_distributed_parity(spark, ds, tmp_path,
                                         monkeypatch):
    """The distributed stats pass returns bit-identical results to
    the driver loop — same function, different placement."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    srcs = []
    for i in range(6):
        p = str(tmp_path / f"s{i}.parquet")
        pq.write_table(
            pa.table({"pk": list(range(i * 10, i * 10 + 5)),
                      "name": [f"n{j}" for j in range(5)]}), p)
        srcs.append(p)
    driver = {p: tx._footer_stats_of(p) for p in srcs}
    monkeypatch.setattr(tx, "FOOTER_STATS_DISTRIBUTED_MIN", 2)
    distributed = ds._collect_footer_stats(srcs)
    assert distributed == driver


def test_large_publish_reads_footers_executor_side(spark, ds, tmp_path,
                                                   monkeypatch):
    """Past the threshold, publish-time footer reads leave the driver:
    a driver-pid call to the stats function fails the test, yet the
    write still lands with correct stats (workers run the real one)."""
    monkeypatch.setattr(tx, "FOOTER_STATS_DISTRIBUTED_MIN", 4)
    driver_pid = os.getpid()
    real = tx._footer_stats_of

    def guard(path):
        if os.getpid() == driver_pid:
            raise AssertionError(
                "driver-side footer read on a large publish")
        return real(path)

    monkeypatch.setattr(tx, "_footer_stats_of", guard)
    ref = TableRef(path=str(tmp_path / "tbig"))
    ds.create(ref, T._parse_datatype_string(SCHEMA),
              partition_by=["part"])
    df = spark.createDataFrame(
        [(i, f"p{i % 5}", i) for i in range(50)], SCHEMA)
    ds.append(df.coalesce(1), ref)
    monkeypatch.undo()
    snap = resolve_snapshot(ref.path)
    assert len(snap.files) == 5
    for add in dict(snap.files).values():
        assert add["numRecords"] == 10
        assert add["stats"]["minValues"].get("pk") is not None
    # and the stats actually prune
    assert len(ds._files_matching_predicate(ref.path, snap, "pk = 0")) == 1


# -- incremental columnar checkpoint refresh --------------------------------


def test_checkpoint_incremental_refresh_parity_and_lazy(
        spark, ds, tmp_path, monkeypatch):
    """The every-Nth-commit checkpoint on a sidecar-backed table
    refreshes COLUMNAR (old sidecar rows copy through arrow-side,
    kill-set filtered; only tail delta adds serialize fresh): it must
    never materialize the live set's add dicts, and its output must
    equal the from-dicts truth row-for-row."""
    monkeypatch.setattr(tx, "CHECKPOINT_PARQUET_MIN", 2)
    monkeypatch.setattr(tx, "COMMIT_PARQUET_MIN", 3)
    monkeypatch.setattr(tx, "CHECKPOINT_INTERVAL", 4)
    ref = TableRef(path=str(tmp_path / "ck"))
    ds.create(ref, T._parse_datatype_string(SCHEMA),
              partition_by=["part"])

    def one(lo, hi, part):
        return spark.createDataFrame(
            [(i, part, i) for i in range(lo, hi)], SCHEMA
        ).coalesce(1)

    for k in range(4):  # v1..v4 -> checkpoint at v4 (typed sidecar)
        ds.append(one(k * 10, k * 10 + 10, f"p{k}"), ref)
    _, cks = _list_log(ref.path)
    assert cks and tx._version_of(cks[-1]) == 4
    ds.append(one(100, 110, "p0"), ref)  # v5: small delta add
    ds.delete(ref, "pk >= 100")          # v6: delta remove of v5's file
    big = spark.createDataFrame(
        [(200 + i, f"p{i % 3}", i) for i in range(30)], SCHEMA
    ).repartition(3, "part")
    ds.append(big, ref)                  # v7: >=3 adds -> batch sidecar
    commits, _ = _list_log(ref.path)
    assert any("addBatch" in a
               for a in _commit_actions_raw(ref.path, commits[-1]))

    def boom(self):
        raise AssertionError("checkpoint materialized add dicts")

    monkeypatch.setattr(LazyAdds, "_materialize", boom)
    ds.append(one(300, 310, "p1"), ref)  # v8: triggers the checkpoint
    monkeypatch.undo()
    _, cks = _list_log(ref.path)
    assert tx._version_of(cks[-1]) == 8
    with open(os.path.join(_log_path(ref.path), cks[-1])) as fh:
        ck = json.load(fh)
    assert "addsParquet" in ck
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(_log_path(ref.path),
                                   ck["addsParquet"]))
    paths = t.column("path").to_pylist()
    assert paths == sorted(paths)  # deterministic, same as dict path
    assert ck["addCount"] == len(paths)
    truth = dict(resolve_snapshot(ref.path).files)
    assert set(paths) == set(truth)
    by_path = {
        json.loads(s)["path"]: json.loads(s)
        for s in t.column("add_json").to_pylist()
    }
    assert by_path == truth  # lossless replay column carried verbatim
    # typed columns survive for old AND new rows (pruning plane whole)
    assert all(v is not None for v in t.column("min::pk").to_pylist())
    assert ds.read(ref).count() == 40 + 30 + 10
    # and the refreshed checkpoint serves reads/pruning end-to-end
    snap = resolve_snapshot(ref.path)
    assert isinstance(snap.files, LazyAdds)
    got = ds._files_matching_predicate(ref.path, snap, "pk = 5")
    assert len(got) == 1
