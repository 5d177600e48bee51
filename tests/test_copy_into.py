"""COPY INTO (Delta's idempotent bulk-ingestion verb): load source
files into an existing txlog table, skipping every file a previous
COPY already loaded. The loaded-file ledger reference rides the same
atomic commit as the data, checkpoints carry the accumulated ledger
list forward, and concurrent COPYs serialize through the txn stamp —
re-running after a partial failure loads only what is missing."""

import json
import os

import pytest
from pyspark.sql import types as T

from x_spark.errors import DataSourceException
from x_spark.sources import init_datasource
from x_spark.sources.base import TableRef
from x_spark.sources.txlog import (
    CHECKPOINT_INTERVAL,
    TxnAlreadyCommittedException,
    _list_log,
    _log_path,
    resolve_snapshot,
)


@pytest.fixture()
def ds(spark):
    return init_datasource("txlog", spark)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _write_batch(spark, path, lo, hi, fname=None):
    """One parquet source file holding rows [lo, hi)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    t = pa.table({
        "pk": list(range(lo, hi)),
        "v": [i * 10 for i in range(lo, hi)],
    })
    pq.write_table(t, os.path.join(path, fname or f"batch-{lo}-{hi}.parquet"))


def _make_table(ds, tmp_path, name="tgt"):
    ref = TableRef(path=str(tmp_path / name))
    ds.create(ref, T._parse_datatype_string("pk int, v int"))
    return ref


def test_copy_into_loads_then_skips(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 5)
    _write_batch(spark, src, 5, 8)
    ref = _make_table(ds, tmp_path)
    files, rows = ds.copy_into(ref, src)
    assert (files, rows) == (2, 8)
    # idempotent: the second COPY is a no-op — no commit, no rows
    v_before = resolve_snapshot(ref.path).version
    assert ds.copy_into(ref, src) == (0, 0)
    assert resolve_snapshot(ref.path).version == v_before
    assert _rows(ds.read(ref)) == [(i, i * 10) for i in range(8)]


def test_copy_into_through_delta_datasource(spark, tmp_path):
    """The ``delta`` datasource (YAML ``datasource: delta``) serves
    COPY INTO: its append hands the committed adds back, so the loaded
    row count is reported instead of failing after the commit."""
    ds = init_datasource("delta", spark)
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3)
    ref = _make_table(ds, tmp_path)
    assert ds.copy_into(ref, src) == (1, 3)
    assert _rows(ds.read(ref)) == [(0, 0), (1, 10), (2, 20)]


def test_copy_into_incremental_new_files_only(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 5)
    ref = _make_table(ds, tmp_path)
    assert ds.copy_into(ref, src) == (1, 5)
    _write_batch(spark, src, 5, 9)
    files, rows = ds.copy_into(ref, src)
    assert (files, rows) == (1, 4)
    assert ds.count_rows(ref) == 9


def test_copy_into_force_reloads(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3)
    ref = _make_table(ds, tmp_path)
    ds.copy_into(ref, src)
    files, rows = ds.copy_into(ref, src, force=True)
    assert (files, rows) == (1, 3)
    assert ds.count_rows(ref) == 6  # force loads duplicates, by contract


def test_copy_into_pattern_filters_relative_path(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3, fname="a.parquet")
    _write_batch(spark, src, 3, 6, fname="b.snappy")
    ref = _make_table(ds, tmp_path)
    assert ds.copy_into(ref, src, pattern="*.parquet") == (1, 3)
    # widening the pattern later picks up only the unloaded file
    assert ds.copy_into(ref, src, pattern="*") == (1, 3)


def test_copy_into_hidden_and_underscore_files_skipped(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3)
    _write_batch(spark, src, 90, 93, fname="_committed.parquet")
    _write_batch(spark, str(tmp_path / "src" / "_staging"), 95, 99)
    ref = _make_table(ds, tmp_path)
    assert ds.copy_into(ref, src) == (1, 3)


def test_copy_into_single_file_source(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 4, fname="one.parquet")
    ref = _make_table(ds, tmp_path)
    assert ds.copy_into(ref, os.path.join(src, "one.parquet")) == (1, 4)
    assert ds.copy_into(ref, src) == (0, 0)  # same identity via the dir


def test_copy_into_missing_target_raises(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 2)
    with pytest.raises(DataSourceException, match="does not exist"):
        ds.copy_into(TableRef(path=str(tmp_path / "nope")), src)


def test_copy_into_csv_binds_table_schema(spark, ds, tmp_path):
    src = str(tmp_path / "csv")
    os.makedirs(src)
    with open(os.path.join(src, "a.csv"), "w") as fh:
        fh.write("pk,v\n1,10\n2,20\n")
    ref = _make_table(ds, tmp_path)
    files, rows = ds.copy_into(ref, src, file_format="csv",
                               format_options={"header": "true"})
    assert (files, rows) == (1, 2)
    assert _rows(ds.read(ref)) == [(1, 10), (2, 20)]


def test_copy_into_csv_fills_column_default(spark, ds, tmp_path):
    """A column the source lacks fills with its declared DEFAULT
    through the shared append flow."""
    src = str(tmp_path / "csv")
    os.makedirs(src)
    with open(os.path.join(src, "a.csv"), "w") as fh:
        fh.write("pk\n7\n")
    ref = TableRef(path=str(tmp_path / "tgt"))
    ds.create(ref, T._parse_datatype_string("pk int, v int"))
    ds.set_column_default(ref, "v", "42")
    files, rows = ds.copy_into(ref, src, file_format="csv",
                               format_options={"header": "true",
                                               "inferSchema": "true"})
    assert (files, rows) == (1, 1)
    assert _rows(ds.read(ref)) == [(7, 42)]


def test_copy_into_ledger_rides_the_commit(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3)
    ref = _make_table(ds, tmp_path)
    ds.copy_into(ref, src)
    commits, _ = _list_log(ref.path)
    actions = []
    with open(os.path.join(_log_path(ref.path), commits[-1])) as fh:
        actions = [json.loads(line) for line in fh]
    copy_actions = [a for a in actions if "copyInto" in a]
    adds = [a for a in actions if "add" in a]
    assert len(copy_actions) == 1 and adds  # atomic: same commit
    led = copy_actions[0]["copyInto"]["ledger"]
    assert os.path.isfile(os.path.join(_log_path(ref.path), led))
    assert copy_actions[0]["copyInto"]["count"] == 1


def test_copy_into_idempotency_survives_checkpoint_and_clean_log(
        spark, ds, tmp_path):
    """The ledger reference list is carried by checkpoints, so the
    loaded-file set survives log retention — a pruned log can never
    re-load (duplicate) already-ingested files."""
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3)
    ref = _make_table(ds, tmp_path)
    ds.copy_into(ref, src)
    # push the log past a checkpoint boundary
    for _ in range(CHECKPOINT_INTERVAL + 2):
        ds.append(spark.createDataFrame([(99, 990)], "pk int, v int"), ref)
    removed = ds.clean_log(ref, keep_last=2, min_age_sec=0.0)
    assert removed  # history was actually pruned
    assert ds.copy_into(ref, src) == (0, 0)  # idempotency intact
    _write_batch(spark, src, 3, 5)
    assert ds.copy_into(ref, src) == (1, 2)  # new files still load


def test_clean_log_reaps_orphaned_ledgers(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3)
    ref = _make_table(ds, tmp_path)
    ds.copy_into(ref, src)
    # fake an orphan: a ledger written by an attempt whose commit died
    orphan = ds._write_copy_ledger(ref.path, [("/dead/file.parquet", 1, 1)])
    for _ in range(CHECKPOINT_INTERVAL + 2):
        ds.append(spark.createDataFrame([(99, 990)], "pk int, v int"), ref)
    removed = ds.clean_log(ref, keep_last=2, min_age_sec=0.0)
    assert orphan in removed
    # the REFERENCED ledger survives
    assert ds.copy_into(ref, src) == (0, 0)
    # and the orphan's phantom file never counted as loaded
    assert "/dead/file.parquet" not in ds._copy_loaded(ref.path)


def test_copy_into_txn_race_detected(spark, ds, tmp_path, monkeypatch):
    """A COPY that loses the per-table txn epoch re-resolves the
    ledger and loads only what the winner left."""
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3, fname="a.parquet")
    _write_batch(spark, src, 3, 7, fname="b.parquet")
    ref = _make_table(ds, tmp_path)

    real_append = ds.append
    raced = {"done": False}

    def racing_append(df, ref_, **kw):
        if not raced["done"]:
            raced["done"] = True
            # a concurrent COPY lands file a.parquet first, taking the
            # epoch this attempt computed
            ds2 = init_datasource("txlog", spark)
            ds2.copy_into(ref, src, pattern="a.parquet")
        return real_append(df, ref_, **kw)

    monkeypatch.setattr(ds, "append", racing_append)
    files, rows = ds.copy_into(ref, src)
    assert ds.count_rows(ref) == 7  # every row exactly once
    assert files == 1 and rows == 4  # the retry loaded only b.parquet


def test_copy_into_sql_verb(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 4)
    name = "copy_sql_tgt"
    ds._execute_statement(
        f"CREATE TABLE {name} (pk int, v int) USING txlog"
    )
    try:
        out = ds._execute_statement(
            f"COPY INTO {name} FROM '{src}' FILEFORMAT = PARQUET"
        ).collect()
        assert [tuple(r) for r in out] == [(1, 4)]
        out2 = ds._execute_statement(
            f"COPY INTO {name} FROM '{src}' FILEFORMAT = PARQUET"
        ).collect()
        assert [tuple(r) for r in out2] == [(0, 0)]
        # COPY_OPTIONS force reloads
        out3 = ds._execute_statement(
            f"COPY INTO {name} FROM '{src}' FILEFORMAT = PARQUET "
            "COPY_OPTIONS ('force' = 'true')"
        ).collect()
        assert [tuple(r) for r in out3] == [(1, 4)]
    finally:
        ds.drop_table(TableRef(table=name))


def test_copy_into_sql_csv_with_options(spark, ds, tmp_path):
    src = str(tmp_path / "csv")
    os.makedirs(src)
    with open(os.path.join(src, "a.csv"), "w") as fh:
        fh.write("pk|v\n5|50\n")
    name = "copy_sql_csv_tgt"
    ds._execute_statement(f"CREATE TABLE {name} (pk int, v int) USING txlog")
    try:
        out = ds._execute_statement(
            f"COPY INTO {name} FROM '{src}' FILEFORMAT = CSV "
            "PATTERN = '*.csv' "
            "FORMAT_OPTIONS ('header' = 'true', 'sep' = '|')"
        ).collect()
        assert [tuple(r) for r in out] == [(1, 1)]
        rows = ds._execute_statement(f"SELECT * FROM {name}").collect()
        assert [tuple(r) for r in rows] == [(5, 50)]
    finally:
        ds.drop_table(TableRef(table=name))


def test_copy_into_identity_column_filled(spark, ds, tmp_path):
    """Identity columns are engine-filled: the csv reader binds the
    writable schema (identity excluded) and append allocates."""
    src = str(tmp_path / "csv")
    os.makedirs(src)
    with open(os.path.join(src, "a.csv"), "w") as fh:
        fh.write("3\n1\n")
    ref = TableRef(path=str(tmp_path / "tgt"))
    ds.create(ref, T._parse_datatype_string("v int, id bigint"))
    ds.set_identity_column(ref, "id", start=10, step=2)
    files, rows = ds.copy_into(ref, src, file_format="csv")
    assert (files, rows) == (1, 2)
    got = _rows(ds.read(ref).select("v", "id"))
    assert [v for v, _ in got] == [1, 3]
    assert sorted(i for _, i in got) == [10, 12]


def test_copy_into_bad_format_rejected(spark, ds, tmp_path):
    ref = _make_table(ds, tmp_path)
    with pytest.raises(DataSourceException, match="FILEFORMAT"):
        ds.copy_into(ref, str(tmp_path), file_format="avro")


# -- review-pass regressions -------------------------------------------------
def test_copy_into_merge_schema_unions_source_schemas(spark, ds, tmp_path):
    """A single COPY over files whose own schemas evolved must union
    them (reader-side mergeSchema), not take one footer's schema and
    silently drop the new column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(pa.table({"pk": [1, 2], "v": [10, 20]}),
                   os.path.join(src, "a.parquet"))
    pq.write_table(pa.table({"pk": [3], "v": [30], "c": ["x"]}),
                   os.path.join(src, "b.parquet"))
    ref = _make_table(ds, tmp_path)
    files, rows = ds.copy_into(ref, src, merge_schema=True)
    assert (files, rows) == (2, 3)
    got = _rows(ds.read(ref).select("pk", "v", "c"))
    assert got == [(1, 10, None), (2, 20, None), (3, 30, "x")]


def test_copy_into_single_file_honors_pattern_and_hidden(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3, fname="a.parquet")
    _write_batch(spark, src, 3, 6, fname="_hidden.parquet")
    ref = _make_table(ds, tmp_path)
    # glob excludes the file -> nothing loads
    assert ds.copy_into(ref, os.path.join(src, "a.parquet"),
                        pattern="*.csv") == (0, 0)
    # hidden names are never candidates, even addressed directly
    assert ds.copy_into(ref, os.path.join(src, "_hidden.parquet")) == (0, 0)
    assert ds.copy_into(ref, os.path.join(src, "a.parquet")) == (1, 3)


def test_copy_into_history_operation_name(spark, ds, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 2)
    ref = _make_table(ds, tmp_path)
    ds.copy_into(ref, src)
    ops = [h["operation"] for h in ds.history(ref)]
    assert "COPY INTO" in ops


# -- exactly-once property ---------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_COPY_SETTINGS = settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def _copy_ops(draw):
    n = draw(st.integers(min_value=2, max_value=6))
    return [
        draw(st.sampled_from(["newfile", "copy", "force", "clean"]))
        for _ in range(n)
    ]


@given(ops=_copy_ops())
@_COPY_SETTINGS
def test_copy_into_exactly_once_over_random_sequences(
        spark, tmp_path_factory, ops):
    """Exactly-once over any interleaving of landings, re-COPYs,
    forced reloads, and log retention: the table's row multiset always
    equals each landed file counted (1 + times force-copied), and a
    plain COPY never reloads."""
    from collections import Counter

    ds = init_datasource("txlog", spark)
    base = tmp_path_factory.mktemp("copyprop")
    src = str(base / "src")
    os.makedirs(src)
    ref = TableRef(path=str(base / "t"))
    ds.create(ref, T._parse_datatype_string("pk int, v int"))
    expected: Counter = Counter()
    loaded: list = []   # rows of files a prior COPY already ledgered
    pending: list = []  # rows of landed-but-not-yet-copied files
    nxt = 0
    for op in ops:
        if op == "newfile":
            k = 2 + (nxt % 3)
            rows = [(nxt * 10 + i, i) for i in range(k)]
            _write_rows(src, f"f{nxt}.parquet", rows)
            nxt += 1
            pending.extend(rows)
            expected.update(rows)  # every landed row loads exactly once
        elif op == "copy":
            files, rows = ds.copy_into(ref, src)
            assert rows == len(pending)
            loaded += pending
            pending = []
            # immediate re-COPY is always a no-op
            assert ds.copy_into(ref, src) == (0, 0)
        elif op == "force":
            _, rows = ds.copy_into(ref, src, force=True)
            assert rows == len(loaded) + len(pending)
            # only files a prior COPY already ledgered gain an EXTRA
            # copy; pending files get their first (already-expected)
            expected.update(loaded)
            loaded += pending
            pending = []
        else:
            ds.clean_log(ref, keep_last=2, min_age_sec=0.0)
    ds.copy_into(ref, src)  # drain whatever is still pending
    got = Counter(map(tuple, ds.read(ref).collect()))
    assert got == expected


def _write_rows(src, fname, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"pk": [r[0] for r in rows], "v": [r[1] for r in rows]}),
        os.path.join(src, fname),
    )


def test_copy_into_race_in_ledger_window_stays_exactly_once(
        spark, ds, tmp_path, monkeypatch):
    """A concurrent COPY landing BETWEEN the attempt's internal
    metadata reads must not duplicate rows. The epoch is pinned before
    the ledger is resolved, so any COPY committing after the epoch
    read trips TxnAlreadyCommittedException at commit and the loop
    retries with a fresh ledger — a stale ledger can never reach a
    successful commit. (Regression: ledger-before-epoch ordering let
    the winner's stamp satisfy a freshly read epoch while the stale
    ledger omitted its files — silent double-load.)"""
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3, fname="a.parquet")
    _write_batch(spark, src, 3, 7, fname="b.parquet")
    ref = _make_table(ds, tmp_path)

    real_loaded = ds._copy_loaded
    raced = {"done": False}

    def stale_loaded(table):
        stale = real_loaded(table)
        if not raced["done"]:
            raced["done"] = True
            # concurrent COPY lands a.parquet AFTER this attempt's
            # ledger was resolved (the worst-case interleaving)
            ds2 = init_datasource("txlog", spark)
            ds2.copy_into(ref, src, pattern="a.parquet")
        return stale  # deliberately omits the winner's files

    monkeypatch.setattr(ds, "_copy_loaded", stale_loaded)
    files, rows = ds.copy_into(ref, src)
    assert ds.count_rows(ref) == 7   # a.parquet loaded exactly once
    assert files == 1 and rows == 4  # the retry loaded only b.parquet


def test_copy_into_missing_referenced_ledger_raises(spark, ds, tmp_path):
    """A missing REFERENCED ledger is log corruption (referenced
    ledgers are carried forward forever; only unreferenced ones are
    reaped) — it must fail loudly, not silently degrade exactly-once
    into duplicate reloads."""
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 3)
    ref = _make_table(ds, tmp_path)
    ds.copy_into(ref, src)
    rel = ds._copy_ledger_refs(ref.path)[0]
    os.remove(os.path.join(_log_path(ref.path), rel))
    with pytest.raises(DataSourceException, match="ledger.*missing"):
        ds.copy_into(ref, src)


def test_copy_ledger_anti_join_past_driver_max(spark, ds, tmp_path,
                                               monkeypatch):
    """Past COPY_LEDGER_DRIVER_MAX accumulated ledger rows, the
    already-loaded difference runs as a distributed left-anti join:
    the ledger is never materialized on the driver, and exactly-once
    holds across no-op re-COPYs, new landings, and force reloads."""
    import x_spark.sources.txlog as tx

    src = str(tmp_path / "src")
    for i in range(12):
        _write_batch(spark, src, i * 10, i * 10 + 3,
                     fname=f"f{i:03d}.parquet")
    ref = _make_table(ds, tmp_path)
    assert ds.copy_into(ref, src) == (12, 36)

    # ledger now holds 12 rows; cap the driver path below that
    monkeypatch.setattr(tx, "COPY_LEDGER_DRIVER_MAX", 10)

    def boom(table):
        raise AssertionError("ledger materialized on the driver past "
                             "COPY_LEDGER_DRIVER_MAX")

    monkeypatch.setattr(ds, "_copy_loaded", boom)
    assert ds.copy_into(ref, src) == (0, 0)  # re-COPY: distributed no-op
    _write_batch(spark, src, 500, 504, fname="late.parquet")
    assert ds.copy_into(ref, src) == (1, 4)  # only the new file loads
    assert ds.copy_into(ref, src) == (0, 0)
    assert ds.count_rows(ref) == 40
    # force bypasses the ledger entirely (no driver set either)
    files, rows = ds.copy_into(ref, src, force=True)
    assert (files, rows) == (13, 40)
    assert ds.count_rows(ref) == 80
