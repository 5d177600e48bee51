"""Transaction-logged parquet tables (txlog connector).

Covers the same Delta-shaped contract as ``test_delta_conformance.py``
(MERGE cardinality/quirks, replaceWhere, dynamic overwrite) on
path-addressed txlog tables, PLUS the transactional mechanics the
parquet fallback cannot offer: atomic versioned commits, snapshot
isolation, time travel, footer-stats file skipping, optimistic
concurrency, vacuum, and log checkpoints.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from x_spark.errors import DataSourceException, ETLJobException
from x_spark.sources import init_datasource
from x_spark.sources.base import MergeSpec, TableRef
from x_spark.sources.txlog import (
    CHECKPOINT_INTERVAL,
    ConcurrentWriteException,
    _list_log,
    resolve_snapshot,
)


@pytest.fixture()
def ds(spark):
    return init_datasource("txlog", spark)


def _ref(tmp_path, name="t", **kw):
    return TableRef(path=str(tmp_path / name), **kw)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _seed(spark, ds, ref, rows=((1, "a", 10), (2, "a", 20), (3, "b", 30))):
    df = spark.createDataFrame(list(rows), "pk int, part string, v int")
    ds.append(df, ref)
    return df


# -- core ops ---------------------------------------------------------------
def test_append_and_read_round_trip(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    assert _rows(ds.read(ref)) == [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    # by-name resolution: shuffled column order appends correctly
    more = spark.createDataFrame([(99, 4, "b")], "v int, pk int, part string")
    ds.append(more, ref)
    assert (4, "b", 99) in _rows(ds.read(ref))


def test_append_rejects_missing_columns(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    with pytest.raises(Exception):
        ds.append(spark.createDataFrame([(5,)], "pk int"), ref)


def test_merge_upsert_quirks_match_delta_contract(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    src = spark.createDataFrame([(2, 99), (7, 70)], "pk int, v int")
    ds.merge(src, ref, MergeSpec(["pk"], ["v"], insert_when_not_matched=True))
    rows = _rows(ds.read(ref))
    # matched row updated, non-set column kept; insert covers pk+update
    # columns only (NULL elsewhere); unmatched target rows untouched
    assert rows == [(1, "a", 10), (2, "a", 99), (3, "b", 30), (7, None, 70)]


def test_merge_aborts_on_duplicate_source_keys(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    src = spark.createDataFrame([(1, 100), (1, 200)], "pk int, v int")
    with pytest.raises(ETLJobException, match="duplicate"):
        ds.merge(src, ref, MergeSpec(["pk"], ["v"]))


def test_replace_where_contract(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref, [(1, "a", 10), (2, "b", 20), (3, None, 30)])
    # source rows violating the predicate abort the write
    bad = spark.createDataFrame([(9, "zzz", 90)], "pk int, part string, v int")
    with pytest.raises(Exception, match="violate"):
        ds.overwrite(bad, ref, replace_where="part = 'a'")
    # TRUE rows replaced; FALSE and NULL rows survive
    good = spark.createDataFrame([(8, "a", 80)], "pk int, part string, v int")
    ds.overwrite(good, ref, replace_where="part = 'a'")
    assert _rows(ds.read(ref)) == [(2, "b", 20), (3, None, 30), (8, "a", 80)]


def test_dynamic_overwrite_replaces_only_source_partitions(spark, ds, tmp_path):
    ref = _ref(tmp_path, partition_by=["part"])
    _seed(spark, ds, ref)
    newer = spark.createDataFrame([(9, "a", 90)], "pk int, part string, v int")
    ds.overwrite_dynamic(newer, ref)
    assert _rows(ds.read(ref)) == [(3, "b", 30), (9, "a", 90)]


@pytest.mark.parametrize("ptype, part", [
    ("double", "1e20"),
    ("float", "0.1"),
    ("timestamp", "'2024-01-01 00:00:00.5'"),
    ("int", "NULL"),
])
def test_dynamic_overwrite_matches_partitions_it_wrote(spark, ds, tmp_path,
                                                       ptype, part):
    """The replaced partitions are those of the files the overwrite
    wrote, matched on Spark's own partition directory names: a double,
    a float, a fractional-second timestamp or a NULL partition value
    replaces its old rows instead of keeping them next to the new."""
    ref = _ref(tmp_path, partition_by=["p"])
    ds.append(spark.sql(
        f"SELECT * FROM VALUES (1, CAST({part} AS {ptype})), "
        f"(2, CAST(7 AS {ptype})) AS t(pk, p)"
    ), ref)
    new = spark.sql(f"SELECT 3 AS pk, CAST({part} AS {ptype}) AS p")
    ds.overwrite_dynamic(new, ref)
    kept = spark.sql(f"SELECT 2 AS pk, CAST(7 AS {ptype}) AS p")
    assert _rows(ds.read(ref)) == _rows(kept.unionByName(new))


def test_delta_datasource_dynamic_overwrite_takes_txn(spark, tmp_path):
    """The ``delta`` datasource (YAML ``datasource: delta``) passes
    ``txn`` through to the transactional store, and refuses it when
    the name routes to the Spark catalog connector."""
    ds = init_datasource("delta", spark)
    ref = _ref(tmp_path, partition_by=["part"])
    _seed(spark, ds, ref)
    newer = spark.createDataFrame([(9, "a", 90)], "pk int, part string, v int")
    ds.overwrite_dynamic(newer, ref, txn=("app", 1))
    assert _rows(ds.read(ref)) == [(3, "b", 30), (9, "a", 90)]
    assert ds.last_txn_version(ref, "app") == 1

    name = "txlog_dyn_catalog"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    newer.write.saveAsTable(name)
    with pytest.raises(DataSourceException, match="transactional-store"):
        ds.overwrite_dynamic(newer, TableRef(table=name), txn=("app", 2))
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_delete_and_truncate(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref, [(1, "a", 10), (2, "b", 20), (3, None, 30)])
    ds.delete(ref, "part = 'a'")  # NULL predicate rows survive
    assert _rows(ds.read(ref)) == [(2, "b", 20), (3, None, 30)]
    ds.truncate(ref)
    out = ds.read(ref)
    assert out.count() == 0
    assert out.columns == ["pk", "part", "v"]  # schema survives truncate


def test_compact_is_logically_noop(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    _seed(spark, ds, ref, [(4, "c", 40)])
    before = _rows(ds.read(ref))
    n = ds.compact(TableRef(path=ref.path), target_files=1)
    assert n == 1
    snap = resolve_snapshot(ref.path)
    assert len(snap.files) == 1
    assert _rows(ds.read(ref)) == before


def test_optimize_binpacks_only_small_files_in_scope(spark, ds, tmp_path):
    """OPTIMIZE [WHERE]: only sub-threshold files in the matching
    partitions rewrite; large files and out-of-scope partitions keep
    path identity; the commit is logically a no-op."""
    ref = TableRef(path=str(tmp_path / "opt"), partition_by=["part"])
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", i) for i in range(40)],
        "pk int, part string, v int",
    )
    ds.create(ref, df.schema, partition_by=["part"])
    for lo in range(0, 40, 10):  # 4 appends x 2 partitions = 8 small files
        ds.append(df.filter(f"pk >= {lo} and pk < {lo + 10}").coalesce(1),
                  ref)
    before = _rows(ds.read(ref))
    snap = resolve_snapshot(ref.path)
    a_files = {p for p, add in snap.files.items()
               if add["partitionValues"].get("part") == "a"}
    b_files = set(snap.files) - a_files
    assert len(a_files) == len(b_files) == 4

    out = ds.optimize(ref, where="part = 'a'")
    assert out["rewritten"] == 4 and out["new_files"] >= 1
    snap = resolve_snapshot(ref.path)
    assert b_files <= set(snap.files)          # out of scope: untouched
    assert not a_files & set(snap.files)       # in scope: bin-packed
    assert _rows(ds.read(ref)) == before       # logically a no-op
    assert ds.semantic_diff(ref, snap.version - 1,
                            snap.version).count() == 0

    # second pass: partition 'a' already compacted -> no-op, no commit
    v = snap.version
    assert ds.optimize(ref, where="part = 'a'") == {
        "rewritten": 0, "new_files": 0,
    }
    assert resolve_snapshot(ref.path).version == v

    # large files never rewrite: with a tiny threshold nothing is small
    assert ds.optimize(ref, target_size_mb=0) == {
        "rewritten": 0, "new_files": 0,
    }

    # WHERE must be partition-only
    import pytest as _pytest

    with _pytest.raises(DataSourceException, match="partition columns"):
        ds.optimize(ref, where="v > 3")
    # unscoped optimize packs the rest
    out = ds.optimize(ref)
    assert out["rewritten"] >= 4
    assert _rows(ds.read(ref)) == before


def test_optimize_purges_dv_masks_and_sql_dispatch(spark, ds, tmp_path):
    from x_spark.sources.txlog import DV_ENABLE_KEY

    import uuid as _uuid

    name = f"opt_{_uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    ds.append(spark.createDataFrame([(i, i) for i in range(10)],
                                    "pk int, v int").coalesce(1), ref)
    ds.append(spark.createDataFrame([(10, 10)], "pk int, v int")
              .coalesce(1), ref)
    try:
        ds.set_properties(ref, {DV_ENABLE_KEY: "true"})
        ds.delete(ref, "pk < 2")
        want = sorted(r.pk for r in ds.read(ref).collect())
        ds._execute_statement(f"OPTIMIZE {name}")
        snap = resolve_snapshot(ds._table_path(ref))
        assert not any(a.get("dv") for a in snap.files.values())
        assert sorted(r.pk for r in ds.read(ref).collect()) == want
    finally:
        ds.drop_table(ref)


def test_sql_metadata_readbacks(spark, ds, tmp_path):
    """DESCRIBE HISTORY / DESCRIBE DETAIL / SHOW TBLPROPERTIES return
    real relations through the pass-through SQL surface."""
    import uuid as _uuid

    name = f"meta_{_uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    ds.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                    "pk int, s string"), ref)
    ds.set_properties(ref, {"custom.tag": "demo"})
    try:
        hist = ds._execute_statement(f"DESCRIBE HISTORY {name}").collect()
        assert [(r.version, r.operation) for r in hist][:2] == [
            (0, "CREATE"), (1, "APPEND"),
        ]
        assert all(r.timestamp is not None for r in hist)
        det = ds._execute_statement(f"DESCRIBE DETAIL {name}").first()
        assert det.num_rows == 2 and det.version == 2
        props = {r.key: r.value for r in ds._execute_statement(
            f"SHOW TBLPROPERTIES {name}").collect()}
        assert props["custom.tag"] == "demo"
    finally:
        ds.drop_table(ref)


def test_sql_clone_verb(spark, ds, tmp_path):
    """CREATE TABLE dst [SHALLOW|DEEP] CLONE src [VERSION AS OF n]
    routes to the hardlink clone; IF NOT EXISTS is a no-op on an
    existing destination."""
    import uuid as _uuid

    sfx = _uuid.uuid4().hex[:8]
    s, d = f"cls_{sfx}", f"cld_{sfx}"
    ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"),
              TableRef(table=s))  # v0+v1
    ds.append(spark.createDataFrame([(2, 20)], "pk int, v int"),
              TableRef(table=s))  # v2
    try:
        out = ds._execute_statement(
            f"CREATE TABLE {d} SHALLOW CLONE {s} VERSION AS OF 1"
        ).first()
        assert out.clone_version == 0
        assert [tuple(r) for r in ds.read(TableRef(table=d)).collect()] \
            == [(1, 10)]
        # IF NOT EXISTS on an existing clone: no-op, contents unchanged
        ds._execute_statement(
            f"CREATE TABLE IF NOT EXISTS {d} CLONE {s}"
        )
        assert ds.count_rows(TableRef(table=d)) == 1
        # clone is independent: writes to it never touch the source
        ds._execute_statement(f"INSERT INTO {d} VALUES (3, 30)")
        assert ds.count_rows(TableRef(table=d)) == 2
        assert ds.count_rows(TableRef(table=s)) == 2
    finally:
        ds.drop_table(TableRef(table=s))
        ds.drop_table(TableRef(table=d))


def test_sql_time_travel_version_and_timestamp(spark, ds, tmp_path):
    """SELECT ... VERSION AS OF n / TIMESTAMP AS OF 'ts' on a txlog
    name binds the phrase to the time-traveled snapshot (Delta's SQL
    time travel); the bare name elsewhere in the SAME statement stays
    latest."""
    import uuid as _uuid

    name = f"tt_{_uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"), ref)  # v1
    ds.append(spark.createDataFrame([(2, 20)], "pk int, v int"), ref)  # v2
    try:
        old = ds._execute_statement(
            f"SELECT sum(v) AS tv FROM {name} VERSION AS OF 1"
        ).first()
        assert old.tv == 10
        # mixed: time-traveled and latest in one statement
        mix = ds._execute_statement(
            f"SELECT (SELECT count(*) FROM {name} VERSION AS OF 1) AS n1, "
            f"(SELECT count(*) FROM {name}) AS n2"
        ).first()
        assert (mix.n1, mix.n2) == (1, 2)
        # timestamp travel via the in-commit timestamp of v1
        ts_ms = next(h["timestamp"] for h in ds.history(ref)
                     if h["version"] == 1)
        import datetime as _dt

        # full-precision ISO with zone: resolves to exactly v1 (ICT is
        # monotone +1ms, so v2 is strictly later)
        lit = _dt.datetime.fromtimestamp(
            ts_ms / 1000.0, tz=_dt.timezone.utc
        ).isoformat()
        got = ds._execute_statement(
            f"SELECT count(*) AS n FROM {name} TIMESTAMP AS OF '{lit}'"
        ).first()
        assert got.n == 1
    finally:
        ds.drop_table(ref)


def test_auto_compact_property(spark, ds, tmp_path):
    """autoCompact=true: appends opportunistically bin-pack once the
    small-file debt reaches the threshold; without the property the
    file count only grows."""
    from x_spark.sources.txlog import TxLogDataSource

    ref = TableRef(path=str(tmp_path / "ac"))
    ds.append(spark.createDataFrame([(0,)], "pk int").coalesce(1), ref)
    ds.set_properties(ref, {TxLogDataSource.AUTO_COMPACT_KEY: "true"})
    n = TxLogDataSource.AUTO_COMPACT_MIN_FILES
    for i in range(1, n + 1):
        ds.append(spark.createDataFrame([(i,)], "pk int").coalesce(1), ref)
    snap = resolve_snapshot(ref.path)
    assert len(snap.files) < n  # debt compacted mid-stream
    assert ds.read(ref).count() == n + 1
    ops = [h["operation"] for h in ds.history(ref)]
    assert "OPTIMIZE" in ops

    # property off: appends never trigger compaction
    off = TableRef(path=str(tmp_path / "off"))
    for i in range(4):
        ds.append(spark.createDataFrame([(i,)], "pk int").coalesce(1), off)
    assert "OPTIMIZE" not in [h["operation"] for h in ds.history(off)]


# -- transactional mechanics ------------------------------------------------
def test_time_travel_and_history(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    ds.delete(ref, "pk = 1")
    v1 = TableRef(path=ref.path, options={"versionAsOf": "1"})
    assert len(_rows(ds.read(v1))) == 3
    assert len(_rows(ds.read(ref))) == 2
    ops = [h["operation"] for h in ds.history(ref)]
    assert ops == ["CREATE", "APPEND", "DELETE"]
    with pytest.raises(DataSourceException, match="does not exist"):
        ds.read(TableRef(path=ref.path, options={"versionAsOf": "17"}))


def test_snapshot_isolation_for_running_reads(spark, ds, tmp_path):
    """A DataFrame resolved before a concurrent overwrite still reads
    the files of ITS snapshot — readers never see mixed versions."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    old = ds.read(ref)
    ds.overwrite(
        spark.createDataFrame([(9, "z", 90)], "pk int, part string, v int"), ref
    )
    assert _rows(old) == [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    assert _rows(ds.read(ref)) == [(9, "z", 90)]


def test_merge_skips_files_outside_key_range(spark, ds, tmp_path):
    """Footer-stats data skipping: a merge touching keys 1-3 must not
    rewrite (or even read) the file holding keys 100+ — its add entry
    and bytes survive identically."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref, [(1, "a", 10), (2, "a", 20)])
    _seed(spark, ds, ref, [(100, "b", 1), (200, "b", 2)])
    snap0 = resolve_snapshot(ref.path)
    high_files = {
        p for p, a in snap0.files.items()
        if (a["stats"]["minValues"].get("pk") or 0) >= 100
    }
    assert high_files
    mtimes = {
        p: os.path.getmtime(os.path.join(ref.path, p)) for p in high_files
    }
    src = spark.createDataFrame([(2, 99)], "pk int, v int")
    ds.merge(src, ref, MergeSpec(["pk"], ["v"]))
    snap1 = resolve_snapshot(ref.path)
    for p in high_files:  # same log entry, same bytes
        assert p in snap1.files
        assert os.path.getmtime(os.path.join(ref.path, p)) == mtimes[p]
    assert (2, "a", 99) in _rows(ds.read(ref))


def test_partition_pruned_delete_leaves_other_files_untouched(spark, ds, tmp_path):
    ref = _ref(tmp_path, partition_by=["part"])
    _seed(spark, ds, ref)
    snap0 = resolve_snapshot(ref.path)
    b_files = {
        p for p, a in snap0.files.items()
        if a["partitionValues"].get("part") == "b"
    }
    assert b_files
    mtimes = {p: os.path.getmtime(os.path.join(ref.path, p)) for p in b_files}
    ds.delete(ref, "part = 'a'")
    snap1 = resolve_snapshot(ref.path)
    for p in b_files:
        assert p in snap1.files
        assert os.path.getmtime(os.path.join(ref.path, p)) == mtimes[p]


def test_concurrent_append_retries_and_wins(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    # simulate a concurrent writer claiming the next version mid-append
    orig = ds._commit
    fired = {}

    def racing_commit(table, version, actions, operation, txn=None):
        if operation == "APPEND" and not fired.get("done"):
            fired["done"] = True
            orig(table, version, [], "RACER")
        return orig(table, version, actions, operation, txn=txn)

    ds._commit = racing_commit
    try:
        ds.append(
            spark.createDataFrame([(9, "z", 90)], "pk int, part string, v int"), ref
        )
    finally:
        ds._commit = orig
    assert (9, "z", 90) in _rows(ds.read(ref))
    assert [h["operation"] for h in ds.history(ref)][-2:] == ["RACER", "APPEND"]


def test_concurrent_modification_retries_read_modify_write(spark, ds, tmp_path):
    """A MERGE that loses the version race re-resolves the snapshot
    and RECOMPUTES the whole merge (serializable: it re-runs as-if
    after the winning commit) instead of surfacing the race — and the
    recomputation sees the racer's rows."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    orig = ds._write_files
    fired = {}

    def racing_write(df, table, part_cols, **kw):
        adds = orig(df, table, part_cols, **kw)
        if not fired.get("done"):
            fired["done"] = True
            # another writer lands a ROW between this writer's read
            # and commit — the retried merge must match against it
            racer_adds = orig(
                spark.createDataFrame([(7, "r", 70)],
                                      "pk int, part string, v int"),
                table, part_cols, **kw,
            )
            ds._commit(table, resolve_snapshot(table).version + 1,
                       [{"add": a} for a in racer_adds], "RACER")
        return adds

    ds._write_files = racing_write
    try:
        src = spark.createDataFrame([(1, 99), (7, 77)], "pk int, v int")
        ds.merge(src, ref, MergeSpec(["pk"], ["v"]))
    finally:
        ds._write_files = orig
    rows = {r[0]: r for r in _rows(ds.read(ref))}
    assert rows[1][2] == 99          # matched pre-race row updated
    assert rows[7][2] == 77          # the RACER's row matched on retry
    ops = [h["operation"] for h in ds.history(ref)]
    assert ops[-2:] == ["RACER", "MERGE"]


def test_merge_gives_up_after_repeated_version_races(spark, ds, tmp_path):
    """An adversarial writer that wins EVERY race exhausts the bounded
    retry budget: the merge surfaces ConcurrentWriteException rather
    than spinning forever."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    orig = ds._write_files

    def always_racing_write(df, table, part_cols, **kw):
        adds = orig(df, table, part_cols, **kw)
        ds._commit(table, resolve_snapshot(table).version + 1, [], "RACER")
        return adds

    ds._write_files = always_racing_write
    try:
        src = spark.createDataFrame([(1, 99)], "pk int, v int")
        with pytest.raises(ConcurrentWriteException, match="version races"):
            ds.merge(src, ref, MergeSpec(["pk"], ["v"]))
    finally:
        ds._write_files = orig


def test_vacuum_orphans_and_history_horizon(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    # orphan: a data file no commit references (crashed writer)
    orphan = os.path.join(ref.path, "part-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    # retention guard on: a fresh unreferenced file is NOT deleted (it
    # could belong to an in-flight commit)
    assert ds.vacuum(TableRef(path=ref.path)) == []
    assert os.path.exists(orphan)
    # min_age_sec=0: offline maintenance, delete immediately
    deleted = ds.vacuum(TableRef(path=ref.path), min_age_sec=0)
    assert deleted == ["part-orphan.parquet"]
    # history-dropping vacuum: overwrite then vacuum(keep_last=1)
    ds.overwrite(
        spark.createDataFrame([(9, "z", 90)], "pk int, part string, v int"), ref
    )
    deleted = ds.vacuum(TableRef(path=ref.path), keep_last=1, min_age_sec=0)
    assert deleted  # the pre-overwrite files are gone
    assert _rows(ds.read(ref)) == [(9, "z", 90)]  # latest intact
    with pytest.raises(Exception):  # time travel below the horizon fails
        ds.read(TableRef(path=ref.path, options={"versionAsOf": "1"})).collect()


def test_vacuum_lite_log_driven_candidates(spark, ds, tmp_path):
    """VACUUM LITE finds its candidates in the log's remove actions —
    no directory listing — and deletes exactly what a full vacuum
    would, minus orphans (its documented blind spot)."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    # orphan: invisible to LITE by design
    orphan = os.path.join(ref.path, "part-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    ds.overwrite(
        spark.createDataFrame([(9, "z", 90)], "pk int, part string, v int"),
        ref,
    )
    # keep_last=None: every committed file is still horizon-referenced
    # — LITE is a no-op (only the orphan would qualify; LITE can't see it)
    assert ds.vacuum(TableRef(path=ref.path), min_age_sec=0,
                     lite=True) == []
    # dry run names the pre-overwrite files without touching them
    dry = ds.vacuum(TableRef(path=ref.path), keep_last=1, min_age_sec=0,
                    dry_run=True, lite=True)
    assert dry and all(os.path.exists(os.path.join(ref.path, r))
                       for r in dry)
    full_dry = ds.vacuum(TableRef(path=ref.path), keep_last=1,
                         min_age_sec=0, dry_run=True)
    assert sorted(full_dry) == sorted(dry + ["part-orphan.parquet"])
    deleted = ds.vacuum(TableRef(path=ref.path), keep_last=1,
                        min_age_sec=0, lite=True)
    assert sorted(deleted) == sorted(dry)
    assert os.path.exists(orphan)  # LITE never touches orphans
    assert _rows(ds.read(ref)) == [(9, "z", 90)]  # latest intact
    # converged: a second LITE pass deletes nothing
    assert ds.vacuum(TableRef(path=ref.path), keep_last=1, min_age_sec=0,
                     lite=True) == []


def test_vacuum_lite_respects_retention_guard(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    ds.overwrite(
        spark.createDataFrame([(9, "z", 90)], "pk int, part string, v int"),
        ref,
    )
    # default min_age: freshly-removed files survive (in-flight guard)
    assert ds.vacuum(TableRef(path=ref.path), keep_last=1,
                     lite=True) == []


def test_checkpoint_written_and_used(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    df = spark.createDataFrame([(0, "a", 0)], "pk int, part string, v int")
    ds.append(df, ref)
    for i in range(1, CHECKPOINT_INTERVAL + 1):
        ds.append(
            spark.createDataFrame([(i, "a", i)], "pk int, part string, v int"), ref
        )
    _, checkpoints = _list_log(ref.path)
    assert checkpoints, "no checkpoint after CHECKPOINT_INTERVAL commits"
    # snapshot resolved through the checkpoint equals full replay
    snap = resolve_snapshot(ref.path)
    assert sum(a["numRecords"] for a in snap.files.values()) == CHECKPOINT_INTERVAL + 1
    assert ds.read(ref).count() == CHECKPOINT_INTERVAL + 1


def test_commit_files_are_single_atomic_units(spark, ds, tmp_path):
    """Every version is exactly one log file of JSON-line actions; a
    re-commit of an existing version raises instead of overwriting."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    commits, _ = _list_log(ref.path)
    assert [int(c.split(".")[0]) for c in commits] == [0, 1]
    with open(os.path.join(ref.path, "_txlog", commits[-1])) as fh:
        actions = [json.loads(line) for line in fh]
    assert any("add" in a for a in actions)
    assert any("commitInfo" in a for a in actions)
    with pytest.raises(ConcurrentWriteException):
        ds._commit(ref.path, 1, [], "DUP")


def test_clustering_tightens_file_skipping(spark, ds, tmp_path):
    """After cluster(pk), a single-key merge must prune to ~one file;
    before clustering (round-robin appends interleave the key space)
    every file is a candidate."""
    ref = _ref(tmp_path)
    # two appends in scrambled key order, so every written file spans
    # (roughly) the whole key space and range pruning has nothing to cut
    evens = sorted(range(0, 100, 2), key=lambda i: (i * 37) % 100)
    odds = sorted(range(1, 100, 2), key=lambda i: (i * 37) % 100)
    _seed(spark, ds, ref, [(i, "a", i) for i in evens])
    _seed(spark, ds, ref, [(i, "a", i) for i in odds])
    snap = resolve_snapshot(ref.path)
    src = spark.createDataFrame([(3, 999)], "pk int, v int")
    before = len(ds._files_overlapping_keys(src, snap, "pk"))
    assert before >= len(snap.files) // 2  # scrambled files barely prune
    n = ds.cluster(TableRef(path=ref.path), ["pk"], target_files=4)
    assert n == 4
    snap2 = resolve_snapshot(ref.path)
    after = len(ds._files_overlapping_keys(src, snap2, "pk"))
    assert after < len(snap2.files)  # pruned to the narrow-range file(s)
    assert after <= 2
    # logically a no-op
    rows = _rows(ds.read(ref))
    assert len(rows) == 100 and (3, "a", 3) in rows
    ds.merge(src, ref, MergeSpec(["pk"], ["v"]))
    assert (3, "a", 999) in _rows(ds.read(ref))


def test_change_data_feed(spark, ds, tmp_path):
    """changes(from, to) yields row-level inserts/deletes per commit;
    an update (MERGE rewrite) decomposes into delete + insert."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)                                   # v1: 3 inserts
    ds.append(
        spark.createDataFrame([(4, "b", 40)], "pk int, part string, v int"), ref
    )                                                       # v2: 1 insert
    src = spark.createDataFrame([(1, 99)], "pk int, v int")
    ds.merge(src, ref, MergeSpec(["pk"], ["v"]))            # v3: rewrite
    cdf = ds.changes(ref, from_version=1)
    rows = {
        (r.pk, r.part, r.v, r._change_type, r._commit_version)
        for r in cdf.collect()
    }
    assert (4, "b", 40, "insert", 2) in rows
    assert (1, "a", 10, "delete", 3) in rows  # old image out
    assert (1, "a", 99, "insert", 3) in rows  # new image in
    # file-skipped rows (pk outside the merge range, other files) never
    # appear as changes
    assert not any(r[0] == 4 and r[4] == 3 and r[3] == "delete" for r in rows)
    # empty interval -> empty frame with the CDF schema
    empty = ds.changes(ref, from_version=3)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_cli_txlog_commands(spark, ds, tmp_path, capsys):
    from x_spark.cli import main

    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    ds.delete(ref, "pk = 1")
    assert main(["history", ref.path]) == 0
    out = capsys.readouterr().out
    assert "CREATE" in out and "APPEND" in out and "DELETE" in out
    assert main(["show", ref.path, "--version", "1"]) == 0
    assert "|1  |a   |10 |" in capsys.readouterr().out  # pk=1 visible at v1
    assert main(["changes", ref.path, "--from-version", "1"]) == 0
    assert "delete" in capsys.readouterr().out
    assert main(["vacuum", ref.path]) == 0
    assert "deleted 0 file(s)" in capsys.readouterr().out


def test_catalog_name_addressing(spark, ds, tmp_path):
    """TableRef(table=name) resolves through the warehouse names file:
    creating ops allocate a directory; reads on unknown names raise."""
    import uuid as _uuid

    name = f"txname_{_uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    with pytest.raises(DataSourceException, match="unknown txlog table"):
        ds.read(ref)
    assert not ds.table_exists(ref)
    df = spark.createDataFrame([(1, 10)], "pk int, v int")
    ds.append(df, ref)
    assert ds.table_exists(ref)
    assert _rows(ds.read(ref)) == [(1, 10)]
    ds.merge(
        spark.createDataFrame([(1, 99)], "pk int, v int"),
        ref,
        MergeSpec(["pk"], ["v"]),
    )
    assert _rows(ds.read(ref)) == [(1, 99)]
    # same name from a second connector instance resolves identically
    ds2 = init_datasource("txlog", spark)
    assert _rows(ds2.read(TableRef(table=name))) == [(1, 99)]


# -- ETL integration --------------------------------------------------------
def test_yaml_etl_job_against_txlog_target(spark, ds, tmp_path):
    """The lifecycle runner drives a txlog path target end-to-end
    (upsert operation) through init_etl_job."""
    import yaml

    from x_spark.plans.etl import init_etl_job

    target = str(tmp_path / "etl_target")
    _seed(spark, ds, TableRef(path=target), [(1, "a", 10), (2, "b", 20)])
    spark.createDataFrame([(2, 99), (5, 50)], "pk int, v int").createOrReplaceTempView(
        "txlog_src_view"
    )
    cfg = {
        "version": 1,
        "source": {"datasource": "parquet", "query": "SELECT * FROM txlog_src_view"},
        "target": {
            "datasource": "txlog",
            "path": target,
            "operation": "upsert",
            "primary_key_column": ["pk"],
            "update_column": ["v"],
        },
    }
    cfg_path = tmp_path / "job.yaml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    job = init_etl_job(str(cfg_path), spark=spark)
    job.run()
    assert _rows(ds.read(TableRef(path=target))) == [
        (1, "a", 10),
        (2, "b", 99),
        (5, None, 50),
    ]


def _overlap_count(snap, col, value):
    """How many files' footer [min,max] on ``col`` contain ``value``."""
    n = 0
    for rel in snap.files:
        st = snap.files[rel].get("stats") or {}
        lo = (st.get("minValues") or {}).get(col)
        hi = (st.get("maxValues") or {}).get(col)
        if lo is None or hi is None or (lo <= value <= hi):
            n += 1
    return n


def test_zorder_prunes_on_every_clustered_column(spark, ds, tmp_path):
    """Lexicographic clustering on (x, y) gives narrow per-file ranges
    only for x — every file spans ~the full y range, so a y-predicate
    cannot skip. Z-order interleaves both, so a point predicate on y
    alone overlaps only ~sqrt(n_files) files."""
    ref = _ref(tmp_path)
    grid = [(x, y, x * 32 + y) for x in range(32) for y in range(32)]
    scrambled = sorted(grid, key=lambda t: (t[2] * 193) % 1024)
    df = spark.createDataFrame(scrambled, "x int, y int, v int")
    ds.create(TableRef(path=ref.path), df.schema)
    ds.append(df.repartition(4), TableRef(path=ref.path))

    ds.cluster(TableRef(path=ref.path), ["x", "y"], target_files=16,
               strategy="range")
    lex = resolve_snapshot(ref.path)
    assert len(lex.files) == 16
    # x leads the sort: x-predicates prune hard...
    assert _overlap_count(lex, "x", 7) <= 3
    # ...but y-ranges are full-width in (almost) every file
    assert _overlap_count(lex, "y", 7) >= 12

    ds.cluster(TableRef(path=ref.path), ["x", "y"], target_files=16,
               strategy="zorder")
    zed = resolve_snapshot(ref.path)
    assert len(zed.files) == 16
    # Morton layout: BOTH columns get narrow per-file ranges —
    # a 16-file z-layout of a square grid is ~a 4x4 tile grid
    assert _overlap_count(zed, "x", 7) <= 8
    assert _overlap_count(zed, "y", 7) <= 8
    # logically a no-op
    assert _rows(ds.read(ref)) == sorted(grid)
    # unknown strategy is a typed error ("hilbert" graduated to a real
    # strategy — see tests/test_hilbert.py)
    with pytest.raises(DataSourceException):
        ds.cluster(TableRef(path=ref.path), ["x"], strategy="peano")


def test_concurrent_appenders_no_lost_updates(spark, ds, tmp_path):
    """N threads race appends against one table: every batch must land
    (appends commute and retry on version collision), the log must be a
    gap-free version chain, and no rows may be lost or duplicated."""
    from concurrent.futures import ThreadPoolExecutor

    ref = _ref(tmp_path)
    schema_df = spark.createDataFrame([], "writer int, seq int, v int")
    ds.create(TableRef(path=ref.path), schema_df.schema)

    n_writers, n_batches = 4, 3

    def work(writer):
        for seq in range(n_batches):
            df = spark.createDataFrame(
                [(writer, seq, writer * 100 + seq)], "writer int, seq int, v int"
            )
            ds.append(df, TableRef(path=ref.path))
        return writer

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        assert sorted(ex.map(work, range(n_writers))) == list(range(n_writers))

    rows = _rows(ds.read(ref))
    assert len(rows) == n_writers * n_batches
    assert rows == sorted(
        (w, s, w * 100 + s) for w in range(n_writers) for s in range(n_batches)
    )
    # gap-free version chain: create + one commit per append
    versions = [v["version"] for v in ds.history(TableRef(path=ref.path))]
    assert sorted(versions) == list(range(n_writers * n_batches + 1))


def test_concurrent_merge_vs_append_retries_cleanly(spark, ds, tmp_path):
    """A MERGE that loses a version race to a concurrent append must
    NOT silently drop the interleaved append: the bounded retry
    re-resolves the log and recomputes against the appended state, so
    both the append's row and the merge's update land."""
    import threading

    ref = _ref(tmp_path)
    _seed(spark, ds, ref)  # pk 1..3
    src = spark.createDataFrame([(1, 999)], "pk int, v int")

    orig_commit = ds._commit
    release = threading.Event()

    def stalling_commit(table, expected_version, actions, op, **kw):
        if op == "MERGE" and not release.is_set():
            # interleave an append while the merge is between read and
            # commit — the classic RMW race
            release.set()
            ds.append(
                spark.createDataFrame([(9, "z", 90)], "pk int, part string, v int"),
                TableRef(path=ref.path),
            )
        return orig_commit(table, expected_version, actions, op, **kw)

    ds._commit = stalling_commit
    try:
        ds.merge(src, ref, MergeSpec(["pk"], ["v"]))
    finally:
        ds._commit = orig_commit
    rows = _rows(ds.read(ref))
    assert (9, "z", 90) in rows      # interleaved append preserved
    assert (1, "a", 999) in rows     # merge update applied on retry
    ops = [h["operation"] for h in ds.history(ref)]
    assert ops[-2:] == ["APPEND", "MERGE"]


def test_exactly_once_streaming_upsert(spark, ds, tmp_path):
    """foreachBatch into txlog with txn stamps: a real AvailableNow
    stream lands every event exactly once, and a REPLAYED epoch (the
    at-least-once delivery case after a restart) is a no-op — no
    duplicate rows, no extra commit."""
    from pyspark.sql import functions as F

    from x_spark.streaming.events import (
        chunked_events_dir, read_events_stream, txlog_exactly_once_upsert,
    )

    sf = "/root/testdata/sf0.001"
    ref = TableRef(path=str(tmp_path / "acc"))
    events = spark.read.parquet(f"{sf}/events.parquet")
    ds.create(ref, spark.createDataFrame(
        [], "event_id bigint, user_id bigint, value double").schema)

    src_dir = chunked_events_dir(spark, sf, n_chunks=3)
    stream = read_events_stream(spark, sf, path=src_dir, max_files_per_trigger=1)
    handler = txlog_exactly_once_upsert(
        ds, ref,
        MergeSpec(["event_id"], ["user_id", "value"],
                  insert_when_not_matched=True),
        app_id="t_exactly_once",
    )
    replayed = []

    def handle(batch_df, batch_id):
        batch = batch_df.select("event_id", "user_id", "value")
        handler(batch, batch_id)
        replayed.append((batch, batch_id))

    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()

    n_total = events.count()
    assert ds.read(ref).count() == n_total
    versions_before = len(ds.history(ref))
    # simulate the restart-replay: re-deliver every epoch
    for batch, batch_id in replayed:
        handler(batch, batch_id)
    assert ds.read(ref).count() == n_total           # no duplicates
    assert len(ds.history(ref)) == versions_before   # no extra commits
    assert ds.last_txn_version(ref, "t_exactly_once") == len(replayed) - 1
    assert ds.last_txn_version(ref, "other_app") == -1


def test_merge_schema_append_widens_atomically(spark, ds, tmp_path):
    """mergeSchema append: new columns widen the table in the SAME
    commit as the data; old files read back with NULL for the new
    column; df-side missing columns fill NULL; time travel still sees
    the old schema; plain append stays strict."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    wide = spark.createDataFrame(
        [(0, "z", 0, "dropped")], "pk int, part string, v int, note string"
    )
    # strict append selects by name: the extra column is not written
    ds.append(wide, ref)
    assert ds.read(ref).columns == ["pk", "part", "v"]
    wide = spark.createDataFrame(
        [(4, "c", 40, "hello")], "pk int, part string, v int, note string"
    )
    ds.append(wide, ref, merge_schema=True)
    rows = _rows(ds.read(ref))
    assert (4, "c", 40, "hello") in rows
    assert (1, "a", 10, None) in rows  # old files surface NULL
    # df missing old AND new columns: NULL-filled
    narrow = spark.createDataFrame([(5, 50)], "pk int, v int")
    ds.append(narrow, ref, merge_schema=True)
    assert (5, None, 50, None) in _rows(ds.read(ref))
    # schema+data travel in one commit: time travel to v1 (before the
    # widening append) still shows the narrow schema
    v1 = TableRef(path=ref.path, options={"versionAsOf": "1"})
    assert ds.read(v1).columns == ["pk", "part", "v"]
    assert ds.read(ref).columns == ["pk", "part", "v", "note"]


def test_concurrent_schema_evolving_appends_keep_both_columns(spark, ds, tmp_path):
    """Two schema-evolving appends racing: metaData actions do NOT
    commute (log replay keeps the last), so the loser must recompute
    its merged schema against the fresh snapshot before retrying —
    neither new column may silently disappear."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    with_b = spark.createDataFrame(
        [(10, "a", 1, "bee")], "pk int, part string, v int, col_b string"
    )
    with_c = spark.createDataFrame(
        [(11, "a", 2, 3.5)], "pk int, part string, v int, col_c double"
    )

    orig_commit = ds._commit
    fired = []

    def racy_commit(table, expected_version, actions, op, **kw):
        if op == "APPEND" and not fired and any("metaData" in a for a in actions):
            # interleave the OTHER schema-evolving append between this
            # one's snapshot resolve and its commit
            fired.append(True)
            ds._commit = orig_commit
            ds.append(with_c, TableRef(path=ref.path), merge_schema=True)
            ds._commit = racy_commit
        return orig_commit(table, expected_version, actions, op, **kw)

    ds._commit = racy_commit
    try:
        ds.append(with_b, ref, merge_schema=True)
    finally:
        ds._commit = orig_commit

    out = ds.read(ref)
    assert set(out.columns) == {"pk", "part", "v", "col_b", "col_c"}
    rows = _rows(out.select("pk", "col_b", "col_c"))
    assert (10, "bee", None) in rows and (11, None, 3.5) in rows


def test_merge_schema_rejects_type_change(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    retyped = spark.createDataFrame([(7, "a", "nope")], "pk int, part string, v string")
    with pytest.raises(DataSourceException, match="cannot change column 'v'"):
        ds.append(retyped, ref, merge_schema=True)


def test_txn_replay_detected_inside_commit(spark, ds, tmp_path):
    """The SetTransaction conflict check: a commit stamped with an
    appId txn version <= one already durable aborts INSIDE the commit
    path — the zombie-writer window between the last_txn_version fast
    path and the commit is closed."""
    from x_spark.sources.txlog import TxnAlreadyCommittedException

    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    spec = MergeSpec(["pk"], ["v"], insert_when_not_matched=True)

    ds.merge(spark.createDataFrame([(1, 111)], "pk int, v int"), ref,
             spec, txn=("app", 5))
    before = _rows(ds.read(ref))

    # same txn version -> replay, must abort (no double apply)
    with pytest.raises(TxnAlreadyCommittedException):
        ds.merge(spark.createDataFrame([(1, 222)], "pk int, v int"), ref,
                 spec, txn=("app", 5))
    # older txn version -> also a replay
    with pytest.raises(TxnAlreadyCommittedException):
        ds.merge(spark.createDataFrame([(1, 333)], "pk int, v int"), ref,
                 spec, txn=("app", 4))
    assert _rows(ds.read(ref)) == before

    # next version proceeds; a different appId is independent
    ds.merge(spark.createDataFrame([(1, 444)], "pk int, v int"), ref,
             spec, txn=("app", 6))
    ds.merge(spark.createDataFrame([(2, 555)], "pk int, v int"), ref,
             spec, txn=("other", 0))
    rows = dict((r[0], r[2]) for r in _rows(ds.read(ref)))
    assert rows[1] == 444 and rows[2] == 555


@pytest.mark.parametrize("dv", [False, True])
def test_txn_stamped_noop_merge_still_stamps(spark, ds, tmp_path, dv):
    """A txn-stamped MERGE that touches no row still commits its stamp
    (alone, no data actions), on copy-on-write and deletion-vector
    tables alike: otherwise a replay of the epoch after another writer
    added a matching row would apply a batch whose first run changed
    nothing."""
    from x_spark.sources.txlog import (
        DV_ENABLE_KEY, TxnAlreadyCommittedException,
    )

    ref = _ref(tmp_path)
    ds.append(spark.createDataFrame([(1, 10), (3, 30), (5, 50)],
                                    "pk int, v int").coalesce(1), ref)
    if dv:
        ds.set_properties(ref, {DV_ENABLE_KEY: "true"})
    files = set(resolve_snapshot(ref.path).files)
    src = spark.createDataFrame([(2, 99)], "pk int, v int")
    ds.merge(src, ref, MergeSpec(["pk"], ["v"]), txn=("app", 7))
    assert ds.last_txn_version(ref, "app") == 7
    assert set(resolve_snapshot(ref.path).files) == files
    ds.append(spark.createDataFrame([(2, 20)], "pk int, v int"), ref)
    with pytest.raises(TxnAlreadyCommittedException):
        ds.merge(src, ref, MergeSpec(["pk"], ["v"]), txn=("app", 7))
    assert _rows(ds.read(ref)) == [(1, 10), (2, 20), (3, 30), (5, 50)]


def test_txn_stamped_append_is_idempotent(spark, ds, tmp_path):
    """Add-only commits accept the same txnAppId/txnVersion stamp as
    MERGE/OVERWRITE (Delta's writer options on append) — the streaming
    bronze-ingest path (streaming_ivm_totals) relies on a replayed
    epoch's append aborting BEFORE any log entry lands."""
    from x_spark.sources.txlog import TxnAlreadyCommittedException

    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    df = spark.createDataFrame([(100, "a", 1)], "pk int, part string, v int")
    n0 = ds.read(ref).count()
    ds.append(df, ref, txn=("ingest", 0))
    assert ds.read(ref).count() == n0 + 1
    assert ds.last_txn_version(ref, "ingest") == 0
    # replayed epoch: no rows double-applied, version chain untouched
    v_before = ds._latest_version(ds._table_path(ref))
    with pytest.raises(TxnAlreadyCommittedException):
        ds.append(df, ref, txn=("ingest", 0))
    assert ds.read(ref).count() == n0 + 1
    assert ds._latest_version(ds._table_path(ref)) == v_before
    # the next epoch proceeds
    ds.append(df, ref, txn=("ingest", 1))
    assert ds.read(ref).count() == n0 + 2


def test_txn_stamps_carried_through_checkpoints(spark, ds, tmp_path):
    """Txn stamps survive into checkpoint ``txns`` maps, so
    last_txn_version scans only the post-checkpoint suffix and the
    guarantee would survive commit-file retention."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    df = spark.createDataFrame([(1, "a", 0)], "pk int, part string, v int")
    # cross a checkpoint boundary with stamped commits
    for i in range(CHECKPOINT_INTERVAL + 3):
        ds.overwrite(df, ref, txn=("stream", i))
    table = ds._table_path(ref)
    _, checkpoints = _list_log(table)
    assert checkpoints, "expected a checkpoint past CHECKPOINT_INTERVAL commits"
    with open(os.path.join(table, "_txlog", checkpoints[-1])) as fh:
        ck = json.load(fh)
    assert ck["txns"]["stream"] >= 0
    assert ds.last_txn_version(ref, "stream") == CHECKPOINT_INTERVAL + 2
    assert ds.last_txn_version(ref, "absent") == -1
    # upto: state as of an older version excludes later stamps
    assert ds._txn_stamps(table, upto=4)["stream"] < CHECKPOINT_INTERVAL + 2


# -- semantic version diff --------------------------------------------------
def test_semantic_diff_cancels_file_granular_rewrite_noise(spark, ds, tmp_path):
    """MERGE rewrites whole files, so the raw CDF emits delete+insert
    pairs for co-located untouched rows; the semantic diff must cancel
    them and report ONLY the logical changes."""
    ref = _ref(tmp_path)
    # one file holding three rows -> updating pk=2 rewrites all three
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 30)], "pk int, part string, v int"
    ).coalesce(1)
    ds.append(df, ref)
    src = spark.createDataFrame([(2, "a", 99), (4, "b", 40)], "pk int, part string, v int")
    spec = MergeSpec(["pk"], ["part", "v"], insert_when_not_matched=True)
    ds.merge(src, ref, spec)
    raw = ds.changes(ref, from_version=1)
    # file-granular feed includes the untouched rows' rewrite pairs
    assert raw.count() > 3
    diff = {(r.pk, r.part, r.v): r.net for r in ds.semantic_diff(ref, 1).collect()}
    assert diff == {
        (2, "a", 20): -1,  # old image gone
        (2, "a", 99): 1,   # new image
        (4, "b", 40): 1,   # insert
    }


def test_semantic_diff_invisible_to_compaction_and_empty_on_noop(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    _seed(spark, ds, ref, [(4, "c", 40)])
    v_before = resolve_snapshot(ref.path).version
    ds.compact(TableRef(path=ref.path), target_files=1)
    # compaction rewrote every file, yet the semantic diff is empty
    assert ds.semantic_diff(ref, v_before).count() == 0
    # and a diff over an empty interval is empty too
    v_now = resolve_snapshot(ref.path).version
    assert ds.semantic_diff(ref, v_now).count() == 0


def test_semantic_diff_nets_duplicate_images(spark, ds, tmp_path):
    """Multiset semantics: appending a row image that already exists
    twice must show net +2 for that image, not a boolean change."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref, [(1, "a", 10)])
    base = resolve_snapshot(ref.path).version
    dup = spark.createDataFrame([(1, "a", 10), (1, "a", 10)], "pk int, part string, v int")
    ds.append(dup, ref)
    ds.delete(ref, "pk = 999")  # no-op delete: rewrites nothing
    diff = ds.semantic_diff(ref, base).collect()
    assert [(r.pk, r.part, r.v, r.net) for r in diff] == [(1, "a", 10, 2)]


def test_restore_rolls_back_and_preserves_history(spark, tmp_path):
    """RESTORE: metadata-only rollback commit — state equals the target
    version, history keeps every intermediate version (including the
    pre-restore state, reachable by time travel), and schema rolls
    back across a mergeSchema append."""
    from x_spark.sources import init_datasource
    from x_spark.sources.base import TableRef

    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "rst"))
    ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"), ref)   # v1
    ds.append(spark.createDataFrame([(2, 20)], "pk int, v int"), ref)   # v2
    ds.append(
        spark.createDataFrame([(3, 30, "x")], "pk int, v int, extra string"),
        ref, merge_schema=True,
    )                                                                    # v3
    pre = sorted(map(tuple, ds.read(ref).collect()))
    assert len(pre) == 3 and len(pre[0]) == 3  # widened schema

    new_v = ds.restore(ref, 2)
    assert new_v == 4
    got = sorted(map(tuple, ds.read(ref).collect()))
    assert got == [(1, 10), (2, 20)]
    # schema rolled back with the data
    assert [f.name for f in ds.read(ref).schema.fields] == ["pk", "v"]
    # pre-restore state still time-travels
    v3 = ds.read(TableRef(path=ref.path, options={"versionAsOf": "3"}))
    assert sorted(map(tuple, v3.collect())) == pre
    # history records the restore
    last = ds.history(ref)[-1]
    assert (last["version"], last["operation"]) == (4, "RESTORE")
    # writes continue normally after a restore
    ds.append(spark.createDataFrame([(4, 40)], "pk int, v int"), ref)
    assert sorted(map(tuple, ds.read(ref).collect())) == [
        (1, 10), (2, 20), (4, 40)
    ]


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    """Restoring to a version whose files were vacuumed must fail
    cleanly with nothing committed."""
    import pytest as _pytest

    from x_spark.sources import init_datasource
    from x_spark.sources.base import TableRef
    from x_spark.sources.txlog import DataSourceException

    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path / "rstvac"))
    ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"), ref)   # v1
    ds.overwrite(spark.createDataFrame([(2, 20)], "pk int, v int"), ref)  # v2
    # v1's file is now unreferenced; offline vacuum removes it
    removed = ds.vacuum(ref, keep_last=1, min_age_sec=0)
    assert removed
    before = ds.history(ref)[-1]["version"]
    with _pytest.raises(DataSourceException, match="vacuumed"):
        ds.restore(ref, 1)
    assert ds.history(ref)[-1]["version"] == before  # nothing committed


# -- metadata-only statistics ------------------------------------------------
def test_count_rows_is_metadata_exact(spark, ds, tmp_path):
    """count_rows must equal read().count() at every version across
    append/merge/delete — computed from add-action numRecords alone."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    assert ds.count_rows(ref) == 3
    ds.append(spark.createDataFrame([(4, "b", 40), (5, "c", 50)],
                                    "pk int, part string, v int"), ref)
    assert ds.count_rows(ref) == 5
    spec = MergeSpec(["pk"], ["v"], insert_when_not_matched=True)
    ds.merge(spark.createDataFrame([(1, 111), (9, 999)], "pk int, v int"),
             ref, spec)
    assert ds.count_rows(ref) == ds.read(ref).count() == 6
    ds.delete(ref, "part = 'a'")
    assert ds.count_rows(ref) == ds.read(ref).count()
    # time travel: historical counts from historical snapshots
    assert ds.count_rows(ref, version=1) == 3
    assert ds.count_rows(ref, version=2) == 5


def test_partition_counts_and_describe_detail(spark, ds, tmp_path):
    ref = _ref(tmp_path, partition_by=["part"])
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "pk int, part string, v int"
    )
    ds.create(ref, df.schema, partition_by=["part"])
    ds.append(df, ref)
    parts = {p["part"]: (p["n_rows"], p["n_files"]) for p in ds.partition_counts(ref)}
    assert parts["a"][0] == 2 and parts["b"][0] == 1
    d = ds.describe_detail(ref)
    assert d["num_rows"] == 3
    assert d["partition_columns"] == ["part"]
    assert d["num_files"] == sum(v[1] for v in parts.values())
    assert d["size_bytes"] > 0
    assert d["version"] == 1 and "pk" in d["schema"]


# -- CHECK constraints -------------------------------------------------------
def test_check_constraints_enforced_on_every_write_path(spark, ds, tmp_path):
    """ADD CONSTRAINT validates existing rows, then every write path
    (append / merge / overwrite) rejects violating rows BEFORE any file
    lands; NULL passes (standard CHECK rule); DROP lifts the rule."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    ds.add_constraint(ref, "v_positive", "v > 0")
    with pytest.raises(DataSourceException, match="already exists"):
        ds.add_constraint(ref, "v_positive", "v > 0")
    # an existing violation blocks adding a second constraint
    with pytest.raises(DataSourceException, match="existing row violates"):
        ds.add_constraint(ref, "v_small", "v < 25")

    v_before = ds._latest_version(ds._table_path(ref))
    bad = spark.createDataFrame([(9, "z", -5)], "pk int, part string, v int")
    with pytest.raises(DataSourceException, match="v_positive"):
        ds.append(bad, ref)
    # nothing committed, nothing half-visible
    assert ds._latest_version(ds._table_path(ref)) == v_before
    assert ds.read(ref).count() == 3

    spec = MergeSpec(["pk"], ["v"], insert_when_not_matched=True)
    with pytest.raises(DataSourceException, match="v_positive"):
        ds.merge(spark.createDataFrame([(1, -1)], "pk int, v int"), ref, spec)
    with pytest.raises(DataSourceException, match="v_positive"):
        ds.overwrite(bad, ref)
    assert sorted(r.pk for r in ds.read(ref).collect()) == [1, 2, 3]

    # NULL passes (SQL CHECK: only FALSE violates)
    ds.append(
        spark.createDataFrame([(7, "c", None)], "pk int, part string, v int"),
        ref,
    )
    assert ds.read(ref).count() == 4
    # valid writes proceed
    ds.merge(spark.createDataFrame([(1, 999)], "pk int, v int"), ref, spec)

    ds.drop_constraint(ref, "v_positive")
    with pytest.raises(DataSourceException, match="does not exist"):
        ds.drop_constraint(ref, "v_positive")
    ds.append(bad, ref)  # rule lifted
    assert ds.read(ref).count() == 5


def test_constraints_survive_checkpoints_schema_evolution_and_restore(
    spark, ds, tmp_path
):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    ds.add_constraint(ref, "pk_pos", "pk > 0")
    restore_target = ds._latest_version(ds._table_path(ref))
    # survive a mergeSchema append (the metaData action must carry the
    # configuration forward, not reset it)
    widened = spark.createDataFrame(
        [(10, "a", 1, "extra")], "pk int, part string, v int, note string"
    )
    ds.append(widened, ref, merge_schema=True)
    with pytest.raises(DataSourceException, match="pk_pos"):
        ds.append(
            spark.createDataFrame(
                [(-1, "a", 1, "x")], "pk int, part string, v int, note string"
            ),
            ref,
        )
    # survive a checkpoint boundary
    df = spark.createDataFrame(
        [(11, "a", 2, None)], "pk int, part string, v int, note string"
    )
    from x_spark.sources.txlog import CHECKPOINT_INTERVAL, resolve_snapshot

    for _ in range(CHECKPOINT_INTERVAL + 1):
        ds.append(df, ref)
    table = ds._table_path(ref)
    assert resolve_snapshot(table).constraints == {"pk_pos": "pk > 0"}
    with pytest.raises(DataSourceException, match="pk_pos"):
        ds.append(
            spark.createDataFrame(
                [(-2, "a", 1, None)], "pk int, part string, v int, note string"
            ),
            ref,
        )
    # survive RESTORE (the rollback metaData re-asserts the target's
    # configuration)
    ds.restore(ref, restore_target)
    assert resolve_snapshot(table).constraints == {"pk_pos": "pk > 0"}
    with pytest.raises(DataSourceException, match="pk_pos"):
        ds.append(spark.createDataFrame([(-3, "a", 1)],
                                        "pk int, part string, v int"), ref)


# -- symlink-format manifest (external-engine snapshot export) ---------------
def _manifest_files(path):
    with open(path) as fh:
        return [ln.strip() for ln in fh if ln.strip()]


def test_generate_manifest_reads_consistent_snapshot(spark, ds, tmp_path):
    import duckdb

    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    out = ds.generate_manifest(ref)
    files = _manifest_files(out)
    assert files and all(os.path.isabs(f) for f in files)
    # an external engine (DuckDB) scanning exactly the listed files
    # must see the same rows as the log-aware reader
    con = duckdb.connect()
    got = sorted(con.sql(
        "SELECT pk, part, v FROM read_parquet($f)", params={"f": files}
    ).fetchall())
    assert got == _rows(ds.read(ref).select("pk", "part", "v"))

    # a later write must NOT leak into the already-generated manifest:
    # the old manifest still reads the OLD snapshot
    ds.append(spark.createDataFrame([(9, "c", 90)], "pk int, part string, v int"), ref)
    assert _manifest_files(out) == files
    stale = sorted(con.sql(
        "SELECT pk, part, v FROM read_parquet($f)", params={"f": files}
    ).fetchall())
    assert (9, "c", 90) not in stale
    # regenerating picks the new snapshot up
    fresh = _manifest_files(ds.generate_manifest(ref))
    new_rows = sorted(con.sql(
        "SELECT pk, part, v FROM read_parquet($f)", params={"f": fresh}
    ).fetchall())
    assert (9, "c", 90) in new_rows
    con.close()


def test_generate_manifest_time_travel_and_missing(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)  # v1
    ds.truncate(ref)  # v2: no live files
    v1 = _manifest_files(ds.generate_manifest(ref, version=1))
    assert v1
    v2 = _manifest_files(ds.generate_manifest(ref))
    assert v2 == []
    with pytest.raises(DataSourceException):
        ds.generate_manifest(_ref(tmp_path, "nope"))


# -- CLONE (zero-copy via hardlinks) ------------------------------------------
def test_clone_snapshot_independent_divergence(spark, ds, tmp_path):
    src = _ref(tmp_path, "src")
    _seed(spark, ds, src)
    dst = _ref(tmp_path, "dst")
    assert ds.clone(src, dst) == 0
    assert _rows(ds.read(dst)) == _rows(ds.read(src))
    # diverge both sides: neither write leaks into the other
    ds.append(spark.createDataFrame([(7, "c", 70)], "pk int, part string, v int"), src)
    ds.delete(dst, "pk = 1")
    assert (7, "c", 70) in _rows(ds.read(src))
    assert (7, "c", 70) not in _rows(ds.read(dst))
    assert (1, "a", 10) in _rows(ds.read(src))
    assert (1, "a", 10) not in _rows(ds.read(dst))


def test_clone_survives_source_vacuum_and_drop(spark, ds, tmp_path):
    import shutil as _sh

    src = _ref(tmp_path, "src")
    _seed(spark, ds, src)
    dst = _ref(tmp_path, "dst")
    ds.clone(src, dst)
    before = _rows(ds.read(dst))
    # rewrite the source (truncate) then vacuum its old files away,
    # then remove the source directory entirely: hardlinks must keep
    # the clone fully readable
    ds.truncate(src)
    ds.vacuum(src, keep_last=1, min_age_sec=0)
    _sh.rmtree(str(tmp_path / "src"))
    assert _rows(ds.read(dst)) == before


def test_clone_time_travel_and_metadata(spark, ds, tmp_path):
    src = _ref(tmp_path, "src")
    _seed(spark, ds, src)  # v1
    ds.add_constraint(src, "v_pos", "v > 0")  # v2
    ds.append(spark.createDataFrame([(9, "c", 90)], "pk int, part string, v int"), src)  # v3
    old = _ref(tmp_path, "old")
    ds.clone(src, old, version=1)
    assert _rows(ds.read(old)) == [(1, "a", 10), (2, "a", 20), (3, "b", 30)]
    cur = _ref(tmp_path, "cur")
    ds.clone(src, cur)
    # constraints travel with the clone and are enforced on it
    with pytest.raises(DataSourceException):
        ds.append(spark.createDataFrame([(5, "a", -1)], "pk int, part string, v int"), cur)


def test_clone_partitioned_table(spark, ds, tmp_path):
    src = _ref(tmp_path, "psrc", partition_by=("part",))
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "pk int, part string, v int")
    ds.create(src, df.schema, partition_by=["part"])
    ds.append(df, src)
    dst = _ref(tmp_path, "pdst")
    ds.clone(src, dst)
    assert ds.partition_columns(dst) == ["part"]
    assert _rows(ds.read(dst).select("pk", "part", "v")) == [(1, "a", 10), (2, "b", 20)]
    # partition-scoped ops keep working on the clone
    ds.delete(dst, "part = 'a'")
    assert _rows(ds.read(dst).select("pk", "part", "v")) == [(2, "b", 20)]


def test_clone_guards(spark, ds, tmp_path):
    src = _ref(tmp_path, "src")
    _seed(spark, ds, src)
    with pytest.raises(DataSourceException):
        ds.clone(src, src)
    dst = _ref(tmp_path, "dst")
    ds.clone(src, dst)
    with pytest.raises(DataSourceException):
        ds.clone(src, dst)  # destination exists
    with pytest.raises(DataSourceException):
        ds.clone(_ref(tmp_path, "ghost"), _ref(tmp_path, "d2"))


# -- table_changes SQL TVF ----------------------------------------------------
def test_table_changes_sql_surface(spark, ds, tmp_path):
    from collections import Counter

    ref = _ref(tmp_path)
    _seed(spark, ds, ref)  # v0 create + v1: 3 inserts
    ds.delete(ref, "pk = 2")  # v2: file-granular delete (rewrite pairs)
    path = str(tmp_path / "t")
    # Delta-inclusive bounds: [1, 1] is exactly the append commit
    v1 = ds._execute_statement(
        f"SELECT pk, v, _change_type FROM table_changes('{path}', 1, 1)"
    )
    assert sorted((r.pk, r.v, r._change_type) for r in v1.collect()) == [
        (1, 10, "insert"), (2, 20, "insert"), (3, 30, "insert"),
    ]
    # from version 0 (inclusive, like Delta: the create commit adds no
    # rows) the same three inserts appear
    v01 = ds._execute_statement(
        f"SELECT count(*) AS n FROM table_changes('{path}', 0, 1)"
    )
    assert v01.collect()[0].n == 3
    # the delete commit alone: the CDF is file-granular (a rewritten
    # survivor shows as delete+insert); the NET effect must be exactly
    # "pk 2 removed"
    v2 = ds._execute_statement(
        f"SELECT pk, v, _change_type FROM table_changes('{path}', 2, 2)"
    )
    net = Counter()
    for r in v2.collect():
        net[(r.pk, r.v)] += 1 if r._change_type == "insert" else -1
    assert {k: c for k, c in net.items() if c} == {(2, 20): -1}
    # composes with ordinary SQL (aggregates, filters) in one statement
    out = ds._execute_statement(
        f"SELECT sum(v) AS tv FROM table_changes('{path}', 0, 1) WHERE part = 'a'"
    )
    assert out.collect()[0].tv == 30


def test_clone_carries_generated_columns(spark, ds, tmp_path):
    src = _ref(tmp_path, "gsrc")
    schema = spark.createDataFrame([(1, 2)], "pk int, dbl int").schema
    ds.create(src, schema)
    ds.set_generated_column(src, "dbl", "pk * 2")
    ds.append(spark.createDataFrame([(1,)], "pk int"), src)
    dst = _ref(tmp_path, "gdst")
    ds.clone(src, dst)
    # the generation expression travels: omitted column computed,
    # disagreement rejected — on the CLONE
    ds.append(spark.createDataFrame([(4,)], "pk int"), dst)
    assert (4, 8) in _rows(ds.read(dst))
    with pytest.raises(DataSourceException, match="generated"):
        ds.append(spark.createDataFrame([(5, 11)], "pk int, dbl int"), dst)


def test_replace_where_checks_source_after_generated_fill(spark, ds,
                                                           tmp_path):
    """replaceWhere may name a generated column the source omits: the
    source rows are filled before the predicate check, and the
    surviving target rows keep their stored values."""
    ref = _ref(tmp_path, "gpart", partition_by=["g"])
    ds.create(ref, spark.createDataFrame([], "pk int, g int").schema)
    ds.set_generated_column(ref, "g", "pk % 2")
    ds.append(spark.createDataFrame([(1,), (2,), (3,)], "pk int"), ref)
    src = spark.createDataFrame([(4,)], "pk int")
    ds.overwrite(src, ref, replace_where="g = 0")
    assert _rows(ds.read(ref)) == [(1, 1), (3, 1), (4, 0)]


def test_overwrite_schema_replaces_layout_atomically(spark, ds, tmp_path):
    """Delta's overwriteSchema=true: one commit replaces data, schema
    AND partitioning; time travel to earlier versions still reads the
    old schema; the invalid compositions are rejected up front."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)  # pk/part/v, unpartitioned, v1
    old = _rows(ds.read(ref))

    new = spark.createDataFrame(
        [(1, 0, "x"), (2, 1, "y")], "pk int, bucket int, payload string"
    )
    ds.overwrite(new, ref, overwrite_schema=True, partition_by=["bucket"],
                 txn=("osw", 7))
    assert _rows(ds.read(ref)) == [(1, 0, "x"), (2, 1, "y")]
    snap = resolve_snapshot(str(tmp_path / "t"))
    assert snap.partition_cols == ["bucket"]
    assert [f.name for f in snap.schema.fields] == ["pk", "bucket", "payload"]
    # partition layout is live: a bucket-pruned read touches one dir
    assert all("bucket=" in p for p in snap.files)
    # time travel: version 1 still reads the ORIGINAL schema and rows
    v1 = TableRef(path=str(tmp_path / "t"), options={"versionAsOf": "1"})
    assert _rows(ds.read(v1)) == old
    # txn stamp landed with the same commit
    assert ds.last_txn_version(ref, "osw") == 7

    # replay of the stamped migration is a detected no-op error
    with pytest.raises(Exception):
        ds.overwrite(new, ref, overwrite_schema=True,
                     partition_by=["bucket"], txn=("osw", 7))

    # invalid compositions
    with pytest.raises(DataSourceException, match="full overwrite"):
        ds.overwrite(new, ref, replace_where="bucket = 0",
                     overwrite_schema=True)
    with pytest.raises(DataSourceException, match="overwrite_schema"):
        ds.overwrite(new, ref, partition_by=["bucket"])
    with pytest.raises(DataSourceException, match="partition column"):
        ds.overwrite(spark.createDataFrame([(1,)], "pk int"), ref,
                     overwrite_schema=True, partition_by=["nope"])


def test_optimize_zorder_combined_verb(spark, ds, tmp_path):
    """OPTIMIZE ... ZORDER BY: ALL in-scope files re-cluster through
    the curve in ONE commit — small-file debt and clustering debt
    retire together; out-of-scope partitions stay byte-identical
    (path identity + untouched bytes); min/max pruning measurably
    tightens on the clustered key; SQL + CLI dispatch work."""
    import os as _os

    ref = TableRef(path=str(tmp_path / "ozt"), partition_by=["part"])
    # scrambled key order so every small file spans the key space
    scram = sorted(range(100), key=lambda i: (i * 37) % 100)
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", i) for i in scram],
        "pk int, part string, v int",
    )
    ds.create(ref, df.schema, partition_by=["part"])
    for k in range(4):   # 4 appends, each landing in ONE partition
        # (pk%4 in {0,2} -> even -> 'a'; {1,3} -> 'b'): 2 scrambled
        # files per partition, each spanning the whole key space
        ds.append(df.filter(f"pk % 4 = {k}").coalesce(1), ref)
    before_rows = _rows(ds.read(ref))
    snap = resolve_snapshot(ref.path)
    b_files = {p for p, add in snap.files.items()
               if add["partitionValues"].get("part") == "b"}
    b_bytes = {p: open(_os.path.join(ref.path, p), "rb").read()
               for p in b_files}
    src = spark.createDataFrame([(8, 999)], "pk int, v int")
    prune_before = len(ds._files_overlapping_keys(src, snap, "pk"))
    assert prune_before >= 4   # scrambled: barely prunes

    out = ds.optimize(ref, where="part = 'a'", zorder_by=["pk", "v"])
    assert out["rewritten"] == 2 and out["new_files"] >= 1
    snap2 = resolve_snapshot(ref.path)
    # out-of-scope partition: path identity AND byte identity
    assert b_files <= set(snap2.files)
    for p, want in b_bytes.items():
        assert open(_os.path.join(ref.path, p), "rb").read() == want
    assert _rows(ds.read(ref)) == before_rows   # logically a no-op
    assert ds.semantic_diff(ref, snap.version, snap2.version).count() == 0
    # pruning on the clustered key tightened for the scoped partition
    a_candidates = [
        p for p in ds._files_overlapping_keys(src, snap2, "pk")
        if snap2.files[p]["partitionValues"].get("part") == "a"
    ]
    a_total = sum(
        1 for p, add in snap2.files.items()
        if add["partitionValues"].get("part") == "a"
    )
    assert a_total == 0 or len(a_candidates) <= max(1, a_total // 2)

    # SQL verb (named table) + CLI flag
    import uuid as _uuid

    name = f"ozt_{_uuid.uuid4().hex[:8]}"
    nref = TableRef(table=name)
    ds.append(spark.createDataFrame(
        [(i, i) for i in scram], "pk int, v int").repartition(4), nref)
    try:
        ds._execute_statement(f"OPTIMIZE {name} ZORDER BY (pk)")
        hist = [h["operation"] for h in ds.history(nref)]
        assert hist[-1] == "OPTIMIZE ZORDER"
        assert ds.read(nref).count() == 100
    finally:
        ds.drop_table(nref)


# -- informational PRIMARY KEY / FOREIGN KEY constraints ---------------------
def test_primary_key_informational(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    df = spark.createDataFrame([(1, "a", 10)], "pk int, part string, v int")
    # NOT NULL pk column via an explicit non-nullable schema
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("pk", df.schema["pk"].dataType, False),
        StructField("part", df.schema["part"].dataType, True),
        StructField("v", df.schema["v"].dataType, True),
    ])
    ds.create(ref, schema)
    ds.add_primary_key(ref, "pk_t", ["pk"], rely=True)
    snap = resolve_snapshot(ref.path)
    got = json.loads(snap.configuration["pk.pk_t"])
    assert got == {"columns": ["pk"], "rely": True}
    # one PK per table; name collisions across namespaces refuse
    with pytest.raises(DataSourceException, match="already has a primary"):
        ds.add_primary_key(ref, "pk2", ["pk"])
    # nullable column refuses (Delta's rule)
    ds.drop_constraint(ref, "pk_t")
    with pytest.raises(DataSourceException, match="NOT NULL"):
        ds.add_primary_key(ref, "pk_v", ["v"])
    # informational: a violating write still lands (never enforced)
    ds.add_primary_key(ref, "pk_t", ["pk"])
    ds.append(df, ref)
    ds.append(df, ref)  # duplicate pk accepted by design
    assert ds.count_rows(ref) == 2
    # rename/drop of a key column refuses while the PK references it
    ds.set_properties(ref, {"columnMapping.mode": "name"})
    with pytest.raises(DataSourceException, match="pk.pk_t"):
        ds.drop_column(ref, "pk")


def test_foreign_key_informational_and_sql(spark, ds, tmp_path):
    import uuid as _uuid

    sfx = _uuid.uuid4().hex[:8]
    parent, child = f"fkp_{sfx}", f"fkc_{sfx}"
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.types import IntegerType, StringType

    ds.create(TableRef(table=parent), StructType([
        StructField("id", IntegerType(), False),
        StructField("nm", StringType(), True),
    ]))
    ds.create(TableRef(table=child), StructType([
        StructField("cid", IntegerType(), False),
        StructField("parent_id", IntegerType(), True),
    ]))
    try:
        ds._execute_statement(
            f"ALTER TABLE {parent} ADD CONSTRAINT pk_id "
            "PRIMARY KEY (id) NOT ENFORCED RELY"
        )
        # FK defaults its referenced columns to the parent's PK
        ds._execute_statement(
            f"ALTER TABLE {child} ADD CONSTRAINT fk_parent "
            f"FOREIGN KEY (parent_id) REFERENCES {parent} NOT ENFORCED"
        )
        snap = resolve_snapshot(ds._table_path(TableRef(table=child)))
        got = json.loads(snap.configuration["fk.fk_parent"])
        assert got["columns"] == ["parent_id"]
        assert got["parent_columns"] == ["id"]
        assert got["parent"] == parent
        # read-back through SHOW TBLPROPERTIES
        props = {r.key for r in ds._execute_statement(
            f"SHOW TBLPROPERTIES {child}").collect()}
        assert "fk.fk_parent" in props
        # unknown parent column refuses
        with pytest.raises(DataSourceException, match="no column"):
            ds.add_foreign_key(TableRef(table=child), "fk_bad",
                               ["parent_id"], TableRef(table=parent),
                               parent_columns=["nope"])
        # arity mismatch refuses
        with pytest.raises(DataSourceException, match="arity"):
            ds.add_foreign_key(TableRef(table=child), "fk_bad2",
                               ["parent_id"], TableRef(table=parent),
                               parent_columns=["id", "nm"])
        # DROP CONSTRAINT resolves the fk namespace
        ds._execute_statement(
            f"ALTER TABLE {child} DROP CONSTRAINT fk_parent")
        snap = resolve_snapshot(ds._table_path(TableRef(table=child)))
        assert "fk.fk_parent" not in snap.configuration
    finally:
        ds.drop_table(TableRef(table=parent))
        ds.drop_table(TableRef(table=child))


def test_sql_time_travel_name_is_case_sensitive(spark, ds, tmp_path):
    """The time-travel phrase must not hijack a differently-cased
    identifier the bare-name rewrite would leave for Spark's catalog."""
    import uuid as _uuid

    name = f"ttcs_{_uuid.uuid4().hex[:8]}"
    ds.append(spark.createDataFrame([(1,)], "pk int"),
              TableRef(table=name))
    try:
        with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
            ds._execute_statement(
                f"SELECT * FROM {name.upper()} VERSION AS OF 1"
            ).collect()
        # keywords stay case-insensitive
        n = ds._execute_statement(
            f"SELECT count(*) AS n FROM {name} version as of 1"
        ).first().n
        assert n == 1
    finally:
        ds.drop_table(TableRef(table=name))


def test_primary_key_empty_columns_rejected(spark, ds, tmp_path):
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)
    with pytest.raises(DataSourceException, match="at least one"):
        ds.add_primary_key(ref, "pk_e", [])


# -- parquet checkpoint sidecar ----------------------------------------------
def test_parquet_checkpoint_roundtrip_and_retention(spark, ds, tmp_path,
                                                    monkeypatch):
    """Live sets >= CHECKPOINT_PARQUET_MIN checkpoint their adds as a
    parquet sidecar; snapshot resolution, time travel, and clean_log
    retention (incl. orphan reaping) all work through it."""
    import x_spark.sources.txlog as tx

    monkeypatch.setattr(tx, "CHECKPOINT_PARQUET_MIN", 2)
    ref = _ref(tmp_path)
    for i in range(CHECKPOINT_INTERVAL + 2):
        ds.append(
            spark.createDataFrame([(i, "a", i)],
                                  "pk int, part string, v int"), ref
        )
    log = os.path.join(ref.path, "_txlog")
    sidecars = [f for f in os.listdir(log)
                if f.endswith(".checkpoint.adds.parquet")]
    assert sidecars, "no parquet sidecar despite a large live set"
    _, checkpoints = _list_log(ref.path)
    with open(os.path.join(log, checkpoints[-1])) as fh:
        ck = json.load(fh)
    assert "addsParquet" in ck and "adds" not in ck
    at_ck = resolve_snapshot(ref.path, int(checkpoints[-1].split(".")[0]))
    assert ck["addCount"] == len(at_ck.files)
    # resolution THROUGH the sidecar equals the replayed truth
    assert ds.read(ref).count() == CHECKPOINT_INTERVAL + 2
    assert ds.read(
        TableRef(path=ref.path,
                 options={"versionAsOf": str(CHECKPOINT_INTERVAL)})
    ).count() == CHECKPOINT_INTERVAL
    # an orphaned sidecar (failed JSON publish) reaps; live ones stay
    orphan = os.path.join(log, f"{99:020d}.checkpoint.adds.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"x")
    removed = ds.clean_log(ref, keep_last=1, min_age_sec=0.0)
    assert f"{99:020d}.checkpoint.adds.parquet" in removed
    live = [f for f in os.listdir(log)
            if f.endswith(".checkpoint.adds.parquet")]
    for f in live:  # every surviving sidecar has its owner JSON
        assert os.path.isfile(
            os.path.join(log, f"{int(f.split('.')[0]):020d}.checkpoint.json")
        )
    assert ds.read(ref).count() == CHECKPOINT_INTERVAL + 2  # still whole


def test_clean_log_reaps_publish_debris_without_floor(spark, ds, tmp_path):
    """tmp files from crashed publishes and orphaned sidecars reap even
    when there is nothing to prune (no usable floor)."""
    ref = _ref(tmp_path)
    _seed(spark, ds, ref)  # v0+v1: no checkpoint exists yet
    log = os.path.join(ref.path, "_txlog")
    debris = os.path.join(log, f"{5:020d}.checkpoint.json.tmp-deadbeef")
    with open(debris, "w") as fh:
        fh.write("{}")
    orphan_side = os.path.join(log, f"{7:020d}.checkpoint.adds.parquet")
    with open(orphan_side, "wb") as fh:
        fh.write(b"x")
    removed = ds.clean_log(ref, keep_last=1000, min_age_sec=0.0)
    assert f"{5:020d}.checkpoint.json.tmp-deadbeef" in removed
    assert f"{7:020d}.checkpoint.adds.parquet" in removed
    # age guard still protects fresh debris
    with open(debris, "w") as fh:
        fh.write("{}")
    assert ds.clean_log(ref, keep_last=1000) == []


def test_clean_log_skips_floor_rewrite_when_current(spark, ds, tmp_path):
    """A floor checkpoint already carrying every replay-carried key is
    NOT rewritten — scheduled clean_log on a huge table must not
    re-serialize the adds sidecar every run."""
    ref = _ref(tmp_path)
    for i in range(CHECKPOINT_INTERVAL + 3):
        ds.append(
            spark.createDataFrame([(i, "a", i)],
                                  "pk int, part string, v int"), ref
        )
    ds.clean_log(ref, keep_last=2, min_age_sec=0.0)  # may refresh once
    _, checkpoints = _list_log(ref.path)
    floor_path = os.path.join(ref.path, "_txlog", checkpoints[0])
    before = os.stat(floor_path).st_mtime_ns
    ds.clean_log(ref, keep_last=2, min_age_sec=0.0)
    assert os.stat(floor_path).st_mtime_ns == before


# -- footer-stats data skipping on predicate-scoped rewrites ------------------
def test_delete_stats_pruning_leaves_files_untouched(spark, ds, tmp_path):
    """DELETE WHERE pk = k on an unpartitioned table touches only the
    file whose footer [min,max] can hold k — every other file keeps
    byte/path identity (Delta data skipping)."""
    ref = TableRef(path=str(tmp_path / "t"))
    # three files with disjoint pk ranges
    for lo in (0, 100, 200):
        ds.append(
            spark.createDataFrame(
                [(lo + i, "x") for i in range(10)], "pk int, s string"
            ).coalesce(1), ref,
        )
    before = dict(resolve_snapshot(ref.path).files)
    ds.delete(ref, "pk = 105")
    after = dict(resolve_snapshot(ref.path).files)
    kept = set(before) & set(after)
    assert len(kept) == 2, "stats pruning must keep the 2 disjoint files"
    assert sorted(r.pk for r in ds.read(ref).collect()) == sorted(
        set(range(10)) | {100 + i for i in range(10) if i != 5}
        | {200 + i for i in range(10)}
    )


def test_update_stats_pruning_range_and_in(spark, ds, tmp_path):
    ref = TableRef(path=str(tmp_path / "t"))
    for lo in (0, 100, 200):
        ds.append(
            spark.createDataFrame(
                [(lo + i, i) for i in range(10)], "pk int, v int"
            ).coalesce(1), ref,
        )
    before = dict(resolve_snapshot(ref.path).files)
    ds.update(ref, {"v": "v + 1000"}, "pk >= 200 AND v < 5")
    after = dict(resolve_snapshot(ref.path).files)
    assert len(set(before) & set(after)) == 2  # only the 200s rewrote
    before2 = dict(resolve_snapshot(ref.path).files)
    ds.delete(ref, "pk IN (3, 7)")
    after2 = dict(resolve_snapshot(ref.path).files)
    # IN-list prunes the two files whose ranges exclude every element
    assert len(set(before2) & set(after2)) == 2
    assert ds.read(ref).filter("pk in (3, 7)").count() == 0


def test_stats_pruning_never_over_prunes(spark, ds, tmp_path):
    """Unparseable fragments, string coercion failures, and missing
    stats all fall back to candidate (safe) — the rewrite stays
    correct."""
    ref = TableRef(path=str(tmp_path / "t"))
    ds.append(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(10)],
            "pk int, s string",
        ).coalesce(1), ref,
    )
    ds.delete(ref, "pk = 3 OR s = 'b'")  # OR: no stats pruning, correct
    assert sorted(r.pk for r in ds.read(ref).collect()) == [0, 2, 4, 6, 8]
    ds.delete(ref, "s = 'a' AND length(s) = 1")  # mixed conjuncts
    assert ds.count_rows(ref) == 0


def test_stats_pruning_type_mismatch_never_prunes(spark, ds, tmp_path):
    """Literal kind must match the declared column type: a quoted
    literal against a timestamp column's string-serialized stats, or a
    numeric literal against a string column, never prunes — the
    rewrite stays correct where lexicographic and semantic order
    diverge."""
    ref = TableRef(path=str(tmp_path / "t"))
    df = spark.sql(
        "SELECT id AS pk, timestamp'2024-01-01 00:00:00' AS ts, "
        "CAST(id AS STRING) AS s FROM range(4)"
    )
    ds.append(df.coalesce(1), ref)
    # quoted date literal vs timestamp column: semantically equal to
    # midnight — must NOT be pruned away
    ds.delete(ref, "ts = '2024-01-01'")
    assert ds.count_rows(ref) == 0
    # numeric literal vs string column: "2" == 2 under coercion
    ref2 = TableRef(path=str(tmp_path / "t2"))
    ds.append(spark.createDataFrame([("02", 1), ("3", 2)],
                                    "s string, v int").coalesce(1), ref2)
    ds.delete(ref2, "s = 2")  # Spark casts s to int: "02" matches
    assert sorted(r.s for r in ds.read(ref2).collect()) == ["3"]


def test_stats_pruning_or_precedence_never_prunes(spark, ds, tmp_path):
    """AND binds tighter than OR: 'a AND b OR c' means (a AND b) OR c,
    so NO fragment is a required conjunct — a top-level OR disables
    stats pruning entirely (rows matching only the OR branch live in
    files the AND fragment would wrongly exclude)."""
    ref = TableRef(path=str(tmp_path / "t"))
    for lo in (0, 100):
        ds.append(
            spark.createDataFrame(
                [(lo + i, "x" if lo else "y") for i in range(5)],
                "pk int, s string",
            ).coalesce(1), ref,
        )
    # (pk = 1 AND s = 'y') OR s = 'x': the pk=1 fragment would prune
    # the 100s file — which holds every s='x' row
    ds.delete(ref, "pk = 1 AND s = 'y' OR s = 'x'")
    assert sorted(r.pk for r in ds.read(ref).collect()) == [0, 2, 3, 4]


def test_stats_pruning_in_list_requires_pure_literals(spark, ds, tmp_path):
    """IN-lists containing column references or arithmetic must not be
    harvested for literal fragments: DELETE WHERE pk IN (2, v) matches
    rows where pk equals ANOTHER COLUMN — unprunable by stats."""
    ref = TableRef(path=str(tmp_path / "t"))
    for lo in (0, 100):
        ds.append(
            spark.createDataFrame(
                [(lo + i, lo + i if i == 3 else -1) for i in range(5)],
                "pk int, v int",
            ).coalesce(1), ref,
        )
    # pk IN (2, v): matches pk=2 AND every row where pk = v (i==3 in
    # both files) — the 100s file must not be pruned on the literal 2
    ds.delete(ref, "pk IN (2, v)")
    assert sorted(r.pk for r in ds.read(ref).collect()) == [
        0, 1, 4, 100, 101, 102, 104,
    ]


def test_stats_pruning_decimal_stats_never_lex_compare(spark, ds, tmp_path):
    """Decimal footer stats round-trip to strings; '10' < '9.0'
    lexicographically — the numeric gate must also check the STORED
    stat kind, or DELETE d = 10 on a file holding [9.0, 12.0] becomes
    a silent no-op."""
    ref = TableRef(path=str(tmp_path / "t"))
    df = spark.sql(
        "SELECT CAST(9.0 + id AS DECIMAL(10,1)) AS d FROM range(4)"
    )
    ds.append(df.coalesce(1), ref)
    ds.delete(ref, "d = 10")
    got = sorted(str(r.d) for r in ds.read(ref).collect())
    assert got == ["11.0", "12.0", "9.0"]


def test_zero_match_noop_still_analyzes_predicate(spark, ds, tmp_path):
    """A typo'd column errors even when stats pruning empties the
    candidate set (Delta analyzes the predicate before skipping)."""
    ref = TableRef(path=str(tmp_path / "t"))
    ds.append(spark.createDataFrame([(1, 2)], "pk int, v int")
              .coalesce(1), ref)
    with pytest.raises(Exception, match="no_such_col|UNRESOLVED"):
        ds.delete(ref, "pk = 99999 AND no_such_col > 0")
    with pytest.raises(Exception, match="no_such_col|UNRESOLVED"):
        ds.update(ref, {"v": "v + 1"}, "pk = 99999 AND no_such_col > 0")


def test_merge_decimal_key_pruning_sound(spark, ds, tmp_path):
    """The merge key-range pruner must not lexicographically compare a
    Decimal source bound against string-serialized stats — a matched
    row in a mis-pruned file would duplicate instead of updating."""
    ref = TableRef(path=str(tmp_path / "t"))
    tgt = spark.sql(
        "SELECT CAST(9.0 + id AS DECIMAL(10,1)) AS k, "
        "CAST(id AS INT) AS v FROM range(4)"
    )
    ds.append(tgt.coalesce(1), ref)
    src = spark.sql(
        "SELECT CAST(10.0 AS DECIMAL(10,1)) AS k, CAST(99 AS INT) AS v"
    )
    ds.merge(src, ref, MergeSpec(["k"], ["v"], insert_when_not_matched=True))
    rows = sorted((str(r.k), r.v) for r in ds.read(ref).collect())
    assert rows == [("10.0", 99), ("11.0", 2), ("12.0", 3), ("9.0", 0)]


def test_clean_log_reaps_stale_sidecar_with_live_owner(spark, ds, tmp_path):
    """A sidecar whose owner checkpoint JSON EXISTS but no longer
    names it via ``addsParquet`` (e.g. the floor refresh rewrote the
    checkpoint with inline adds) is reaped — with its owner alive it
    would otherwise never age out: a permanent log-dir leak."""
    ref = _ref(tmp_path)
    for i in range(CHECKPOINT_INTERVAL + 1):
        ds.append(
            spark.createDataFrame([(i, "a", i)],
                                  "pk int, part string, v int"), ref
        )
    _, checkpoints = _list_log(ref.path)
    v = int(checkpoints[-1].split(".")[0])
    log = os.path.join(ref.path, "_txlog")
    with open(os.path.join(log, checkpoints[-1])) as fh:
        assert "addsParquet" not in json.load(fh)  # inline-adds owner
    stale = f"{v:020d}.checkpoint.adds.parquet"
    with open(os.path.join(log, stale), "wb") as fh:
        fh.write(b"x")
    removed = ds.clean_log(ref, keep_last=1000, min_age_sec=0.0)
    assert stale in removed
    # table unharmed
    assert ds.read(ref).count() == CHECKPOINT_INTERVAL + 1


# -- logical no-ops commit nothing ---------------------------------------


def _data_files(path):
    """Relative paths of every parquet file under the table directory,
    and the names of any ``_staging-*`` directories left behind."""
    files, staging = set(), []
    for root, dirs, names in os.walk(path):
        staging += [d for d in dirs if d.startswith("_staging-")]
        files |= {os.path.relpath(os.path.join(root, n), path)
                  for n in names if n.endswith(".parquet")}
    return files, staging


def test_zero_row_cow_delete_and_update_commit_nothing(spark, ds, tmp_path):
    """v = 8 lies inside the file's [5, 9] stats range, so pruning
    keeps the file; the rewrite finds no matching row and must not
    commit a version that replaces the file with a copy of itself."""
    ref = _ref(tmp_path)
    ds.append(spark.createDataFrame([(1, 5), (2, 7), (3, 9)],
                                    "pk int, v int").coalesce(1), ref)
    v0 = ds._latest_version(ref.path)
    files0, _ = _data_files(ref.path)
    ds.delete(ref, "v = 8")
    ds.update(ref, {"v": "v + 1"}, "v = 8")
    assert ds._latest_version(ref.path) == v0
    assert _data_files(ref.path) == (files0, [])
    # a matching row still commits
    ds.update(ref, {"v": "v + 1"}, "v = 7")
    assert ds._latest_version(ref.path) == v0 + 1
    assert _rows(ds.read(ref)) == [(1, 5), (2, 8), (3, 9)]


def test_merge_spec_update_no_match_commits_nothing(spark, ds, tmp_path):
    """An update-only MergeSpec whose source keys fall inside the
    target's key range but match no row: the join runs inside the
    write job, the observed touched count is 0, and the staged files
    are discarded before publishing."""
    ref = _ref(tmp_path)
    ds.append(spark.createDataFrame([(1, 10), (3, 30), (5, 50)],
                                    "pk int, v int").coalesce(1), ref)
    v0 = ds._latest_version(ref.path)
    files0, _ = _data_files(ref.path)
    for keys in ([2, 4], [100]):  # inside / outside the stats range
        src = spark.createDataFrame([(k, 99) for k in keys], "pk int, v int")
        ds.merge(src, ref, MergeSpec(["pk"], ["v"]))
        assert ds._latest_version(ref.path) == v0
        assert _data_files(ref.path) == (files0, [])
    assert _rows(ds.read(ref)) == [(1, 10), (3, 30), (5, 50)]


def test_merge_py4j_round_trips_do_not_scale_with_columns(
        spark, ds, tmp_path, monkeypatch):
    """A MergeSpec upsert builds its per-column projections as SQL
    text, one py4j call per projection instead of dozens per column:
    going from 4 to 24 columns may add only a few hundred driver-JVM
    round trips (a per-column Column expression costs ~50 each)."""
    import py4j.clientserver

    def upsert_calls(name, ncols):
        cols = ", ".join(f"CAST(id * {i} AS BIGINT) AS c{i}"
                         for i in range(1, ncols))
        ref = _ref(tmp_path, name)
        ds.append(spark.sql(f"SELECT id AS pk, {cols} FROM range(40)")
                  .coalesce(1), ref)
        src = spark.sql(f"SELECT id + 30 AS pk, {cols} FROM range(20)")
        spec = MergeSpec(["pk"], [f"c{i}" for i in range(1, ncols)],
                         insert_when_not_matched=True)
        ds.merge(src, ref, spec)  # warm-up: one-time costs stay out
        calls = [0]
        send = py4j.clientserver.ClientServerConnection.send_command

        def counting(self, *a, **k):
            calls[0] += 1
            return send(self, *a, **k)

        with monkeypatch.context() as m:
            m.setattr(py4j.clientserver.ClientServerConnection,
                      "send_command", counting)
            ds.merge(src, ref, spec)
        assert ds.read(ref).count() == 50
        return calls[0]

    narrow = upsert_calls("narrow", 4)
    wide = upsert_calls("wide", 24)
    assert wide - narrow < 400, (narrow, wide)
