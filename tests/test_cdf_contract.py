"""Change-data-feed 4-type contract (Delta's enableChangeDataFeed):
with the table property set, UPDATE / MERGE / copy-on-write DELETE
write their exact change rows — update_preimage / update_postimage /
insert / delete — as ``cdc`` actions in the same commit, and every CDF
surface (connector ``changes()``, ``table_changes`` TVF, DSv2
``readChangeFeed`` batch + streaming) serves a commit FROM its cdc
files when present, falling back to the file-granular derivation
otherwise.

Reference surface: Delta Lake's CDF (_change_data folder + cdc
actions, public protocol docs). Both readers pin the LATEST snapshot
schema for the whole interval (Delta's convention), which closes the
round-6 divergence where ``changes()`` used the FROM-version schema.
"""

import pytest
from pyspark.sql import functions as F

from x_spark.sources import init_datasource
from x_spark.sources.base import MergeSpec, TableRef
from x_spark.sources.txlog import (
    CDF_ENABLE_KEY,
    DV_ENABLE_KEY,
    _log_path,
    resolve_snapshot,
)


@pytest.fixture()
def ds(spark):
    from x_spark.sources.txlog_datasource import TxLogSparkDataSource

    spark.dataSource.register(TxLogSparkDataSource)
    return init_datasource("txlog", spark)


def _mk(spark, ds, tmp_path, dv=False, n=6):
    ref = TableRef(path=str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "a" if i < n // 2 else "b", i * 10) for i in range(n)],
        "pk int, g string, v int",
    )
    ds.append(df.coalesce(1), ref)                               # v1
    props = {CDF_ENABLE_KEY: "true"}
    if dv:
        props[DV_ENABLE_KEY] = "true"
    ds.set_properties(ref, props)                                # v2
    return ref


def _ch(ds, ref, frm, to=None):
    return sorted(
        (r.pk, r.v, r._change_type, r._commit_version)
        for r in ds.changes(ref, frm, to).collect()
    )


def _commit_has_cdc(tmp_path, v):
    import os

    with open(os.path.join(_log_path(str(tmp_path / "t")),
                           f"{v:020d}.json")) as fh:
        return any('"cdc"' in line for line in fh)


@pytest.mark.parametrize("dv", [False, True])
def test_update_emits_pre_post_images(spark, ds, tmp_path, dv):
    """UPDATE under CDF: exactly one update_preimage + one
    update_postimage per matched row — NO noise pairs for co-located
    untouched rows (the CoW rewrite would otherwise emit
    delete+insert for all 6)."""
    ref = _mk(spark, ds, tmp_path, dv=dv)
    ds.update(ref, {"v": "v + 1"}, "pk in (1, 2)")               # v3
    assert _commit_has_cdc(tmp_path, 3)
    assert _ch(ds, ref, 2) == sorted([
        (1, 10, "update_preimage", 3), (1, 11, "update_postimage", 3),
        (2, 20, "update_preimage", 3), (2, 21, "update_postimage", 3),
    ])


@pytest.mark.parametrize("dv", [False, True])
def test_merge_emits_update_pairs_and_inserts(spark, ds, tmp_path, dv):
    """MERGE upsert under CDF: matched rows pair up, unmatched source
    rows emit 'insert' — the full Delta 4-type contract in one commit."""
    ref = _mk(spark, ds, tmp_path, dv=dv)
    src = spark.createDataFrame([(1, 111), (99, 999)], "pk int, v int")
    ds.merge(src, ref, MergeSpec(["pk"], ["v"],
                                 insert_when_not_matched=True))  # v3
    assert _commit_has_cdc(tmp_path, 3)
    assert _ch(ds, ref, 2) == sorted([
        (1, 10, "update_preimage", 3), (1, 111, "update_postimage", 3),
        (99, 999, "insert", 3),
    ])
    # and the post-merge table state agrees with the postimages
    rows = {r.pk: r.v for r in ds.read(ref).collect()}
    assert rows[1] == 111 and rows[99] == 999


def test_cow_delete_exact_under_cdf(spark, ds, tmp_path):
    """Copy-on-write DELETE under CDF: only the deleted rows appear
    (cdc), not the rewrite's surviving co-located rows; without the
    property the same delete stays file-granular (noise pairs)."""
    ref = _mk(spark, ds, tmp_path)
    ds.delete(ref, "pk = 1")                                     # v3
    assert _commit_has_cdc(tmp_path, 3)
    assert _ch(ds, ref, 2) == [(1, 10, "delete", 3)]

    # control: CDF off -> derived feed, co-located rows pair up
    ref2 = TableRef(path=str(tmp_path / "u"))
    ds.append(spark.createDataFrame([(1, "a", 10), (2, "a", 20)],
                                    "pk int, g string, v int")
              .coalesce(1), ref2)
    ds.delete(ref2, "pk = 1")
    kinds = sorted((r.pk, r._change_type)
                   for r in ds.changes(ref2, 1).collect())
    assert kinds == [(1, "delete"), (2, "delete"), (2, "insert")]


def test_dv_delete_stays_derived_and_exact(spark, ds, tmp_path):
    """DV DELETE under CDF: the mask-delta derivation is already
    row-exact, so no cdc files are written and the feed still shows
    exactly the deleted rows."""
    ref = _mk(spark, ds, tmp_path, dv=True)
    ds.delete(ref, "pk in (1, 2)")                               # v3
    assert not _commit_has_cdc(tmp_path, 3)
    assert _ch(ds, ref, 2) == [(1, 10, "delete", 3),
                               (2, 20, "delete", 3)]


def test_semantic_diff_folds_update_pairs(spark, ds, tmp_path):
    """semantic_diff nets update_preimage as -1 and update_postimage
    as +1 — an UPDATE shows as exactly old-row-out / new-row-in."""
    ref = _mk(spark, ds, tmp_path)
    ds.update(ref, {"v": "v + 1"}, "pk = 1")                     # v3
    net = sorted((r.pk, r.v, r.net)
                 for r in ds.semantic_diff(ref, 2).collect())
    assert net == [(1, 10, -1), (1, 11, 1)]


def test_readers_agree_and_pin_latest_schema(spark, ds, tmp_path):
    """The two CDF surfaces return identical rows AND identical
    columns for the same interval — both pin the LATEST snapshot
    schema, so an interval predating an ADD COLUMN surfaces the new
    column as NULL in both (round-6 advice: one convention, shared
    resolution)."""
    ref = _mk(spark, ds, tmp_path)
    ds.update(ref, {"v": "v + 1"}, "pk = 1")                     # v3
    src = spark.createDataFrame([(2, 222), (50, 500)], "pk int, v int")
    ds.merge(src, ref, MergeSpec(["pk"], ["v"],
                                 insert_when_not_matched=True))  # v4
    ds.add_columns(ref, "note string")                           # v5

    conn = ds.changes(ref, 0, 5)
    dsv2 = (spark.read.format("txlog").option("path", ref.path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "1")
            .option("endingVersion", "5").load())
    assert sorted(conn.columns) == sorted(dsv2.columns)
    assert "note" in conn.columns  # latest schema, pre-ADD interval
    key = ["pk", "v", "note", "_change_type", "_commit_version"]
    a = sorted(tuple(r) for r in conn.select(*key).collect())
    b = sorted(tuple(r) for r in dsv2.select(*key).collect())
    assert a == b
    assert (1, 11, None, "update_postimage", 3) in a
    assert (2, 222, None, "update_postimage", 4) in a
    assert (50, 500, None, "insert", 4) in a


def test_streaming_cdf_serves_cdc_commits(spark, ds, tmp_path):
    """readStream + readChangeFeed: a micro-batch covering an
    UPDATE-under-CDF commit emits the cdc rows (4-type), not the
    derived rewrite pairs."""
    ref = _mk(spark, ds, tmp_path)
    ds.update(ref, {"v": "v * 100"}, "pk = 1")                   # v3
    # streaming offsets are (start, end]: startingVersion=2 covers v3
    sdf = (spark.readStream.format("txlog").option("path", ref.path)
           .option("readChangeFeed", "true")
           .option("startingVersion", "2").load())
    q = (sdf.writeStream.format("memory").queryName("cdf_cdc_stream")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = sorted((r.pk, r.v, r._change_type) for r in
                  spark.sql("select * from cdf_cdc_stream").collect())
    assert rows == [(1, 10, "update_preimage"),
                    (1, 1000, "update_postimage")]


def test_vacuum_respects_cdc_liveness(spark, ds, tmp_path):
    """cdc files referenced by horizon commits survive vacuum;
    keep_last horizons reap cdc files alongside the versions that
    referenced them."""
    ref = _mk(spark, ds, tmp_path)
    ds.update(ref, {"v": "v + 1"}, "pk = 1")                     # v3
    assert _ch(ds, ref, 2, 3)  # cdc readable
    gone = ds.vacuum(ref, min_age_sec=0)
    assert not any("_change_data" in p for p in gone)
    assert _ch(ds, ref, 2, 3)  # still readable after orphan vacuum
    for i in range(3):
        ds.append(spark.createDataFrame([(100 + i, "b", 0)],
                                        "pk int, g string, v int"), ref)
    gone = ds.vacuum(ref, keep_last=1, min_age_sec=0)
    assert any("_change_data" in p for p in gone)  # horizon passed


def test_table_changes_tvf_sees_cdc(spark, ds, tmp_path):
    """The SQL table_changes TVF rides the same cdc-aware changes()."""
    ref = _mk(spark, ds, tmp_path)
    ds.update(ref, {"v": "v + 5"}, "pk = 2")                     # v3
    out = ds.sql(
        f"SELECT pk, v, _change_type FROM "
        f"table_changes('{ref.path}', 3) ORDER BY _change_type"
    )
    rows = [tuple(r) for r in out.collect()]
    assert rows == [(2, 25, "update_postimage"),
                    (2, 20, "update_preimage")]


def test_noop_rewrites_are_cdf_invisible(spark, ds, tmp_path):
    """dataChange=false (Delta parity): OPTIMIZE / CLUSTER / REORG
    PURGE commits emit NOTHING into any CDF surface — no cancelling
    rewrite pairs, zero read cost for incremental consumers — and an
    append-only STREAM survives an OPTIMIZE without ignoreChanges,
    emitting only the real appends."""
    ref = TableRef(path=str(tmp_path / "t"))
    for i in range(4):
        ds.append(spark.createDataFrame([(i, "a", i * 10)],
                                        "pk int, g string, v int")
                  .coalesce(1), ref)                         # v1..v4
    v4 = resolve_snapshot(ref.path).version
    out = ds.optimize(ref, target_size_mb=128)               # v5
    assert out["rewritten"] == 4
    v5 = resolve_snapshot(ref.path).version
    assert v5 == v4 + 1
    assert ds.changes(ref, v4, v5).count() == 0              # invisible
    ds.cluster(ref, ["pk"], target_files=2)                  # v6
    assert ds.changes(ref, v5, v5 + 1).count() == 0
    # DV delete (real change) then PURGE (invisible)
    ds.set_properties(ref, {DV_ENABLE_KEY: "true"})          # v7
    ds.delete(ref, "pk = 1")                                 # v8 (DV)
    v8 = resolve_snapshot(ref.path).version
    assert ds.changes(ref, v8 - 1, v8).count() == 1          # the delete
    assert ds.purge_dvs(ref) > 0                             # v9
    assert ds.changes(ref, v8, v8 + 1).count() == 0
    # whole-interval feed still folds to the final state
    net = {(r.pk, r.v): r.net
           for r in ds.semantic_diff(ref, 0).collect()}
    assert net == {(0, 0): 1, (2, 20): 1, (3, 30): 1}

    # streaming: OPTIMIZE must not abort an append-only stream
    sref = TableRef(path=str(tmp_path / "s"))
    ds.append(spark.createDataFrame([(1, "a", 10)],
                                    "pk int, g string, v int"), sref)
    ds.append(spark.createDataFrame([(2, "a", 20)],
                                    "pk int, g string, v int"), sref)
    ds.optimize(sref, target_size_mb=128)
    ds.append(spark.createDataFrame([(3, "a", 30)],
                                    "pk int, g string, v int"), sref)
    sdf = (spark.readStream.format("txlog")
           .option("path", sref.path).load())
    q = (sdf.writeStream.format("memory").queryName("noop_stream")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = sorted(r.pk for r in
                  spark.sql("select * from noop_stream").collect())
    assert rows == [1, 2, 3]  # appends only, each exactly once


@pytest.mark.parametrize("dv", [False, True])
def test_zero_match_cow_ops_are_logical_noops(spark, ds, tmp_path, dv):
    """A CDF-enabled UPDATE / DELETE / MERGE whose stats-pruned
    candidates hold ZERO matching rows must not rewrite anything: a
    rewrite with an empty cdc frame may land no cdc part files, and
    the commit would then serve the feed from its derived add/remove
    pairs — spurious delete+insert for every co-located surviving row.
    The operation is a logical no-op: no commit, no version, no feed
    rows. Deletion-vector tables follow the same rule: no empty mask
    commit."""
    ref = _mk(spark, ds, tmp_path, dv=dv)
    v0 = resolve_snapshot(ref.path).version
    files0 = set(resolve_snapshot(ref.path).files)

    ds.update(ref, {"v": "v + 1"}, "v = -12345")           # matches nothing
    ds.delete(ref, "v = -12345")
    ds.merge(spark.createDataFrame([(999, 1)], "pk int, v int"),
             ref, MergeSpec(["pk"], ["v"]))                # update-only miss
    snap = resolve_snapshot(ref.path)
    assert snap.version == v0, "zero-match ops must not commit"
    assert set(snap.files) == files0, "zero-match ops must not rewrite"
    assert ds.changes(ref, v0).count() == 0


def test_cdc_files_partitioned_like_table(spark, ds, tmp_path):
    """_change_data lays out hive-partitioned exactly like the table
    (Delta parity): cdc actions record partitionValues, files live
    under partition dirs, and every CDF surface re-attaches the
    partition column correctly."""
    import json
    import os

    ref = TableRef(path=str(tmp_path / "t"))
    ds.append(
        spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b", i * 10) for i in range(6)],
            "pk int, g string, v int",
        ),
        TableRef(path=ref.path, partition_by=["g"]),         # v1
    )
    ds.set_properties(ref, {CDF_ENABLE_KEY: "true"})         # v2
    ds.update(ref, {"v": "v + 1"}, "pk in (0, 1)")           # v3: both parts
    v3 = resolve_snapshot(ref.path).version

    # the cdc actions carry physical-keyed partitionValues and the
    # paths include the hive partition dir
    cdc_actions = []
    with open(os.path.join(_log_path(ref.path), f"{v3:020d}.json")) as fh:
        for line in fh:
            a = json.loads(line)
            if "cdc" in a:
                cdc_actions.append(a["cdc"])
    assert cdc_actions, "CDF update must write cdc actions"
    assert all("partitionValues" in c for c in cdc_actions)
    got_parts = {c["partitionValues"]["g"] for c in cdc_actions}
    assert got_parts == {"a", "b"}
    assert all("/g=" in c["path"] for c in cdc_actions)

    # connector changes(): partition column re-attached per group
    rows = sorted((r.pk, r.g, r.v, r._change_type)
                  for r in ds.changes(ref, v3 - 1, v3).collect())
    assert rows == [
        (0, "a", 0, "update_preimage"), (0, "a", 1, "update_postimage"),
        (1, "b", 10, "update_preimage"), (1, "b", 11, "update_postimage"),
    ]

    # DSv2 batch readChangeFeed agrees (partition values via the
    # action, re-attached executor-side)
    feed = (spark.read.format("txlog")
            .option("path", ref.path)
            .option("readChangeFeed", "true")
            .option("startingVersion", str(v3))
            .load())
    got = sorted((r.pk, r.g, r.v, r._change_type)
                 for r in feed.collect())
    assert got == rows


def test_cdc_partitioned_with_null_partition_value(spark, ds, tmp_path):
    # one commit's cdc rows spanning a NULL and a non-NULL partition
    # must group/read cleanly (review finding: None-safe group sort)
    ref = TableRef(path=str(tmp_path / "t"))
    ds.append(
        spark.createDataFrame([(1, None, 10), (2, "a", 20)],
                              "pk int, g string, v int"),
        TableRef(path=ref.path, partition_by=["g"]),
    )
    ds.set_properties(ref, {CDF_ENABLE_KEY: "true"})
    ds.update(ref, {"v": "v + 1"}, "pk in (1, 2)")
    v = resolve_snapshot(ref.path).version
    rows = sorted((r.pk, r.g, r.v, r._change_type)
                  for r in ds.changes(ref, v - 1, v).collect())
    assert rows == [
        (1, None, 10, "update_preimage"), (1, None, 11, "update_postimage"),
        (2, "a", 20, "update_preimage"), (2, "a", 21, "update_postimage"),
    ]
