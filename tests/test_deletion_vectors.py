"""Deletion vectors (merge-on-read soft deletes) — the full invariant
sweep the ROADMAP design sketch demanded before shipping: masking
without rewrites, mask merging, metadata subtraction, CDF mask-delta
events, RESTORE/CLONE re-assertion, vacuum liveness, compaction purge,
checkpoint survival, merge interplay, SQL DDL.

Reference surface: Delta Lake's enableDeletionVectors table property
(public docs); the txlog representation attaches the DV to the add
action so every metadata surface inherits it from log replay.
"""

import os

import pytest
from pyspark.sql import functions as F

from x_spark.errors import DataSourceException
from x_spark.sources import init_datasource
from x_spark.sources.base import MergeSpec, TableRef
from x_spark.sources.txlog import DV_ENABLE_KEY, resolve_snapshot


@pytest.fixture()
def ds(spark):
    return init_datasource("txlog", spark)


def _mk(spark, ds, tmp_path, batches=2, n=20):
    """DV-enabled table: `batches` files of `n` rows each."""
    ref = TableRef(path=str(tmp_path / "t"))
    for b in range(batches):
        ds.append(
            spark.createDataFrame(
                [(i, i % 4, f"r{i}") for i in range(b * n, (b + 1) * n)],
                "pk int, g int, s string",
            ).coalesce(1),
            ref,
        )
    ds.set_properties(ref, {DV_ENABLE_KEY: "true"})
    return ref


def _pks(df):
    return sorted(r.pk for r in df.select("pk").collect())


def test_dv_delete_masks_without_rewriting_files(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")
    files_before = set(resolve_snapshot(table).files)

    ds.delete(ref, "pk % 4 = 1")
    snap = resolve_snapshot(table)
    # merge-on-read: same data files stay live, masks attached
    assert set(snap.files) == files_before
    assert all(a.get("dv") for a in snap.files.values())
    assert sum(a["dv"]["cardinality"] for a in snap.files.values()) == 10
    # reader excludes masked rows
    assert _pks(ds.read(ref)) == [i for i in range(40) if i % 4 != 1]
    # the rows are physically still in the parquet files (soft delete)
    raw = spark.read.parquet(*[os.path.join(table, p) for p in snap.files])
    assert raw.count() == 40
    # metadata surfaces subtract the mask
    assert ds.count_rows(ref) == 30
    assert ds.describe_detail(ref)["num_rows"] == 30

    # second delete MERGES masks (union, same files)
    ds.delete(ref, "pk % 4 = 2")
    snap = resolve_snapshot(table)
    assert set(snap.files) == files_before
    assert sum(a["dv"]["cardinality"] for a in snap.files.values()) == 20
    assert _pks(ds.read(ref)) == [i for i in range(40) if i % 4 in (0, 3)]
    assert ds.count_rows(ref) == 20

    # a predicate that misses entirely: footer stats prove zero
    # matches, so the DELETE is a logical NO-OP — no re-points, no
    # commit (Delta's rule; also the zero-match CDF contract)
    v = resolve_snapshot(table).version
    ds.delete(ref, "pk > 999")
    assert resolve_snapshot(table).files == snap.files
    assert resolve_snapshot(table).version == v


def test_dv_fully_masked_file_is_dropped(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)  # files: pks 0-19 and 20-39
    table = str(tmp_path / "t")
    ds.delete(ref, "pk >= 20")  # masks EVERY row of the second file
    snap = resolve_snapshot(table)
    assert len(snap.files) == 1  # fully-masked file plainly removed
    assert not any(a.get("dv") for a in snap.files.values())
    assert _pks(ds.read(ref)) == list(range(20))


def test_dv_partitioned_table_and_partition_counts(spark, ds, tmp_path):
    ref = TableRef(path=str(tmp_path / "p"))
    df = spark.createDataFrame(
        [(i, "a" if i < 10 else "b", i * 2) for i in range(20)],
        "pk int, part string, v int",
    )
    ds.create(ref, df.schema, partition_by=["part"])
    ds.append(df, ref)
    ds.set_properties(ref, {DV_ENABLE_KEY: "true"})
    ds.delete(ref, "pk % 2 = 0 and part = 'a'")
    got = _pks(ds.read(ref))
    assert got == [i for i in range(20) if not (i % 2 == 0 and i < 10)]
    # hive partition columns survive the mask join
    assert ds.read(ref).filter("part = 'a'").count() == 5
    counts = {
        d["part"]: d["n_rows"] for d in ds.partition_counts(ref)
    }
    assert counts == {"a": 5, "b": 10}


def test_dv_cdf_emits_exactly_the_mask_delta(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")
    v0 = resolve_snapshot(table).version
    ds.delete(ref, "pk in (3, 7, 25)")
    v1 = resolve_snapshot(table).version
    ch = ds.changes(ref, v0, v1)
    rows = [(r.pk, r._change_type) for r in ch.collect()]
    assert sorted(rows) == [(3, "delete"), (7, "delete"), (25, "delete")]

    # second delete: ONLY the newly masked rows appear
    ds.delete(ref, "pk in (3, 8)")  # 3 already masked
    v2 = resolve_snapshot(table).version
    ch = ds.changes(ref, v1, v2)
    assert sorted((r.pk, r._change_type) for r in ch.collect()) == [
        (8, "delete")
    ]

    # semantic diff over the whole interval equals the final state diff
    diff = ds.semantic_diff(ref, v0, v2)
    assert sorted((r.pk, r.net) for r in diff.collect()) == [
        (3, -1), (7, -1), (8, -1), (25, -1)
    ]

    # fully-masked-file drop emits deletes of the rows LIVE at removal
    ds.delete(ref, "pk >= 20")
    v3 = resolve_snapshot(table).version
    ch = ds.changes(ref, v2, v3)
    want = [(i, "delete") for i in range(20, 40) if i != 25]
    assert sorted((r.pk, r._change_type) for r in ch.collect()) == want


def test_dv_restore_reasserts_mask_state_both_directions(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path, batches=1)
    table = str(tmp_path / "t")
    v_clean = resolve_snapshot(table).version
    ds.delete(ref, "pk < 5")
    v_masked = resolve_snapshot(table).version
    assert _pks(ds.read(ref)) == list(range(5, 20))

    # roll BACK: the masked rows come back, CDF shows them as inserts
    ds.restore(ref, v_clean)
    v_restored = resolve_snapshot(table).version
    assert _pks(ds.read(ref)) == list(range(20))
    assert ds.count_rows(ref) == 20
    ch = ds.changes(ref, v_masked, v_restored)
    assert sorted((r.pk, r._change_type) for r in ch.collect()) == [
        (i, "insert") for i in range(5)
    ]

    # roll FORWARD again: the mask re-asserts, CDF shows deletes
    ds.restore(ref, v_masked)
    v_again = resolve_snapshot(table).version
    assert _pks(ds.read(ref)) == list(range(5, 20))
    ch = ds.changes(ref, v_restored, v_again)
    assert sorted((r.pk, r._change_type) for r in ch.collect()) == [
        (i, "delete") for i in range(5)
    ]
    # time travel still reads each version's own mask state
    assert _pks(ds.read(TableRef(
        path=table, options={"versionAsOf": str(v_clean)}
    ))) == list(range(20))
    assert _pks(ds.read(TableRef(
        path=table, options={"versionAsOf": str(v_masked)}
    ))) == list(range(5, 20))


def test_dv_vacuum_keeps_live_sidecars_and_reaps_superseded(
        spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path, batches=1)
    table = str(tmp_path / "t")
    ds.delete(ref, "pk < 3")
    dv1 = {a["dv"]["path"] for a in resolve_snapshot(table).files.values()
           if a.get("dv")}
    ds.delete(ref, "pk in (5, 6)")  # re-points at a merged sidecar
    dv2 = {a["dv"]["path"] for a in resolve_snapshot(table).files.values()
           if a.get("dv")}
    assert dv1 and dv2 and dv1 != dv2

    # default vacuum keeps every version's sidecars (time travel safe)
    ds.vacuum(ref, min_age_sec=0)
    assert os.path.isdir(os.path.join(table, next(iter(dv1))))
    assert os.path.isdir(os.path.join(table, next(iter(dv2))))

    # keep_last=1 drops the superseded sidecar but never the live one
    ds.vacuum(ref, keep_last=1, min_age_sec=0)
    old_files = [
        os.path.join(r, n)
        for r, _d, ns in os.walk(os.path.join(table, next(iter(dv1))))
        for n in ns
    ]
    assert not old_files  # superseded mask reaped
    assert _pks(ds.read(ref)) == [
        i for i in range(20) if i not in (0, 1, 2, 5, 6)
    ]


def test_dv_compact_purges_masks_physically(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")
    ds.delete(ref, "pk % 4 = 0")
    want = _pks(ds.read(ref))
    ds._compact_rewrite(ds.read(ref), ref)
    snap = resolve_snapshot(table)
    assert not any(a.get("dv") for a in snap.files.values())
    assert _pks(ds.read(ref)) == want
    # post-purge the manifest export works again
    ds.generate_manifest(ref)


def test_dv_reorg_purge_rewrites_only_masked_files(spark, ds, tmp_path):
    """REORG ... APPLY (PURGE): masked files are physically rewritten
    (masks applied, dv refs dropped); UNMASKED files keep byte/path
    identity — the point of PURGE over a full compact when 1% of a
    100-TB table carries masks."""
    ref = _mk(spark, ds, tmp_path)  # files: pks 0-19 and 20-39
    table = str(tmp_path / "t")
    ds.delete(ref, "pk in (2, 5)")  # masks land only on the first file
    snap = resolve_snapshot(table)
    masked = {p for p, a in snap.files.items() if a.get("dv")}
    untouched = set(snap.files) - masked
    assert masked and untouched
    want = _pks(ds.read(ref))
    v0 = snap.version

    assert ds.purge_dvs(ref) == len(masked)
    snap = resolve_snapshot(table)
    assert snap.version == v0 + 1
    assert not any(a.get("dv") for a in snap.files.values())
    assert untouched <= set(snap.files)  # unmasked files never rewritten
    assert not masked & set(snap.files)  # masked files replaced
    assert _pks(ds.read(ref)) == want  # logically a no-op
    assert ds.count_rows(ref) == len(want)
    # rewritten files physically lack the masked rows now
    raw = spark.read.schema(snap.schema).parquet(
        *[os.path.join(table, p) for p in snap.files]
    )
    assert raw.count() == len(want)
    # ... so manifest export works again
    ds.generate_manifest(ref)
    # logical no-op: the purge commit nets zero row-level change
    assert ds.semantic_diff(ref, v0, v0 + 1).count() == 0

    # nothing masked -> nothing to do, NO commit burned
    assert ds.purge_dvs(ref) == 0
    assert resolve_snapshot(table).version == v0 + 1

    # post-purge vacuum reaps the orphaned sidecars and old data files
    ds.vacuum(ref, keep_last=1, min_age_sec=0)
    for p in masked:
        assert not os.path.exists(os.path.join(table, p))


def test_dv_reorg_purge_sql_and_partitioned(spark, ds, tmp_path):
    import uuid as _uuid

    name = f"dv_purge_{_uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    df = spark.createDataFrame(
        [(i, "a" if i < 10 else "b", i * 2) for i in range(20)],
        "pk int, part string, v int",
    )
    try:
        ds.create(ref, df.schema, partition_by=["part"])
        ds.append(df, ref)
        ds.set_properties(ref, {DV_ENABLE_KEY: "true"})
        ds.delete(ref, "pk in (1, 11)")
        want = _pks(ds.read(ref))

        ds._execute_statement(f"REORG TABLE {name} APPLY (PURGE)")
        snap = resolve_snapshot(ds._table_path(ref))
        assert not any(a.get("dv") for a in snap.files.values())
        assert _pks(ds.read(ref)) == want
        # hive partition values survive the rewrite
        assert ds.read(ref).filter("part = 'a'").count() == 9
    finally:
        ds.drop_table(ref)


def test_dv_manifest_refuses_while_masks_live(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    ds.delete(ref, "pk = 1")
    with pytest.raises(DataSourceException, match="deletion vectors"):
        ds.generate_manifest(ref)


def test_dv_merge_on_masked_file_respects_masks(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path, batches=1)
    ds.delete(ref, "pk = 3")
    src = spark.createDataFrame(
        [(3, 99, "new3"), (4, 98, "new4")], "pk int, g int, s string"
    )
    # update-only merge: the masked pk=3 must NOT be matched (it is
    # deleted) — the source row has no effect on it
    ds.merge(src, ref, MergeSpec(["pk"], ["g", "s"]))
    got = {r.pk: (r.g, r.s) for r in ds.read(ref).collect()}
    assert 3 not in got
    assert got[4] == (98, "new4")
    assert len(got) == 19
    # upsert: the unmatched (deleted) pk=3 re-enters as a fresh insert
    ds.merge(src, ref,
             MergeSpec(["pk"], ["g", "s"], insert_when_not_matched=True))
    got = {r.pk: (r.g, r.s) for r in ds.read(ref).collect()}
    assert got[3] == (99, "new3")
    assert len(got) == 20


def test_dv_clone_carries_masks_and_survives_source_drop(
        spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path, batches=1)
    ds.delete(ref, "pk < 4")
    dst = TableRef(path=str(tmp_path / "c"))
    ds.clone(ref, dst)
    assert _pks(ds.read(dst)) == list(range(4, 20))
    assert ds.count_rows(dst) == 16
    # clone is independent: drop the source, clone still reads
    ds.drop_table(ref)
    assert _pks(ds.read(dst)) == list(range(4, 20))


def test_dv_state_survives_checkpoint_replay(spark, ds, tmp_path,
                                             monkeypatch):
    import x_spark.sources.txlog as T

    monkeypatch.setattr(T, "CHECKPOINT_INTERVAL", 2)
    ref = _mk(spark, ds, tmp_path, batches=1)
    ds.delete(ref, "pk < 2")
    for i in range(3):  # force a checkpoint past the DV commit
        ds.append(
            spark.createDataFrame([(100 + i, 0, "x")],
                                  "pk int, g int, s string"),
            ref,
        )
    table = str(tmp_path / "t")
    _commits, checkpoints = T._list_log(table)
    assert checkpoints  # replay below starts from a checkpoint
    assert _pks(ds.read(ref)) == list(range(2, 20)) + [100, 101, 102]
    assert ds.count_rows(ref) == 21


def test_dv_sql_surface(spark, ds, tmp_path):
    import uuid as _uuid

    name = f"dv_sql_{_uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    ds.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(10)], "pk int, s string"
        ).coalesce(1),
        ref,
    )
    try:
        table = ds._table_path(ref)
        ds._execute_statement(
            f"ALTER TABLE {name} SET TBLPROPERTIES "
            f"('{DV_ENABLE_KEY}'='true')"
        )
        files_before = set(resolve_snapshot(table).files)
        ds._execute_statement(f"DELETE FROM {name} WHERE pk < 3")
        snap = resolve_snapshot(table)
        assert set(snap.files) == files_before  # DV path, no rewrite
        assert _pks(ds.read(ref)) == list(range(3, 10))
        # table_changes TVF sees the mask-delta deletes
        out = ds._execute_statement(
            f"SELECT pk, _change_type FROM table_changes('{name}', "
            f"{snap.version}, {snap.version})"
        )
        assert sorted((r.pk, r._change_type) for r in out.collect()) == [
            (i, "delete") for i in range(3)
        ]
        # SQL MERGE masks the matched rows too: the old file stays live
        ds._execute_statement(
            f"MERGE INTO {name} t USING (SELECT * FROM VALUES (4, 'u4'), "
            "(5, 'u5'), (42, 'n42') AS v(pk, s)) src ON t.pk = src.pk "
            "WHEN MATCHED THEN UPDATE SET s = src.s "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        snap = resolve_snapshot(table)
        assert files_before <= set(snap.files)
        assert sum(a["dv"]["cardinality"]
                   for a in snap.files.values() if a.get("dv")) == 5
        got = {r.pk: r.s for r in ds.read(ref).collect()}
        assert got == {**{i: f"r{i}" for i in range(3, 10)},
                       4: "u4", 5: "u5", 42: "n42"}
        # an insert-only MERGE masks nothing and keeps every old row
        files_mid = set(snap.files)
        ds._execute_statement(
            f"MERGE INTO {name} t USING (SELECT * FROM VALUES (6, 'x6'), "
            "(43, 'n43') AS v(pk, s)) src ON t.pk = src.pk "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        snap = resolve_snapshot(table)
        assert files_mid <= set(snap.files)
        assert sum(a["dv"]["cardinality"]
                   for a in snap.files.values() if a.get("dv")) == 5
        assert {r.pk: r.s for r in ds.read(ref).collect()} == {
            **got, 43: "n43"}
    finally:
        ds.drop_table(ref)


def test_dv_merge_masks_matched_rows_instead_of_rewriting(
        spark, ds, tmp_path):
    """With DVs on, MERGE masks matched target rows and appends only
    the new images + inserts — candidate files survive untouched; the
    result is row-identical to the copy-on-write merge; the change
    feed carries the delete(old)+insert(new) decomposition."""
    ref = _mk(spark, ds, tmp_path, batches=1)
    table = str(tmp_path / "t")
    files_before = set(resolve_snapshot(table).files)
    v0 = resolve_snapshot(table).version
    src = spark.createDataFrame(
        [(2, 99, "u2"), (4, 98, "u4"), (777, 1, "new")],
        "pk int, g int, s string",
    )
    ds.merge(src, ref, MergeSpec(["pk"], ["g", "s"],
                                 insert_when_not_matched=True),
             txn=("dvmerge", 1))
    snap = resolve_snapshot(table)
    # old files all still live (masked, not rewritten); new files added
    assert files_before <= set(snap.files)
    assert len(snap.files) > len(files_before)
    masked = {p: a for p, a in snap.files.items() if a.get("dv")}
    assert sum(a["dv"]["cardinality"] for a in masked.values()) == 2
    got = {r.pk: (r.g, r.s) for r in ds.read(ref).collect()}
    assert got[2] == (99, "u2") and got[4] == (98, "u4")
    assert got[777] == (1, "new")
    assert len(got) == 21
    assert ds.count_rows(ref) == 21  # metadata agrees
    # CDF: old images deleted, new images inserted
    ch = ds.changes(ref, v0, snap.version)
    ev = sorted((r.pk, r.g, r._change_type) for r in ch.collect())
    assert ev == [
        (2, 2 % 4, "delete"), (2, 99, "insert"),
        (4, 4 % 4, "delete"), (4, 98, "insert"),
        (777, 1, "insert"),
    ]
    # txn replay detected before anything lands
    from x_spark.sources.txlog import TxnAlreadyCommittedException
    with pytest.raises(TxnAlreadyCommittedException):
        ds.merge(src, ref, MergeSpec(["pk"], ["g", "s"],
                                     insert_when_not_matched=True),
                 txn=("dvmerge", 1))


def test_update_cow_ansi_semantics(spark, ds, tmp_path):
    """Copy-on-write UPDATE: every SET expression evaluates against the
    OLD row image (a, b swap works), and the predicate is matched on
    old values even when an assignment changes the predicate column."""
    ref = TableRef(path=str(tmp_path / "u"))
    ds.append(spark.createDataFrame(
        [(1, 10, 20), (2, 30, 40), (3, 4, 50)], "pk int, a int, b int"
    ), ref)
    ds.update(ref, {"a": "b", "b": "a"}, "pk <= 2")  # swap
    got = {r.pk: (r.a, r.b) for r in ds.read(ref).collect()}
    assert got == {1: (20, 10), 2: (40, 30), 3: (4, 50)}
    # predicate on a column the update changes: old-value matching
    ds.update(ref, {"a": "a + 100"}, "a < 30")
    got = {r.pk: r.a for r in ds.read(ref).collect()}
    assert got == {1: 120, 2: 40, 3: 104}
    # unknown column rejected
    with pytest.raises(DataSourceException, match="unknown column"):
        ds.update(ref, {"nope": "1"}, "TRUE")


@pytest.mark.parametrize("dv", [False, True])
def test_update_recomputes_generated_columns(spark, ds, tmp_path, dv):
    ref = TableRef(path=str(tmp_path / "g"))
    ds.append(spark.createDataFrame(
        [(1, 5, 10), (2, 6, 12)], "pk int, v int, dbl int"
    ), ref)
    ds.set_generated_column(ref, "dbl", "v * 2")
    if dv:
        ds.set_properties(ref, {DV_ENABLE_KEY: "true"})
    ds.update(ref, {"v": "v + 1"}, "pk = 1")
    got = {r.pk: (r.v, r.dbl) for r in ds.read(ref).collect()}
    assert got == {1: (6, 12), 2: (6, 12)}
    # a MERGE that sets v recomputes dbl on matched and inserted rows
    ds.merge(spark.createDataFrame([(2, 8), (3, 9)], "pk int, v int"), ref,
             MergeSpec(["pk"], ["v"], insert_when_not_matched=True))
    got = {r.pk: (r.v, r.dbl) for r in ds.read(ref).collect()}
    assert got == {1: (6, 12), 2: (8, 16), 3: (9, 18)}


def test_update_with_dv_masks_old_images(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path, batches=1)
    table = str(tmp_path / "t")
    files_before = set(resolve_snapshot(table).files)
    v0 = resolve_snapshot(table).version
    ds.update(ref, {"s": "concat(s, '!')"}, "pk < 3")
    snap = resolve_snapshot(table)
    assert files_before <= set(snap.files)  # masked, not rewritten
    assert len(snap.files) > len(files_before)  # new images appended
    got = {r.pk: r.s for r in ds.read(ref).collect()}
    assert got[0] == "r0!" and got[2] == "r2!" and got[3] == "r3"
    assert len(got) == 20 and ds.count_rows(ref) == 20
    ch = ds.changes(ref, v0, snap.version)
    ev = sorted((r.pk, r.s, r._change_type) for r in ch.collect())
    assert ev == [
        (0, "r0", "delete"), (0, "r0!", "insert"),
        (1, "r1", "delete"), (1, "r1!", "insert"),
        (2, "r2", "delete"), (2, "r2!", "insert"),
    ]


def test_update_assignment_casts_to_column_type(spark, ds, tmp_path):
    """An assignment whose expression type differs from the declared
    column type is assignment-cast (the _conform rule) — without it the
    committed file's physical type diverges from the pinned schema and
    the table stops being readable."""
    ref = _mk(spark, ds, tmp_path, batches=1)  # pk int, g = pk % 4
    ds.update(ref, {"g": "g * cast(1.5 as double)"}, "pk = 2")
    got = {r.pk: r.g for r in ds.read(ref).collect()}  # still readable
    assert got[2] == 3  # g was 2; 2 * 1.5 = 3.0, cast back to int
    assert ds.read(ref).schema["g"].dataType.simpleString() == "int"
    # decimal-typed expression: same rule (g was 1; 1.5 truncates to 1)
    ds.update(ref, {"g": "g + 0.5"}, "pk = 5")
    assert ds.read(ref).filter("pk = 5").first().g == 1


def test_update_and_merge_refuse_identity_assignment(spark, ds, tmp_path):
    from pyspark.sql.types import StructType

    ref = TableRef(path=str(tmp_path / "idt"))
    ds.create(ref, StructType.fromDDL("id bigint, s string"))
    ds.set_identity_column(ref, "id")
    ds.append(spark.createDataFrame([("a",), ("b",)], "s string"), ref)
    with pytest.raises(DataSourceException, match="IDENTITY"):
        ds.update(ref, {"id": "0"}, "TRUE")
    with pytest.raises(DataSourceException, match="IDENTITY"):
        ds.update(ref, {"id": "0"}, "s = 'zz'")  # no candidate file
    with pytest.raises(DataSourceException, match="IDENTITY"):
        ds.merge(
            spark.createDataFrame([(1, "x")], "id long, s string"),
            ref, MergeSpec(["id"], ["s"]),
        )
    # values remain unique after the refusals
    vals = [r.id for r in ds.read(ref).collect()]
    assert len(vals) == len(set(vals)) == 2


def test_update_sql_dispatch_with_nested_commas(spark, ds, tmp_path):
    import uuid as _uuid

    from x_spark.sources.sql_dml import Statement, parse_update

    def parse(sql):
        return parse_update(Statement(spark, sql))

    # parser: top-level comma split, quoted 'where', no-WHERE form
    tgt, asg, pred = parse(
        "UPDATE t SET note = concat(a, ', where ', b), n = n + 1 "
        "WHERE x = 'where'"
    )
    assert tgt == "t" and pred == "x = 'where'"
    assert asg == {"note": "concat(a, ', where ', b)", "n": "n + 1"}
    assert parse("update `db`.`t` set a = 1")[2] == "TRUE"
    assert parse("select 1") is None

    name = f"upd_sql_{_uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    ds.append(spark.createDataFrame(
        [(1, "x", 1), (2, "y", 2)], "pk int, s string, n int"
    ), ref)
    try:
        ds._execute_statement(
            f"UPDATE {name} SET s = concat(s, ',', 'z'), n = n * 10 "
            f"WHERE pk = 2"
        )
        got = {r.pk: (r.s, r.n) for r in ds.read(ref).collect()}
        assert got == {1: ("x", 1), 2: ("y,z", 20)}
    finally:
        ds.drop_table(ref)
