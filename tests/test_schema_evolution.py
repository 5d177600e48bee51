"""Schema evolution DDL: ADD COLUMNS (metadata-only widening) and
column mapping (Delta's columnMapping.mode = "name") enabling
RENAME/DROP COLUMN as metadata-only commits — no data file is read or
written by any of them, which is what makes them O(1) at 100 TB.

Reference surface: Delta Lake's ALTER TABLE ADD COLUMNS / RENAME
COLUMN / DROP COLUMN + column mapping (public docs). Physical names
ride in StructField metadata; translation happens only in
``_write_files`` and the pinned-schema readers.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from x_spark.errors import DataSourceException
from x_spark.sources import init_datasource
from x_spark.sources.base import MergeSpec, TableRef
from x_spark.sources.txlog import (
    COLUMN_MAPPING_KEY,
    DV_ENABLE_KEY,
    _physical_name,
    resolve_snapshot,
)


@pytest.fixture()
def ds(spark):
    return init_datasource("txlog", spark)


def _mk(spark, ds, tmp_path, part=False):
    ref = TableRef(path=str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b", i * 10) for i in range(10)],
        "pk int, g string, v int",
    )
    if part:
        ds.create(ref, df.schema, partition_by=["g"])
    ds.append(df.coalesce(1), ref)
    return ref


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_add_columns_metadata_only(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")
    files_before = set(resolve_snapshot(table).files)

    ds.add_columns(ref, "c int, d string")
    snap = resolve_snapshot(table)
    assert set(snap.files) == files_before  # no data movement
    assert [f.name for f in snap.schema.fields] == ["pk", "g", "v", "c", "d"]
    got = ds.read(ref).filter("pk = 1").first()
    assert (got.c, got.d) == (None, None)  # old rows NULL-fill

    # appends after the widening carry the new columns
    ds.append(
        spark.createDataFrame([(100, "a", 7, 42, "x")],
                              "pk int, g string, v int, c int, d string"),
        ref,
    )
    got = ds.read(ref).filter("pk = 100").first()
    assert (got.c, got.d) == (42, "x")
    # a narrow append NULL-fills through merge_schema (plain append
    # keeps the pinned hard-error on missing columns)
    ds.append(spark.createDataFrame([(101, "b", 8)],
                                    "pk int, g string, v int"), ref,
              merge_schema=True)
    assert ds.read(ref).filter("pk = 101").first().c is None

    with pytest.raises(DataSourceException, match="already exist"):
        ds.add_columns(ref, "v long")


def test_add_columns_sql_dispatch(spark, ds, tmp_path):
    name = f"se_add_{uuid.uuid4().hex[:8]}"
    ref = TableRef(table=name)
    ds.append(spark.createDataFrame([(1,)], "pk int"), ref)
    try:
        ds._execute_statement(
            f"ALTER TABLE {name} ADD COLUMNS (price decimal(10,2), note string)"
        )
        schema = resolve_snapshot(ds._table_path(ref)).schema
        assert [f.name for f in schema.fields] == ["pk", "price", "note"]
        assert schema["price"].dataType.simpleString() == "decimal(10,2)"
        # singular, unparenthesized flavor with a parameterized type
        ds._execute_statement(
            f"ALTER TABLE {name} ADD COLUMN ratio decimal(5,4)"
        )
        schema = resolve_snapshot(ds._table_path(ref)).schema
        assert schema["ratio"].dataType.simpleString() == "decimal(5,4)"
    finally:
        ds.drop_table(ref)


def test_rename_column_is_metadata_only(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")
    want = _rows(ds.read(ref))
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name"})
    files_before = set(resolve_snapshot(table).files)

    ds.rename_column(ref, "v", "value")
    snap = resolve_snapshot(table)
    assert set(snap.files) == files_before  # zero data movement
    assert [f.name for f in snap.schema.fields] == ["pk", "g", "value"]
    # physical name is the stable pre-rename logical name
    assert _physical_name(snap.schema["value"]) == "v"
    assert _rows(ds.read(ref).select("pk", "g", "value")) == want

    # writes after the rename land under the physical name and read back
    ds.append(spark.createDataFrame([(50, "c", 500)],
                                    "pk int, g string, value int"), ref)
    assert ds.read(ref).filter("pk = 50").first().value == 500
    # min/max file skipping keys re-map: merge on the renamed column
    ds.merge(
        spark.createDataFrame([(50, "c", 555)],
                              "pk int, g string, value int"),
        ref, MergeSpec(["pk"], ["value"]),
    )
    assert ds.read(ref).filter("pk = 50").first().value == 555
    # DELETE (CoW rewrite path) on the mapped table
    ds.delete(ref, "pk = 0")
    assert ds.read(ref).filter("pk = 0").count() == 0

    # SQL dispatch flavor
    name = f"se_ren_{uuid.uuid4().hex[:8]}"
    nref = TableRef(table=name)
    ds.append(spark.createDataFrame([(1, 2)], "a int, b int"), nref)
    try:
        ds._execute_statement(
            f"ALTER TABLE {name} SET TBLPROPERTIES "
            f"('{COLUMN_MAPPING_KEY}'='name')"
        )
        ds._execute_statement(f"ALTER TABLE {name} RENAME COLUMN b TO c")
        assert ds.read(nref).columns == ["a", "c"]
    finally:
        ds.drop_table(nref)


def test_rename_partition_column(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path, part=True)
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name"})
    ds.rename_column(ref, "g", "grp")
    snap = resolve_snapshot(str(tmp_path / "t"))
    assert snap.partition_cols == ["grp"]
    assert ds.read(ref).filter("grp = 'a'").count() == 5
    # new writes keep partition pruning / partition_counts consistent
    ds.append(spark.createDataFrame([(20, "c", 1)],
                                    "pk int, grp string, v int"), ref)
    counts = {d["grp"]: d["n_rows"] for d in ds.partition_counts(ref)}
    assert counts == {"a": 5, "b": 5, "c": 1}
    # partition-scoped DELETE prunes on the renamed column
    ds.delete(ref, "grp = 'c'")
    assert ds.read(ref).filter("grp = 'c'").count() == 0


def test_drop_column_never_resurrects(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name"})
    ds.drop_column(ref, "v")
    assert ds.read(ref).columns == ["pk", "g"]

    # re-adding the SAME logical name binds a FRESH physical name:
    # the dropped column's bytes stay dead
    ds.add_columns(ref, "v int")
    snap = resolve_snapshot(str(tmp_path / "t"))
    assert _physical_name(snap.schema["v"]).startswith("col-")
    assert ds.read(ref).filter("v is not null").count() == 0
    ds.append(spark.createDataFrame([(99, "z", 9)],
                                    "pk int, g string, v int"), ref)
    assert ds.read(ref).filter("v is not null").count() == 1


def test_schema_evolution_guards(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path, part=True)
    with pytest.raises(DataSourceException, match="requires"):
        ds.rename_column(ref, "v", "value")
    with pytest.raises(DataSourceException, match="requires"):
        ds.drop_column(ref, "v")
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name"})
    with pytest.raises(DataSourceException, match="cannot be disabled"):
        ds.set_properties(ref, {COLUMN_MAPPING_KEY: "none"})
    with pytest.raises(DataSourceException, match="partition column"):
        ds.drop_column(ref, "g")
    with pytest.raises(DataSourceException, match="already exists"):
        ds.rename_column(ref, "v", "pk")
    with pytest.raises(DataSourceException, match="no column"):
        ds.rename_column(ref, "nope", "x")
    ds.add_constraint(ref, "v_pos", "v >= 0")
    with pytest.raises(DataSourceException, match="constraint"):
        ds.rename_column(ref, "v", "value")
    with pytest.raises(DataSourceException, match="constraint"):
        ds.drop_column(ref, "v")
    ds.drop_constraint(ref, "v_pos")
    ds.set_generated_column(ref, "v", "pk * 10")
    with pytest.raises(DataSourceException, match="generated"):
        ds.drop_column(ref, "v")
    with pytest.raises(DataSourceException, match="generated"):
        ds.rename_column(ref, "pk", "id")  # referenced by the expr


def test_backticked_reference_blocks_drop_column(spark, ds, tmp_path):
    """A constraint that names its column in backticks is still a
    dependency: the drop refuses instead of committing a schema the
    constraint can no longer resolve against."""
    ref = TableRef(path=str(tmp_path / "bt"))
    df = spark.createDataFrame([(1, 1)], "k int, v int")
    ds.create(ref, df.schema)
    ds.append(df, ref)
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name"})
    ds.add_constraint(ref, "vpos", "`v` > 0")
    with pytest.raises(DataSourceException, match="referenced by"):
        ds.drop_column(ref, "v")
    ds.append(spark.createDataFrame([(2, 2)], "k int, v int"), ref)
    assert _rows(ds.read(ref)) == [(1, 1), (2, 2)]


def test_type_widening_ddl(spark, ds, tmp_path):
    """ALTER COLUMN TYPE: metadata-only widening — old (narrow) files
    upcast through the pinned-schema read, new appends land wide,
    lossy/incompatible changes refuse."""
    ref = _mk(spark, ds, tmp_path)  # v int
    table = str(tmp_path / "t")
    files_before = set(resolve_snapshot(table).files)
    want = sorted(r.v for r in ds.read(ref).collect())

    ds.widen_column(ref, "v", "bigint")
    snap = resolve_snapshot(table)
    assert set(snap.files) == files_before  # zero data movement
    assert snap.schema["v"].dataType.simpleString() == "bigint"
    assert sorted(r.v for r in ds.read(ref).collect()) == want
    # new appends land wide; value above int range round-trips
    ds.append(spark.createDataFrame([(100, "z", 2**40)],
                                    "pk int, g string, v long"), ref)
    assert ds.read(ref).filter("pk = 100").first().v == 2**40

    with pytest.raises(DataSourceException, match="not a supported"):
        ds.widen_column(ref, "v", "int")       # narrowing
    with pytest.raises(DataSourceException, match="not a supported"):
        ds.widen_column(ref, "g", "int")       # incompatible
    with pytest.raises(DataSourceException, match="not a supported"):
        ds.widen_column(ref, "v", "double")    # long->double is lossy
    with pytest.raises(DataSourceException, match="no column"):
        ds.widen_column(ref, "nope", "long")

    # decimal growth; integer digits may never shrink
    ds.widen_column(ref, "pk", "decimal(12,2)")
    assert ds.read(ref).filter("g = 'z'").first().pk == 100
    with pytest.raises(DataSourceException, match="not a supported"):
        ds.widen_column(ref, "pk", "decimal(12,4)")

    # SQL dispatch
    import uuid as _uuid

    name = f"se_widen_{_uuid.uuid4().hex[:8]}"
    nref = TableRef(table=name)
    ds.append(spark.createDataFrame([(1, 1.5)], "a int, b float")
              .coalesce(1), nref)
    try:
        ds._execute_statement(f"ALTER TABLE {name} ALTER COLUMN a TYPE bigint")
        ds._execute_statement(f"ALTER TABLE {name} ALTER COLUMN b TYPE double")
        schema = resolve_snapshot(ds._table_path(nref)).schema
        assert [f.dataType.simpleString() for f in schema.fields] == \
            ["bigint", "double"]
        assert ds.read(nref).first().b == 1.5
    finally:
        ds.drop_table(nref)


def test_type_widening_merge_schema_and_mapping(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")
    # mergeSchema widens v int->long AND adds a column in one commit
    ds.append(
        spark.createDataFrame([(200, "m", 2**40, 7)],
                              "pk int, g string, v long, extra int"),
        ref, merge_schema=True,
    )
    snap = resolve_snapshot(table)
    assert snap.schema["v"].dataType.simpleString() == "bigint"
    assert ds.read(ref).filter("pk = 200").first().v == 2**40
    assert ds.read(ref).filter("pk = 0").first().extra is None
    # narrower incoming after the widening: assignment-cast, no commit churn
    ds.append(
        spark.createDataFrame([(201, "m", 5, 8)],
                              "pk int, g string, v int, extra int"),
        ref, merge_schema=True,
    )
    assert ds.read(ref).filter("pk = 201").first().v == 5
    # incompatible type change still refuses
    with pytest.raises(DataSourceException, match="mergeSchema cannot"):
        ds.append(
            spark.createDataFrame([(1, "x", "oops", 1)],
                                  "pk int, g string, v string, extra int"),
            ref, merge_schema=True,
        )
    # widening composes with column mapping: physical name survives
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name"})
    ds.rename_column(ref, "extra", "bonus")
    ds.widen_column(ref, "bonus", "bigint")
    snap = resolve_snapshot(table)
    assert _physical_name(snap.schema["bonus"]) == "extra"
    assert ds.read(ref).filter("pk = 201").first().bonus == 8


def _mk_identity(spark, ds, tmp_path, name="idt", **kw):
    from pyspark.sql.types import StructType

    ref = TableRef(path=str(tmp_path / name))
    schema = StructType.fromDDL("id bigint, s string")
    ds.create(ref, schema)
    ds.set_identity_column(ref, "id", **kw)
    return ref


def test_identity_column_allocation(spark, ds, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: appends omit the column, values
    are unique and strictly beyond the committed high-water mark, the
    mark advances atomically with the data."""
    ref = _mk_identity(spark, ds, tmp_path, start=100, step=10)
    ds.append(spark.createDataFrame([("a",), ("b",), ("c",)], "s string"),
              ref)
    first = sorted(r.id for r in ds.read(ref).collect())
    assert len(first) == len(set(first)) == 3
    assert min(first) >= 100
    assert all(v % 10 == 0 for v in first)

    ds.append(spark.createDataFrame([("d",), ("e",)], "s string"), ref)
    rows = {r.s: r.id for r in ds.read(ref).collect()}
    assert len(set(rows.values())) == 5
    assert min(rows["d"], rows["e"]) > max(first)  # beyond the mark

    with pytest.raises(DataSourceException, match="IDENTITY"):
        ds.append(spark.createDataFrame([(1, "x")], "id long, s string"),
                  ref)
    # the mark rides the commit: a fresh snapshot agrees
    spec = resolve_snapshot(str(tmp_path / "idt")).identity["id"]
    assert spec["high"] == max(rows.values())


def test_identity_negative_step_and_sql(spark, ds, tmp_path):
    ref = _mk_identity(spark, ds, tmp_path, start=0, step=-5)
    ds.append(spark.createDataFrame([("a",), ("b",)], "s string"), ref)
    vals = sorted(r.id for r in ds.read(ref).collect())
    assert len(set(vals)) == 2 and max(vals) <= 0
    ds.append(spark.createDataFrame([("c",)], "s string"), ref)
    v3 = ds.read(ref).filter("s = 'c'").first().id
    assert v3 < min(vals)  # strictly in the step's direction

    import uuid as _uuid

    name = f"se_idt_{_uuid.uuid4().hex[:8]}"
    nref = TableRef(table=name)
    from pyspark.sql.types import StructType

    ds.create(nref, StructType.fromDDL("id bigint, s string"))
    try:
        ds._execute_statement(
            f"ALTER TABLE {name} ALTER COLUMN id SET IDENTITY "
            "(START WITH 7 STEP 2)"
        )
        ds.append(spark.createDataFrame([("x",)], "s string"), nref)
        got = ds.read(nref).first().id
        assert got >= 7 and (got - 7) % 2 == 0
    finally:
        ds.drop_table(nref)


def test_identity_guards_and_race(spark, ds, tmp_path):
    from pyspark.sql.types import StructType

    from x_spark.sources.txlog import ConcurrentWriteException

    ref = TableRef(path=str(tmp_path / "g"))
    ds.create(ref, StructType.fromDDL("id bigint, n int, s string"))
    with pytest.raises(DataSourceException, match="BIGINT"):
        ds.set_identity_column(ref, "n")
    with pytest.raises(DataSourceException, match="no column"):
        ds.set_identity_column(ref, "nope")
    with pytest.raises(DataSourceException, match="STEP"):
        ds.set_identity_column(ref, "id", step=0)
    with pytest.raises(DataSourceException, match="SET IDENTITY"):
        ds.set_properties(ref, {"identity.id": "{}"})
    ds.append(spark.createDataFrame([(1, 2, "x")],
                                    "id long, n int, s string"), ref)
    with pytest.raises(DataSourceException, match="empty table"):
        ds.set_identity_column(ref, "id")

    # allocation is read-modify-write: a racer landing between the
    # snapshot read and the commit aborts the append (no silent
    # double-allocation of the same range)
    iref = _mk_identity(spark, ds, tmp_path, name="race")
    table = str(tmp_path / "race")
    orig = ds._write_files

    def racing_write(df, t, part_cols, **kw):
        adds = orig(df, t, part_cols, **kw)
        ds._write_files = orig
        ds._commit(t, resolve_snapshot(t).version + 1, [], "RACER")
        return adds

    ds._write_files = racing_write
    with pytest.raises(ConcurrentWriteException):
        ds.append(spark.createDataFrame([("a",)], "s string"), iref)
    ds.append(spark.createDataFrame([("b",)], "s string"), iref)  # retry
    vals = [r.id for r in ds.read(iref).collect()]
    assert len(vals) == len(set(vals)) == 1


def test_identity_survives_checkpoint_and_merge_schema(
        spark, ds, tmp_path, monkeypatch):
    import x_spark.sources.txlog as T

    monkeypatch.setattr(T, "CHECKPOINT_INTERVAL", 2)
    ref = _mk_identity(spark, ds, tmp_path)
    for c in "abcde":  # forces a checkpoint past the identity config
        ds.append(spark.createDataFrame([(c,)], "s string"), ref)
    vals = [r.id for r in ds.read(ref).collect()]
    assert len(vals) == len(set(vals)) == 5
    # mergeSchema append widens AND allocates in the same commit
    ds.append(spark.createDataFrame([("f", 1)], "s string, extra int"),
              ref, merge_schema=True)
    got = ds.read(ref).filter("s = 'f'").first()
    assert got.id is not None and got.id not in vals
    assert got.extra == 1


def test_mapping_interplay_dv_cdf_restore_clone(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name",
                            DV_ENABLE_KEY: "true"})
    v_pre = resolve_snapshot(table).version
    ds.rename_column(ref, "v", "value")

    # DV delete on the mapped+renamed table: mask applies, reader drops
    ds.delete(ref, "pk in (1, 2)")
    snap = resolve_snapshot(table)
    assert any(a.get("dv") for a in snap.files.values())
    assert ds.read(ref).filter("pk in (1, 2)").count() == 0
    assert ds.count_rows(ref) == 8

    # CDF across the rename interval: base schema = base names
    ch = ds.changes(ref, snap.version - 1, snap.version)
    assert "value" in ch.columns
    assert sorted(r.pk for r in ch.filter("_change_type = 'delete'")
                  .collect()) == [1, 2]

    # RESTORE to the pre-rename version re-asserts the OLD schema
    ds.restore(ref, v_pre)
    snap = resolve_snapshot(table)
    assert [f.name for f in snap.schema.fields] == ["pk", "g", "v"]
    assert ds.read(ref).filter("pk in (1, 2)").count() == 2

    # CLONE carries the mapping metadata
    ds.rename_column(ref, "v", "val2")
    dst = TableRef(path=str(tmp_path / "c"))
    ds.clone(ref, dst)
    csnap = resolve_snapshot(str(tmp_path / "c"))
    assert _physical_name(csnap.schema["val2"]) == "v"
    assert ds.read(dst).columns == ["pk", "g", "val2"]
    assert ds.read(dst).count() == 10


def test_overwrite_schema_reconciles_configuration(spark, ds, tmp_path):
    """overwrite_schema validates the NEW data against the RECONCILED
    config: per-column metadata of dropped columns leaves with them; a
    constraint / surviving generation expression referencing a dropped
    column refuses with its name (not an unresolved-column crash)."""
    from pyspark.sql.types import StructType

    ref = TableRef(path=str(tmp_path / "ow"))
    ds.create(ref, StructType.fromDDL("pk int, v int, id bigint"))
    ds.set_identity_column(ref, "id")
    ds.set_generated_column(ref, "v", "pk * 10")
    ds.append(spark.createDataFrame([(1,), (2,)], "pk int"),
              ref, merge_schema=True)

    # dropping the generated column itself: its metadata leaves too,
    # and the new data is validated against the reconciled config
    narrow = spark.createDataFrame([(7, "x")], "pk int, s string")
    ds.overwrite(narrow, ref, overwrite_schema=True)
    snap = resolve_snapshot(str(tmp_path / "ow"))
    assert not snap.generated and not snap.identity  # no dangling entries
    assert [r.pk for r in ds.read(ref).collect()] == [7]

    # a CHECK constraint referencing a dropped column refuses cleanly
    ds.add_constraint(ref, "s_nonempty", "length(s) > 0")
    with pytest.raises(DataSourceException, match="s_nonempty"):
        ds.overwrite(spark.createDataFrame([(8,)], "pk int"),
                     ref, overwrite_schema=True)
    # nothing committed by the refusal
    assert [r.pk for r in ds.read(ref).collect()] == [7]
    # and so does one that names the column in backticks
    ds.drop_constraint(ref, "s_nonempty")
    ds.add_constraint(ref, "s_quoted", "`s` <> ''")
    with pytest.raises(DataSourceException, match="s_quoted"):
        ds.overwrite(spark.createDataFrame([(8,)], "pk int"),
                     ref, overwrite_schema=True)
    assert [r.pk for r in ds.read(ref).collect()] == [7]


def test_datasource_reader_respects_mapping(spark, ds, tmp_path):
    from x_spark.sources.txlog_datasource import TxLogSparkDataSource

    spark.dataSource.register(TxLogSparkDataSource)
    ref = _mk(spark, ds, tmp_path, part=True)
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name"})
    ds.rename_column(ref, "v", "value")
    ds.rename_column(ref, "g", "grp")
    ds.add_columns(ref, "extra int")
    df = (
        spark.read.format("txlog")
        .option("path", str(tmp_path / "t"))
        .load()
    )
    assert df.columns == ["pk", "grp", "value", "extra"]
    assert df.filter("grp = 'a'").count() == 5
    assert df.agg(F.sum("value")).first()[0] == sum(i * 10 for i in range(10))
    assert df.filter("extra is not null").count() == 0


def test_compact_and_cluster_on_mapped_table(spark, ds, tmp_path):
    ref = _mk(spark, ds, tmp_path)
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name"})
    ds.rename_column(ref, "v", "value")
    ds.append(spark.createDataFrame([(10 + i, "c", i) for i in range(5)],
                                    "pk int, g string, value int"), ref)
    want = _rows(ds.read(ref))
    ds._compact_rewrite(ds.read(ref), ref)
    assert _rows(ds.read(ref)) == want
    ds.cluster(ref, ["pk"], target_files=2)
    assert _rows(ds.read(ref)) == want
    # footer-stat file skipping still prunes on the LOGICAL name:
    # stats in add actions are re-keyed, so merge key pruning works
    snap = resolve_snapshot(str(tmp_path / "t"))
    assert all(
        "pk" in (a.get("stats") or {}).get("minValues", {})
        for a in snap.files.values()
    )


def test_merge_with_schema_evolution_cow(spark, ds, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION (Delta's schema.autoMerge): source
    columns missing from the table widen the schema in the SAME commit
    as the merge's removes+adds — updated rows carry the new column,
    untouched rows NULL-fill, and time travel to the pre-merge version
    still shows the narrow schema."""
    from x_spark.errors import ETLJobException

    ref = _mk(spark, ds, tmp_path)
    src = spark.createDataFrame(
        [(1, 111, "one"), (20, 200, "twenty")],
        "pk int, v int, note string",
    )
    spec = MergeSpec(["pk"], ["v", "note"], insert_when_not_matched=True)
    # without the flag: a set column absent from the target refuses
    with pytest.raises(ETLJobException, match="not present in target"):
        ds.merge(src, ref, spec)
    v_pre = resolve_snapshot(str(tmp_path / "t")).version

    ds.merge(src, ref, spec, merge_schema=True)
    out = ds.read(ref)
    assert out.columns == ["pk", "g", "v", "note"]
    rows = {r.pk: r for r in out.collect()}
    assert (rows[1].v, rows[1].note) == (111, "one")      # matched update
    assert (rows[20].v, rows[20].note) == (200, "twenty")  # insert
    assert rows[20].g is None                     # upsert NULL quirk
    assert rows[2].note is None                   # untouched: NULL-fill
    assert len(rows) == 11
    # schema + data ride ONE commit: the previous version is narrow
    snap = resolve_snapshot(str(tmp_path / "t"))
    assert snap.version == v_pre + 1
    prev = TableRef(path=ref.path, options={"versionAsOf": str(v_pre)})
    assert "note" not in ds.read(prev).columns
    # a second evolving merge with no new columns stays a plain merge
    ds.merge(spark.createDataFrame([(2, 222, "two")], src.schema),
             ref, spec, merge_schema=True)
    assert ds.read(ref).filter("pk = 2").first().note == "two"


def test_merge_schema_evolution_widens_types(spark, ds, tmp_path):
    """An evolving merge whose source carries a WIDER type (int→long)
    adopts the wide type table-wide; old files upcast on read."""
    ref = _mk(spark, ds, tmp_path)
    src = spark.createDataFrame(
        [(1, 4_000_000_000)], "pk int, v long"
    )
    ds.merge(src, ref, MergeSpec(["pk"], ["v"]), merge_schema=True)
    out = ds.read(ref)
    assert dict(out.dtypes)["v"] == "bigint"
    rows = {r.pk: r.v for r in out.collect()}
    assert rows[1] == 4_000_000_000 and rows[2] == 20


def test_merge_schema_evolution_dv_and_mapping(spark, ds, tmp_path):
    """Evolution through the merge-on-read path: on a column-mapped,
    DV-enabled table the new column gets a FRESH physical name, masked
    rows' new images carry it, and co-located untouched rows are never
    rewritten (their files survive with a DV, not a rewrite)."""
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")
    ds.set_properties(ref, {COLUMN_MAPPING_KEY: "name",
                            DV_ENABLE_KEY: "true"})
    files_before = set(resolve_snapshot(table).files)

    src = spark.createDataFrame([(3, 333, "three")],
                                "pk int, v int, note string")
    ds.merge(src, ref, MergeSpec(["pk"], ["v", "note"]), merge_schema=True)
    snap = resolve_snapshot(table)
    assert _physical_name(snap.schema["note"]) != "note"  # fresh physical
    # merge-on-read: the original file is masked, not rewritten
    assert files_before <= set(snap.files)
    assert any(snap.files[p].get("dv") for p in files_before)
    rows = {r.pk: r for r in ds.read(ref).collect()}
    assert (rows[3].v, rows[3].note) == (333, "three")
    assert rows[4].note is None and len(rows) == 10
    # the new logical column is RENAME-able like any mapped column
    ds.rename_column(ref, "note", "remark")
    assert ds.read(ref).filter("pk = 3").first().remark == "three"


def test_identity_allocation_dense_at_any_partition_count(
        spark, ds, tmp_path):
    """Dense two-stage allocation: values stay within step*N of the
    high-water mark at ANY partition count. The naive
    monotonically_increasing_id stride embeds partition_id<<33, so
    this step/partition combination would exceed 2^63 and fail an
    ANSI write — here it must stay exact, unique, and contiguous in
    units of step."""
    step = 10**12
    ref = _mk_identity(spark, ds, tmp_path, start=step, step=step)
    n = 200
    df = spark.range(n).select(F.col("id").cast("string").alias("s")) \
        .repartition(40)
    ds.append(df, ref)
    vals = sorted(r.id for r in ds.read(ref).collect())
    assert len(vals) == len(set(vals)) == n
    assert vals == [step * i for i in range(1, n + 1)]  # dense
    spec = resolve_snapshot(str(tmp_path / "idt")).identity["id"]
    assert spec["high"] == step * n
    # a second append continues beyond the mark, still dense
    ds.append(spark.createDataFrame([("x",), ("y",)], "s string"), ref)
    vals2 = sorted(r.id for r in ds.read(ref).collect())
    assert vals2[-2:] == [step * (n + 1), step * (n + 2)]


def test_identity_enforced_on_overwrite_paths(spark, ds, tmp_path):
    """The append-path identity contract holds on every insert-shaped
    write: overwrite / replaceWhere / overwrite_dynamic reject provided
    values, allocate ABOVE the committed mark (never reusing
    overwritten rows' values), and advance the mark in the same commit
    — so a later append can never collide with overwritten-in rows."""
    from pyspark.sql.types import StructType

    ref = _mk_identity(spark, ds, tmp_path)
    ds.append(spark.createDataFrame([("a",), ("b",)], "s string"), ref)
    high0 = max(r.id for r in ds.read(ref).collect())

    with pytest.raises(DataSourceException, match="IDENTITY"):
        ds.overwrite(spark.createDataFrame([(1, "x")], "id long, s string"),
                     ref)
    ds.overwrite(spark.createDataFrame([("c",), ("d",)], "s string"), ref)
    over = {r.s: r.id for r in ds.read(ref).collect()}
    assert set(over) == {"c", "d"}
    assert min(over.values()) > high0          # beyond the old mark
    ds.append(spark.createDataFrame([("e",)], "s string"), ref)
    vals = [r.id for r in ds.read(ref).collect()]
    assert len(vals) == len(set(vals)) == 3    # no collision after

    # replaceWhere: survivors keep their ids, replaced-in rows allocate
    ds.overwrite(spark.createDataFrame([("c",)], "s string"), ref,
                 replace_where="s = 'c'")
    rows = {r.s: r.id for r in ds.read(ref).collect()}
    assert rows["d"] == over["d"]              # survivor untouched
    assert rows["c"] > max(vals)               # fresh allocation
    assert len(set(rows.values())) == 3

    # overwrite_dynamic on a partitioned identity table
    pref = TableRef(path=str(tmp_path / "pidt"))
    ds.create(pref, StructType.fromDDL("id bigint, g string, v int"),
              partition_by=["g"])
    ds.set_identity_column(pref, "id")
    ds.append(spark.createDataFrame([("a", 1), ("b", 2)], "g string, v int"),
              pref)
    keep_b = ds.read(pref).filter("g = 'b'").first().id
    phigh = max(r.id for r in ds.read(pref).collect())
    ds.overwrite_dynamic(
        spark.createDataFrame([("a", 10)], "g string, v int"), pref)
    prows = {r.g: r.id for r in ds.read(pref).collect()}
    assert prows["b"] == keep_b                # untouched partition
    assert prows["a"] > phigh                  # fresh + beyond mark
    ds.append(spark.createDataFrame([("c", 3)], "g string, v int"), pref)
    pvals = [r.id for r in ds.read(pref).collect()]
    assert len(pvals) == len(set(pvals)) == 3

    # overwrite_schema keeping the identity column would provide
    # values for it: refuse with the Delta rule
    with pytest.raises(DataSourceException, match="drop the identity"):
        ds.overwrite(spark.createDataFrame([(9, "z")], "id long, s string"),
                     ref, overwrite_schema=True)
    # dropping the column drops the property with it: allowed
    ds.overwrite(spark.createDataFrame([("z", 1)], "s string, n int"),
                 ref, overwrite_schema=True)
    snap = resolve_snapshot(str(tmp_path / "idt"))
    assert not snap.identity


def test_column_defaults(spark, ds, tmp_path):
    """ALTER COLUMN ... SET DEFAULT (Delta's allowColumnDefaults):
    insert-shaped writes that OMIT the column fill it with the
    constant expression; explicit NULL stays NULL; merge inserts fill
    non-set columns; the property survives RESTORE and CLONE and
    follows renames; invalid expressions reject at DDL time."""
    ref = _mk(spark, ds, tmp_path)
    table = str(tmp_path / "t")

    ds.set_column_default(ref, "v", "42")
    # append omitting v -> default, not NULL (and not a conform error)
    ds.append(spark.createDataFrame([(100, "x")], "pk int, g string"), ref)
    assert ds.read(ref).filter("pk = 100").first().v == 42
    # explicit NULL stays NULL (SQL-standard rule)
    ds.append(spark.createDataFrame([(101, "x", None)],
                                    "pk int, g string, v int"), ref)
    assert ds.read(ref).filter("pk = 101").first().v is None
    # merge upsert: inserted rows fill non-set columns with the default
    src = spark.createDataFrame([(200, "ins")], "pk int, g string")
    ds.merge(src, ref, MergeSpec(["pk"], ["g"],
                                 insert_when_not_matched=True))
    assert ds.read(ref).filter("pk = 200").first().v == 42
    # overwrite path fills too
    v_pre = resolve_snapshot(table).version
    ds.overwrite(spark.createDataFrame([(1, "o")], "pk int, g string"), ref)
    assert ds.read(ref).first().v == 42
    # RESTORE re-asserts data; the default (config) remains declared
    ds.restore(ref, v_pre)
    assert resolve_snapshot(table).defaults == {"v": "42"}

    # CLONE carries the default
    dst = TableRef(path=str(tmp_path / "c"))
    ds.clone(ref, dst)
    assert resolve_snapshot(str(tmp_path / "c")).defaults == {"v": "42"}

    # DDL-time validation: non-constant and non-castable reject
    with pytest.raises(DataSourceException, match="constant"):
        ds.set_column_default(ref, "g", "pk + 1")
    with pytest.raises(DataSourceException, match="constant"):
        ds.set_column_default(ref, "pk", "'abc'")
    with pytest.raises(DataSourceException, match="no column"):
        ds.set_column_default(ref, "nope", "1")
    # column-free but NON-constant expressions would re-evaluate per
    # write (the documented contract is a value fixed at DDL time):
    # random, current-time, and subquery forms all reject
    for bad in ("rand()", "unix_timestamp()",
                "(SELECT 1)", "cast(rand() * 10 as int)"):
        with pytest.raises(DataSourceException, match="deterministic"):
            ds.set_column_default(ref, "pk", bad)
    for bad in ("uuid()", "current_timestamp()", "now()",
                "cast(current_date() as string)"):
        with pytest.raises(DataSourceException, match="deterministic"):
            ds.set_column_default(ref, "g", bad)
    # a literal whose TEXT mentions a time function is still fine
    ds.set_column_default(ref, "g", "'now current_timestamp'")
    ds.drop_column_default(ref, "g")
    # deterministic function-of-constants is fine
    ds.set_column_default(ref, "pk", "abs(-7) + 1")
    ds.drop_column_default(ref, "pk")
    # reserved namespace on SET TBLPROPERTIES
    with pytest.raises(DataSourceException, match="SET DEFAULT"):
        ds.set_properties(ref, {"default.v": "9"})

    # DROP DEFAULT: omitted column is a hard error again (strict
    # conform), not a silent NULL
    ds.drop_column_default(ref, "v")
    assert resolve_snapshot(table).defaults == {}
    with pytest.raises(Exception):
        ds.append(spark.createDataFrame([(300, "x")], "pk int, g string"),
                  ref)


def test_column_defaults_sql_and_mapping(spark, ds, tmp_path):
    """SET/DROP DEFAULT through the SQL dispatcher on a named table;
    under column mapping the default follows a RENAME and leaves with
    a DROP COLUMN."""
    import uuid as _uuid

    from pyspark.sql.types import StructType

    name = f"se_dflt_{_uuid.uuid4().hex[:8]}"
    nref = TableRef(table=name)
    ds.create(nref, StructType.fromDDL("pk int, v int, note string"))
    try:
        ds._execute_statement(
            f"ALTER TABLE {name} ALTER COLUMN note SET DEFAULT 'n/a'"
        )
        ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"), nref)
        assert ds.read(nref).first().note == "n/a"
        ds.set_properties(nref, {COLUMN_MAPPING_KEY: "name"})
        ds.rename_column(nref, "note", "remark")
        snap = resolve_snapshot(ds._table_path(nref))
        assert snap.defaults == {"remark": "'n/a'"}  # the expr text
        ds.append(spark.createDataFrame([(2, 20)], "pk int, v int"), nref)
        assert ds.read(nref).filter("pk = 2").first().remark == "n/a"
        ds._execute_statement(
            f"ALTER TABLE {name} ALTER COLUMN remark DROP DEFAULT"
        )
        assert resolve_snapshot(ds._table_path(nref)).defaults == {}
        ds.set_column_default(nref, "remark", "'x'")
        ds.drop_column(nref, "remark")
        assert resolve_snapshot(ds._table_path(nref)).defaults == {}
    finally:
        ds.drop_table(nref)


@pytest.mark.parametrize("dv", [False, True])
def test_identity_allocates_on_merge_inserts(spark, ds, tmp_path, dv):
    """MERGE upsert on an identity table: inserted rows get fresh
    engine-allocated ids strictly beyond the committed mark (never
    NULL — Delta allocates for MERGE inserts), matched rows keep their
    ids, the advanced mark rides the merge commit, and with CDF on the
    feed's insert rows carry the SAME ids the table holds."""
    from x_spark.sources.txlog import CDF_ENABLE_KEY

    ref = _mk_identity(spark, ds, tmp_path, start=10, step=3)
    props = {CDF_ENABLE_KEY: "true"}
    if dv:
        props[DV_ENABLE_KEY] = "true"
    ds.set_properties(ref, props)
    ds.append(spark.createDataFrame([("a",), ("b",)], "s string"), ref)
    base_ids = {r.s: r.id for r in ds.read(ref).collect()}
    high0 = max(base_ids.values())

    src = spark.createDataFrame([("a",), ("c",), ("d",)], "s string")
    v_pre = resolve_snapshot(str(tmp_path / "idt")).version
    ds.merge(src, ref, MergeSpec(["s"], [], insert_when_not_matched=True))
    rows = {r.s: r.id for r in ds.read(ref).collect()}
    assert rows["a"] == base_ids["a"]          # matched keeps its id
    assert rows["b"] == base_ids["b"]
    fresh = {rows["c"], rows["d"]}
    assert None not in fresh and len(fresh) == 2
    assert min(fresh) > high0                  # beyond the mark
    assert all((v - 10) % 3 == 0 for v in fresh)
    spec = resolve_snapshot(str(tmp_path / "idt")).identity["id"]
    assert spec["high"] == max(rows.values())  # mark rode the commit
    # next append continues beyond, no collision
    ds.append(spark.createDataFrame([("e",)], "s string"), ref)
    vals = [r.id for r in ds.read(ref).collect()]
    assert len(vals) == len(set(vals)) == 5
    # CDF: the feed's insert rows show the ids the table holds
    ch = ds.changes(ref, v_pre, v_pre + 1)
    ins = {r.s: r.id for r in ch.filter("_change_type = 'insert'")
           .collect()}
    assert ins == {"c": rows["c"], "d": rows["d"]}


def test_not_null_ddl(spark, ds, tmp_path):
    """SET/DROP NOT NULL: one commit flips the schema's nullable flag
    AND installs the enforcing CHECK constraint; writes with NULLs
    abort before any file lands; existing NULLs block the DDL."""
    import uuid as _uuid

    from pyspark.sql.types import StructType

    name = f"se_nn_{_uuid.uuid4().hex[:8]}"
    nref = TableRef(table=name)
    ds.create(nref, StructType.fromDDL("pk int, v int"))
    ds.append(spark.createDataFrame([(1, 10)], "pk int, v int"), nref)
    try:
        ds._execute_statement(
            f"ALTER TABLE {name} ALTER COLUMN v SET NOT NULL"
        )
        snap = resolve_snapshot(ds._table_path(nref))
        assert snap.schema["v"].nullable is False
        assert snap.configuration["constraint.notnull_v"] == "v IS NOT NULL"
        with pytest.raises(Exception, match="notnull_v"):
            ds.append(spark.createDataFrame([(2, None)],
                                            "pk int, v int"), nref)
        assert ds.read(nref).count() == 1  # aborted write left nothing
        with pytest.raises(DataSourceException, match="already NOT NULL"):
            ds.set_not_null(nref, "v")
        ds._execute_statement(
            f"ALTER TABLE {name} ALTER COLUMN v DROP NOT NULL"
        )
        snap = resolve_snapshot(ds._table_path(nref))
        assert snap.schema["v"].nullable is True
        assert "constraint.notnull_v" not in snap.configuration
        ds.append(spark.createDataFrame([(2, None)], "pk int, v int"),
                  nref)
        assert ds.read(nref).count() == 2
        # existing NULLs block re-installation
        with pytest.raises(DataSourceException, match="existing row"):
            ds.set_not_null(nref, "v")
    finally:
        ds.drop_table(nref)


def test_review_fixes_identity_edges(spark, ds, tmp_path):
    """Round-7 review regressions: (a) empty-frame and all-matched
    allocations must not crash (the bare create_map was typed
    map<void,void>); (b) RENAME/DROP COLUMN migrate/strip the
    identity.<col> key instead of orphaning it; (c) SET IDENTITY
    rejects a column that already has a DEFAULT."""
    # (a) empty append + all-matched merge on an identity table
    ref = _mk_identity(spark, ds, tmp_path)
    ds.append(spark.createDataFrame([], "s string"), ref)      # empty
    ds.append(spark.createDataFrame([("a",), ("b",)], "s string"), ref)
    ds.merge(spark.createDataFrame([("a",)], "s string"), ref,
             MergeSpec(["s"], [], insert_when_not_matched=True))
    vals = [r.id for r in ds.read(ref).collect()]
    assert len(vals) == len(set(vals)) == 2 and None not in vals

    # (b) rename migrates the identity spec (incl. high-water mark)
    from pyspark.sql.types import StructType

    pref = TableRef(path=str(tmp_path / "ren"))
    ds.create(pref, StructType.fromDDL("id bigint, s string"))
    ds.set_identity_column(pref, "id", start=5, step=5)
    ds.set_properties(pref, {COLUMN_MAPPING_KEY: "name"})
    ds.append(spark.createDataFrame([("x",)], "s string"), pref)
    ds.rename_column(pref, "id", "uid")
    snap = resolve_snapshot(str(tmp_path / "ren"))
    assert "uid" in snap.identity and "id" not in snap.identity
    assert snap.identity["uid"]["high"] == 5
    ds.append(spark.createDataFrame([("y",)], "s string"), pref)
    rows = {r.s: r.uid for r in ds.read(pref).collect()}
    assert rows == {"x": 5, "y": 10}   # allocation continues seamlessly
    with pytest.raises(DataSourceException, match="IDENTITY"):
        ds.append(spark.createDataFrame([(1, "z")],
                                        "uid long, s string"), pref)
    # drop strips the key; a re-added column is an ordinary column
    ds.drop_column(pref, "uid")
    assert resolve_snapshot(str(tmp_path / "ren")).identity == {}
    ds.add_columns(pref, "uid bigint")
    ds.append(spark.createDataFrame([(99, "w")],
                                    "uid long, s string"), pref)
    assert ds.read(pref).filter("s = 'w'").first().uid == 99

    # (c) DEFAULT and IDENTITY are mutually exclusive in BOTH orders
    dref = TableRef(path=str(tmp_path / "dflt"))
    ds.create(dref, StructType.fromDDL("id bigint, s string"))
    ds.set_column_default(dref, "id", "0")
    with pytest.raises(DataSourceException, match="DEFAULT"):
        ds.set_identity_column(dref, "id")


def test_identity_allocation_frees_checkpoint_blocks(spark, ds, tmp_path):
    """The dense allocator's localCheckpoints are freed after the
    write (graph.py rule): identity appends and merge upserts leave
    ZERO new persistent RDDs behind — stale blocks otherwise
    accumulate across a long session and skew block-manager state."""
    ref = _mk_identity(spark, ds, tmp_path)

    def _persistent_rdd_ids() -> set:
        # IDs (not count): the ContextCleaner can reap a stale block
        # from an EARLIER test mid-assertion, so count equality is
        # flaky in full-suite runs; "no NEW ids" is the leak check we
        # mean (same fix as test_sessions._persistent_rdd_ids).
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {rdd.id() for rdd in jmap.values()}

    before = _persistent_rdd_ids()
    ds.append(spark.createDataFrame([("a",), ("b",)], "s string"), ref)
    ds.merge(spark.createDataFrame([("a",), ("c",)], "s string"), ref,
             MergeSpec(["s"], [], insert_when_not_matched=True))
    ds.overwrite(spark.createDataFrame([("z",)], "s string"), ref)
    assert _persistent_rdd_ids() <= before
    # the DV UPDATE path's pin is freed too (round-7 review #2)
    dref = TableRef(path=str(tmp_path / "dvu"))
    ds.append(spark.createDataFrame([(1, 1)], "pk int, v int")
              .coalesce(1), dref)
    ds.set_properties(dref, {DV_ENABLE_KEY: "true"})
    ds.update(dref, {"v": "v + 1"}, "pk = 1")
    assert _persistent_rdd_ids() <= before
    # and an ABORTED identity write frees its blocks (try/finally):
    # a CHECK constraint violation aborts inside _write_files
    ds.add_constraint(ref, "never", "s <> 'boom'")
    with pytest.raises(Exception, match="never"):
        ds.append(spark.createDataFrame([("boom",)], "s string"), ref)
    assert _persistent_rdd_ids() <= before
