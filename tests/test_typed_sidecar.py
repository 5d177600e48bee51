"""Typed-column checkpoint sidecar — the distributed metadata plane.

Large live sets checkpoint their adds with REAL typed columns (path /
size / num_records / pv::<phys> / min::<phys> / max::<phys>) alongside
the lossless ``add_json`` replay column (Delta's stats_parsed /
partitionValues_parsed checkpoint design, reference ingestion scale
story: etl/overwrite.py's partition discovery). Candidate selection —
DELETE/UPDATE/replaceWhere pruning, merge key-range skipping — reads
ONLY the typed columns it needs (column-pruned parquet IO, vectorized
compare), and snapshot resolution defers the per-add json.loads until
a flow truly needs the dicts: a metadata-only operation on a table of
millions of files never deserializes an add action.
"""

import json
import os
import shutil
from datetime import date
from decimal import Decimal

import pytest
from pyspark.sql import functions as F, types as T

import x_spark.sources.txlog as tx
from x_spark.sources import init_datasource
from x_spark.sources.base import TableRef
from x_spark.sources.txlog import (
    CHECKPOINT_INTERVAL,
    LazyAdds,
    Snapshot,
    _list_log,
    resolve_snapshot,
)


@pytest.fixture()
def ds(spark):
    return init_datasource("txlog", spark)


SCHEMA = ("pk int, part string, price decimal(10,2), score double, "
          "name string, d date")


def _mk_rows(lo, hi, part="a"):
    return [
        (i, part, Decimal(f"{i}.50"), i * 1.5, f"n{i:04d}",
         date(2024, 1, 1 + i % 27))
        for i in range(lo, hi)
    ]


@pytest.fixture(scope="module")
def sidecar_template(spark, tmp_path_factory):
    """A table whose latest checkpoint is a TYPED sidecar: lowered
    sidecar threshold, CHECKPOINT_INTERVAL appends of disjoint pk
    ranges (one file each), plus tail commits past the checkpoint.
    Built once per module (22 Spark writes); each test gets its own
    copy from :func:`_sidecar_table`."""
    ds = init_datasource("txlog", spark)
    ref = TableRef(path=str(tmp_path_factory.mktemp("sidecar") / "t"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tx, "CHECKPOINT_PARQUET_MIN", 2)
        ds.create(ref, T._parse_datatype_string(SCHEMA),
                  partition_by=["part"])
        for b in range(CHECKPOINT_INTERVAL + 2):  # 2 tail commits
            ds.append(
                spark.createDataFrame(
                    _mk_rows(b * 10, b * 10 + 5, part=f"p{b % 3}"), SCHEMA
                ).coalesce(1),
                ref,
            )
    return ref.path


def _sidecar_table(template, tmp_path, monkeypatch):
    """A private copy of the sidecar table (file paths in the log are
    table-relative; ``shutil.copy`` gives the copies fresh mtimes, as
    a just-built table has), with the lowered sidecar threshold in
    force for the test's own commits."""
    monkeypatch.setattr(tx, "CHECKPOINT_PARQUET_MIN", 2)
    path = str(tmp_path / "t")
    shutil.copytree(template, path, copy_function=shutil.copy)
    return TableRef(path=path)


def test_typed_sidecar_columns_written(spark, ds, sidecar_template, tmp_path,
                                       monkeypatch):
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    log = os.path.join(ref.path, "_txlog")
    _, checkpoints = _list_log(ref.path)
    with open(os.path.join(log, checkpoints[-1])) as fh:
        ck = json.load(fh)
    assert "addsParquet" in ck
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(log, ck["addsParquet"]))
    names = set(t.column_names)
    assert {"path", "size", "num_records", "add_json",
            "pv::part", "min::pk", "max::pk", "min::score",
            "max::score", "min::name", "max::name", "min::price",
            "max::price", "min::d", "max::d"} <= names
    # typed values agree with the replay-truth add_json
    rows = t.to_pylist()
    for r in rows:
        a = json.loads(r["add_json"])
        assert r["path"] == a["path"]
        assert r["num_records"] == int(a["numRecords"])
        assert r["pv::part"] == a["partitionValues"]["part"]
        mins = (a.get("stats") or {}).get("minValues") or {}
        assert r["min::pk"] == mins.get("pk")
        # decimal/date stats carry as their JSON string serialization
        if mins.get("price") is not None:
            assert r["min::price"] == str(mins["price"])


def test_snapshot_is_lazy_and_mapping_complete(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    snap = resolve_snapshot(ref.path)
    files = snap.files
    assert isinstance(files, LazyAdds)
    n = CHECKPOINT_INTERVAL + 2
    # Mapping surface without materialization
    assert len(files) == n
    assert sorted(files)  # iterable
    some = next(iter(files))
    assert some in files
    assert files._full is None, "len/iter/contains must not parse adds"
    # dict-style access materializes and agrees with add_json truth
    add = files[some]
    assert add["path"] == some
    assert dict(files)  # full Mapping conversion works
    assert set(dict(files)) == set(files)


def test_zero_candidate_delete_never_parses_adds(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    """The scale win, pinned: a DELETE whose predicate prunes to zero
    candidates completes without deserializing a single add action —
    candidate selection ran entirely on the typed sidecar columns."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)

    def boom(self):
        raise AssertionError("add dicts materialized on a "
                             "metadata-only path")

    monkeypatch.setattr(LazyAdds, "_materialize", boom)
    before = ds.read(ref).count()
    ds.delete(ref, "pk = 99999999")  # no file's [min,max] holds it
    monkeypatch.undo()
    assert ds.read(ref).count() == before


def test_pruning_reads_are_column_pruned(spark, ds, sidecar_template, tmp_path,
                                         monkeypatch):
    """Candidate selection reads the SIDECAR, not the JSON log, and
    only the columns the predicate needs — never add_json."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    snap = resolve_snapshot(ref.path)
    import pyarrow.parquet as pq

    calls = []
    real = pq.read_table

    def spy(path, columns=None, **kw):
        calls.append((str(path), columns))
        return real(path, columns=columns, **kw)

    monkeypatch.setattr(pq, "read_table", spy)
    got = ds._files_matching_predicate(ref.path, snap, "pk = 3")
    monkeypatch.undo()
    side_calls = [c for p, c in calls if p.endswith(".adds.parquet")]
    assert side_calls, "pruning did not read the sidecar"
    for cols in side_calls:
        assert cols is not None and "add_json" not in cols
    assert any("min::pk" in (c or []) for c in side_calls)
    assert len(got) == 1  # pk=3 lives in exactly the first file


def _dict_twin(snap):
    """The same snapshot with a plain-dict live set — the fallback
    metadata path — for typed-vs-dict equivalence checks."""
    return Snapshot(snap.version, snap.schema_json, snap.partition_cols,
                    dict(snap.files), snap.configuration,
                    row_id_high=snap.row_id_high)


PREDICATES = [
    "pk = 3",
    "pk = -1",
    "pk >= 200",
    "pk < 12",
    "pk <= 10 AND score > 1.0",
    "pk IN (3, 47, 10000)",
    "name = 'n0003'",
    "name >= 'n0200'",
    "score < 3.0",
    "score = 4.5",
    "part = 'p0'",
    "part = 'p0' AND pk < 30",
    "price = 3.50",            # decimal: literal-kind gate refuses, full set
    "d = '2024-01-04'",        # quoted lit on date col: refused, full set
    "pk = 3 OR pk = 47",       # top-level OR: stats pass keeps all
    "pk = 1 AND name = 'n0001' AND score < 100.0",
]


def test_typed_and_dict_pruning_agree(spark, ds, sidecar_template, tmp_path,
                                      monkeypatch):
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    lazy = resolve_snapshot(ref.path)
    twin = _dict_twin(lazy)
    for pred in PREDICATES:
        a = ds._files_matching_predicate(ref.path, lazy, pred)
        b = ds._files_matching_predicate(ref.path, twin, pred)
        assert a == b, f"typed/dict divergence for {pred!r}"


def test_typed_and_dict_key_overlap_agree(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    lazy = resolve_snapshot(ref.path)
    twin = _dict_twin(lazy)
    sources = {
        "pk": spark.createDataFrame([(3,), (47,)], "pk int"),
        "name": spark.createDataFrame([("n0003",)], "name string"),
        "price": spark.createDataFrame(
            [(Decimal("3.50"),)], "price decimal(10,2)"),
        "d": spark.createDataFrame([(date(2024, 1, 4),)], "d date"),
        "score": spark.createDataFrame([(4.5,)], "score double"),
    }
    for key, src in sources.items():
        a = ds._files_overlapping_keys(src, lazy, key)
        b = ds._files_overlapping_keys(src, twin, key)
        assert sorted(a) == sorted(b), f"divergence on key {key!r}"
    # and the int path actually prunes: the [3, 47] key range overlaps
    # files [0-4],[10-14],[20-24],[30-34],[40-44] — not the other 17
    assert len(ds._files_overlapping_keys(sources["pk"], lazy, "pk")) == 5


def test_delete_correct_through_typed_plane(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    """End-to-end: a point DELETE on a sidecar-backed table rewrites
    only the one candidate file and removes exactly the row."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    before = {p: a for p, a in resolve_snapshot(ref.path).files.items()}
    n0 = ds.read(ref).count()
    ds.delete(ref, "pk = 3")
    after = resolve_snapshot(ref.path).files
    assert ds.read(ref).count() == n0 - 1
    assert ds.read(ref).filter("pk = 3").count() == 0
    untouched = [p for p in before if p in after]
    assert len(before) - len(untouched) == 1  # one file rewritten


def test_pre_typed_sidecar_still_resolves_and_upgrades(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    """A sidecar from the pre-typed layout (add_json only) still
    resolves — and clean_log's floor refresh upgrades it in place."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    log = os.path.join(ref.path, "_txlog")
    _, checkpoints = _list_log(ref.path)
    with open(os.path.join(log, checkpoints[-1])) as fh:
        ck = json.load(fh)
    side = os.path.join(log, ck["addsParquet"])
    import pyarrow as pa
    import pyarrow.parquet as pq

    old = pa.table({
        "add_json": pq.read_table(side, columns=["add_json"])
        .column("add_json")
    })
    pq.write_table(old, side)  # regress to the pre-typed layout
    n = CHECKPOINT_INTERVAL + 2
    assert ds.read(ref).count() == n * 5  # resolution still whole
    snap = resolve_snapshot(ref.path)
    assert ds._files_matching_predicate(
        ref.path, snap, "pk = 3"
    ) == ds._files_matching_predicate(ref.path, _dict_twin(snap), "pk = 3")
    # keep_last must leave the v20 checkpoint usable as the floor
    ds.clean_log(ref, keep_last=1, min_age_sec=0.0)
    names = set(pq.ParquetFile(side).schema_arrow.names)
    assert "path" in names and "min::pk" in names  # upgraded in place
    assert ds.read(ref).count() == n * 5


def test_tail_overrides_fold_into_meta(spark, ds, sidecar_template, tmp_path,
                                       monkeypatch):
    """Post-checkpoint commits (adds AND removes) are visible through
    the columnar metadata plane without a new checkpoint."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    # tail add: a fresh pk range far outside every sidecar file
    ds.append(
        spark.createDataFrame(_mk_rows(900, 905, part="p9"), SCHEMA)
        .coalesce(1), ref,
    )
    snap = resolve_snapshot(ref.path)
    assert isinstance(snap.files, LazyAdds)
    got = ds._files_matching_predicate(ref.path, snap, "pk = 901")
    assert len(got) == 1
    # the tail file is the match; delete leaves everything else alone
    ds.delete(ref, "pk >= 900")
    assert ds.read(ref).filter("pk >= 900").count() == 0
    snap2 = resolve_snapshot(ref.path)
    # removed tail file no longer a candidate anywhere
    assert ds._files_matching_predicate(ref.path, snap2, "pk = 901") == []


def test_partition_values_prune_from_typed_columns(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    snap = resolve_snapshot(ref.path)
    got = ds._files_matching_predicate(ref.path, snap, "part = 'p1'")
    pvs = {
        (snap.files[p].get("partitionValues") or {}).get("part")
        for p in got
    }
    assert pvs == {"p1"}
    n_p1 = sum(
        1 for p in snap.files
        if (snap.files[p].get("partitionValues") or {}).get("part") == "p1"
    )
    assert len(got) == n_p1


def test_replace_where_overwrite_on_sidecar_table(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    """The reference's flagship overwrite shape (partition-scoped
    replaceWhere, etl/overwrite.py:27-33) through the typed plane."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    n0 = ds.read(ref).count()
    other = ds.read(ref).filter("part <> 'p1'").count()
    repl = spark.createDataFrame(_mk_rows(5000, 5003, part="p1"), SCHEMA)
    ds.overwrite(repl, ref, replace_where="part = 'p1'")
    assert ds.read(ref).filter("part <> 'p1'").count() == other
    assert ds.read(ref).filter("part = 'p1'").count() == 3
    assert ds.read(ref).count() == other + 3 != n0


# -- OR-of-conjuncts stats skipping (Delta's disjunction rule) ---------------
# file b holds pk in [10b, 10b+4], names n{pk:04d}, b = 0..21


def _cands(ds, ref, pred):
    snap = resolve_snapshot(ref.path)
    return ds._files_matching_predicate(ref.path, snap, pred)


def test_or_pruning_point_disjuncts(spark, ds, sidecar_template, tmp_path,
                                    monkeypatch):
    """The reference's own generated replaceWhere shape — OR of
    per-partition-tuple equalities (etl/overwrite.py:27-33) — prunes:
    a file is excluded when EVERY disjunct is provably false."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    got = _cands(ds, ref, "pk = 3 OR pk = 47")
    # pk=3 -> file [0,4]; pk=47 falls in no file's [min,max]
    assert len(got) == 1
    got = _cands(ds, ref, "pk < 5 OR pk >= 200")
    assert len(got) == 3  # [0,4] plus [200,204], [210,214]
    got = _cands(ds, ref, "((pk = 3) OR (pk = 47))")  # wrapped parens
    assert len(got) == 1


def test_or_pruning_mixed_and_or_nesting(spark, ds, sidecar_template, tmp_path,
                                         monkeypatch):
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    got = _cands(
        ds, ref,
        "(pk < 5 AND name = 'n0001') OR (pk >= 100 AND pk < 105)",
    )
    assert len(got) == 2  # file [0,4] and file [100,104]
    # SQL precedence: a OR b AND c  ==  a OR (b AND c); the name
    # conjunct falsifies the second disjunct for file [30,34]
    got = _cands(ds, ref, "pk = 3 OR pk = 30 AND name = 'zzzz'")
    assert len(got) == 1
    got = _cands(ds, ref, "pk <= 10 OR name >= 'n0200'")
    assert len(got) == 4  # [0,4], [10,14] + the two name-range files


def test_or_pruning_unparsable_branch_disables(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    """A disjunct stats cannot falsify (IS NULL, functions, NULL
    literals) poisons the whole OR — every file stays a candidate."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    snap = resolve_snapshot(ref.path)
    n = len(snap.files)
    assert len(_cands(ds, ref, "pk = 3 OR pk IS NULL")) == n
    assert len(_cands(ds, ref, "pk = 3 OR abs(pk) = 47")) == n
    assert len(_cands(ds, ref, "pk = 3 OR score = NULL")) == n
    # but the PARTITION-VALUE pass still applies to partition ORs
    got = _cands(ds, ref, "part = 'p0' OR part = 'p1'")
    pvs = {
        (snap.files[p].get("partitionValues") or {}).get("part")
        for p in got
    }
    assert pvs == {"p0", "p1"}


def test_or_pruning_delete_end_to_end(spark, ds, sidecar_template, tmp_path,
                                      monkeypatch):
    """Correctness under the new skipping: OR-predicate DELETE removes
    exactly the matching rows and rewrites only candidate files."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    before = ds.read(ref).collect()
    expect_gone = {r.pk for r in before if r.pk < 5 or r.pk >= 200}
    files_before = set(resolve_snapshot(ref.path).files)
    ds.delete(ref, "pk < 5 OR pk >= 200")
    after = ds.read(ref).collect()
    assert {r.pk for r in before} - {r.pk for r in after} == expect_gone
    files_after = set(resolve_snapshot(ref.path).files)
    # only the 3 candidate files were dropped/rewritten
    assert len(files_before - files_after) == 3


def test_or_pruning_typed_and_dict_agree(spark, ds, sidecar_template, tmp_path,
                                         monkeypatch):
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    lazy = resolve_snapshot(ref.path)
    twin = _dict_twin(lazy)
    for pred in [
        "pk = 3 OR pk = 47",
        "(pk < 5 AND name = 'n0001') OR (pk >= 100 AND pk < 105)",
        "pk = 3 OR pk IS NULL",
        "pk <= 10 OR name >= 'n0200'",
        "part = 'p0' OR pk > 150",
    ]:
        a = ds._files_matching_predicate(ref.path, lazy, pred)
        b = ds._files_matching_predicate(ref.path, twin, pred)
        assert a == b, f"typed/dict divergence for {pred!r}"


# -- round-10: partition-predicate pre-check (log-clean no-pruning path) -----


def test_partition_only_predicate_precheck():
    from x_spark.sources.txlog import _partition_only_predicate as p

    # partition-only shapes: pruning pass may run
    assert p("part = 'a'", ["part"])
    assert p("part IN ('a', 'b') AND d = 3", ["Part", "d"])
    assert p("`part` = 'a' OR part IS NULL", ["part"])
    assert p("year(part) = 2024", ["part"])  # function names skipped
    assert p("CAST(part AS INT) BETWEEN 1 AND 2", ["part"])
    assert p("part LIKE 'a%' AND NOT (part = 'b')", ["part"])
    # non-partition references: skip pruning BEFORE JVM analysis
    assert not p("pk = 3", ["part"])
    assert not p("part = 'a' AND pk < 5", ["part"])
    assert not p("t.part = 'a'", ["part"])  # qualified: frame is bare
    assert not p("upper(name) = 'X'", ["part"])


def test_non_partition_predicate_skips_jvm_partition_eval(
        spark, ds, sidecar_template, tmp_path, monkeypatch):
    """A predicate over non-partition columns must take the no-pruning
    path WITHOUT evaluating against a partition-tuple frame (pre-fix
    that evaluation failed analysis and logged an ERROR stack trace
    per occurrence)."""
    ref = _sidecar_table(sidecar_template, tmp_path, monkeypatch)
    snap = resolve_snapshot(ref.path)
    stats_only = ds._files_matching_predicate(ref.path, snap, "pk = 3")

    def boom(*a, **k):
        raise AssertionError("partition eval must not reach the JVM")

    monkeypatch.setattr(ds.spark, "createDataFrame", boom)
    got = ds._files_matching_predicate(ref.path, snap, "pk = 3")
    assert got == stats_only  # stats skipping unaffected, no JVM eval
