"""txlog predicates read from Spark's parse tree (``sql_dml.expression``
and its readers): footer-stats pruning stays sound on every literal the
grammar accepts and prunes the comparisons it reads, the MERGE key
survives names that need quoting, and SQL conditions keep their text."""

import pytest
from hypothesis import given, settings, strategies as st

from x_spark.sources import init_datasource
from x_spark.sources.base import MergeSpec, TableRef
from x_spark.sources.txlog import resolve_snapshot


@pytest.fixture(scope="module")
def ds(spark):
    return init_datasource("txlog", spark)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_escaped_quote_literal_does_not_prune_its_row(spark, ds, tmp_path):
    """The literal ``'a\\' AND t = 5 AND b = '`` holds no ``t = 5``
    conjunct: the file with the matching row stays a candidate."""
    ref = TableRef(path=str(tmp_path / "t"))
    schema = "s string, t int"
    ds.create(ref, spark.createDataFrame([], schema).schema)
    ds.append(spark.createDataFrame([("a' AND t = 5 AND b = ", 1)], schema), ref)
    ds.append(spark.createDataFrame([("q", 5)], schema), ref)
    pred = "s = 'a\\' AND t = 5 AND b = '"
    assert ds.read(ref).where(pred).count() == 1
    ds.delete(ref, pred)
    assert _rows(ds.read(ref)) == [("q", 5)]


def test_merge_spec_key_that_needs_quoting(spark, ds, tmp_path):
    ref = TableRef(path=str(tmp_path / "q"))
    schema = "`order id` int, v int"
    ds.create(ref, spark.createDataFrame([], schema).schema)
    ds.append(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], schema), ref)
    ds.merge(spark.createDataFrame([(2, 99)], schema), ref,
             MergeSpec(["order id"], ["v"]))
    assert _rows(ds.read(ref)) == [(1, 10), (2, 99), (3, 30)]
    ds.merge(spark.createDataFrame([(3, 33), (4, 40)], schema), ref,
             MergeSpec(["order id"], ["v"], insert_when_not_matched=True))
    assert _rows(ds.read(ref)) == [(1, 10), (2, 99), (3, 33), (4, 40)]


def test_sql_conditions_rooted_at_a_predicate_keyword(spark, ds, tmp_path,
                                                      monkeypatch):
    """Spark's origin of ``k IN (...)`` / ``k BETWEEN ...`` starts at the
    keyword; the condition text must still start at ``k``."""
    monkeypatch.setattr(ds.__class__, "_names_file",
                        lambda self: str(tmp_path / "_txlog_names.json"))
    ds.sql("CREATE TABLE kin (k int, v int) USING txlog")
    ds.sql("INSERT INTO kin VALUES (1, 1), (2, 2), (3, 3)")
    ds.sql("UPDATE kin SET v = 10 WHERE k IN (1, 2)")
    assert _rows(ds.sql("SELECT * FROM kin")) == [(1, 10), (2, 10), (3, 3)]
    ds.sql("DELETE FROM kin WHERE k BETWEEN 2 AND 3")
    assert _rows(ds.sql("SELECT * FROM kin")) == [(1, 10)]


# -- pruning soundness over one four-file table --------------------------

# per file: partition value, then (pk, s) rows; string ranges are
# disjoint across files and hold quotes, backslashes and SQL-like text
_FILES = [
    ("a", [(0, "x"), (1, "x'y"), (2, "x\\y"), (3, "x"),
           (4, "xa' AND pk = 5 AND b = ")]),
    ("b", [(10, "q"), (11, "q'"), (12, "q\\"), (13, "q''"), (14, "qq")]),
    ("a", [(20, "a"), (21, "a b"), (22, 'a"b'), (23, "a'"), (24, "ab")]),
    ("b", [(30, "it's"), (31, "it''s"), (32, "i\\'"), (33, None),
           (34, "iz")]),
]
_STRINGS = sorted({s for _, rows in _FILES for _, s in rows if s}
                  | {"", "b", "zz", "a'"})


@pytest.fixture(scope="module")
def table(spark, ds, tmp_path_factory):
    """(table path, snapshot, one row per table row tagged with its
    file) for the four-file table partitioned by ``part``."""
    ref = TableRef(path=str(tmp_path_factory.mktemp("prune") / "t"))
    schema = "pk int, s string, part string"
    ds.create(ref, spark.createDataFrame([], schema).schema,
              partition_by=["part"])
    for part, rows in _FILES:
        ds.append(spark.createDataFrame(
            [(pk, s, part) for pk, s in rows], schema).coalesce(1), ref)
    snap = resolve_snapshot(ref.path)
    assert len(snap.files) == 4
    tagged = [tuple(r) + (p,) for p in snap.files
              for r in ds._read_for_rewrite(ref.path, snap, [p]).collect()]
    rows = spark.createDataFrame(tagged, schema + ", __file string")
    return ref.path, snap, rows.localCheckpoint()


def _sql_string(value: str, style: str) -> str:
    body = value.replace("\\", "\\\\")
    if style == "double":
        return '"' + body.replace('"', '\\"') + '"'
    if style == "doubled":
        return "'" + body.replace("'", "''") + "'"
    return "'" + body.replace("'", "\\'") + "'"


@st.composite
def _atoms(draw):
    col = draw(st.sampled_from(["pk", "s", "part"]))
    op = draw(st.sampled_from(["=", "<", "<=", ">", ">=", "<>", "<=>"]))
    if col == "pk":
        lit = str(draw(st.integers(min_value=-3, max_value=40)))
    else:
        lit = _sql_string(draw(st.sampled_from(_STRINGS)),
                          draw(st.sampled_from(["double", "doubled", "esc"])))
    if draw(st.integers(0, 9)) == 0:
        lit = "NULL"
    kind = draw(st.sampled_from(["cmp", "flip", "in", "null"]))
    if kind == "in":
        lits = [lit] + [str(draw(st.integers(-3, 40))) if col == "pk"
                        else _sql_string(draw(st.sampled_from(_STRINGS)),
                                         "doubled")
                        for _ in range(draw(st.integers(0, 2)))]
        return f"{col} IN ({', '.join(lits)})"
    if kind == "null":
        return f"{col} IS {draw(st.sampled_from(['', 'NOT ']))}NULL"
    return f"{lit} {op} {col}" if kind == "flip" else f"{col} {op} {lit}"


_predicates = st.recursive(
    _atoms(),
    lambda inner: st.one_of(
        st.tuples(inner, st.sampled_from(["AND", "OR"]), inner).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"),
        inner.map(lambda p: f"NOT ({p})"),
    ),
    max_leaves=4,
)


def _sound(ds, table, pred: str) -> set:
    path, snap, rows = table
    matching = {r[0] for r in rows.where(pred).select("__file")
                .distinct().collect()}
    candidates = set(ds._files_matching_predicate(path, snap, pred))
    assert matching <= candidates, pred
    return candidates


@settings(max_examples=30, deadline=None)
@given(pred=_predicates)
def test_pruning_never_drops_a_matching_file(ds, table, pred):
    _sound(ds, table, pred)


@pytest.mark.parametrize("pred", [
    "3 = pk",                    # operands flipped
    's = "x"',                   # double-quoted string literal
    "pk = 3 -- c\n OR pk = 4",   # a comment between the disjuncts
    "s IN ('x', \"x'y\")",
])
def test_pruning_reads_shapes_the_regex_missed(ds, table, pred):
    first = table[2].where("pk = 0").select("__file").first()[0]
    assert _sound(ds, table, pred) == {first}


# -- collated strings: binary footer stats never prune them --------------


def _collated_table(spark, ds, tmp_path, schema):
    ref = TableRef(path=str(tmp_path / "c"))
    ds.create(ref, spark.createDataFrame([], schema).schema)
    ds.append(spark.createDataFrame([("ABC", 1)], schema), ref)
    ds.append(spark.createDataFrame([("zzz", 2)], schema), ref)
    return ref


def test_collated_string_delete_keeps_its_candidate(spark, ds, tmp_path):
    """``'abc'`` equals ``'ABC'`` under UTF8_LCASE but sorts outside the
    file's binary [min, max]: the file must stay a candidate."""
    ref = _collated_table(spark, ds, tmp_path,
                          "s string collate utf8_lcase, t int")
    assert ds.read(ref).filter("s = 'abc'").count() == 1
    ds.delete(ref, "s = 'abc'")
    assert _rows(ds.read(ref)) == [("zzz", 2)]


def test_collated_string_merge_key_keeps_its_candidate(spark, ds, tmp_path):
    schema = "k string collate utf8_lcase, v int"
    ref = _collated_table(spark, ds, tmp_path, schema)
    ds.merge(spark.createDataFrame([("abc", 9)], schema), ref,
             MergeSpec(["k"], ["v"], insert_when_not_matched=True))
    assert _rows(ds.read(ref)) == [("ABC", 9), ("zzz", 2)]
