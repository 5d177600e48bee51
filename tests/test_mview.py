"""MATERIALIZED VIEW DDL + transparent aggregate routing
(sources/mview.py, dispatched through the txlog SQL surface)."""

import pytest
from pyspark.sql import functions as F

from x_spark.sources import init_datasource
from x_spark.errors import DataSourceException
from x_spark.sources.base import TableRef
from x_spark.sources.mview import parse_agg_select as _parse
from x_spark.sources.sql_dml import Statement


@pytest.fixture()
def ds(spark):
    return init_datasource("txlog", spark)


@pytest.fixture()
def base(spark, ds, tmp_path, monkeypatch):
    # isolate the warehouse registries (names/views/mviews files)
    monkeypatch.setattr(
        ds.__class__, "_names_file",
        lambda self: str(tmp_path / "_txlog_names.json"),
    )
    name = "mv_sales"
    ref = TableRef(table=name)
    df = spark.createDataFrame(
        [(1, "a", "x", 10.0), (2, "a", "y", 20.0), (3, "b", "x", 30.0),
         (4, "b", "y", 40.5)],
        "pk int, part string, grp string, v double",
    )
    ds.create(ref, df.schema)
    ds.append(df, ref)
    return name, ref


def _sql(ds, stmt):
    return ds._execute_statement(stmt)


# -- parser ------------------------------------------------------------
def test_parse_canonical_shapes(spark):
    def parse_agg_select(stmt):
        return _parse(Statement(spark, stmt))

    p = parse_agg_select(
        "SELECT part, count(*) AS n, sum(v) AS total, avg(v), max(v) "
        "FROM t GROUP BY part"
    )
    assert p["base"] == "t" and p["keys"] == ["part"]
    assert ("count", None, "n") in p["items"]
    assert ("avg", "v", "avg_v") in p["items"]  # default alias
    # WHERE over plain comparisons parses, with its columns enumerated
    p = parse_agg_select(
        "SELECT part, count(*) AS n FROM t "
        "WHERE grp = 'x' AND part IN ('a', 'b') GROUP BY part"
    )
    assert p["where_cols"] == ["grp", "part"]
    # a string literal can't fake an identifier
    p = parse_agg_select(
        "SELECT part, count(*) AS n FROM t WHERE grp = 'v max(zz)' "
        "GROUP BY part"
    )
    assert p["where_cols"] == ["grp"]
    # functions in WHERE -> not canonical
    assert parse_agg_select(
        "SELECT part, count(*) AS n FROM t WHERE upper(grp) = 'X' "
        "GROUP BY part"
    ) is None
    # not canonical: join / expression / no measures
    assert parse_agg_select("SELECT part FROM t GROUP BY part") is None
    assert parse_agg_select("SELECT part, v + 1 FROM t GROUP BY part") is None
    assert parse_agg_select("SELECT count(*) FROM a JOIN b GROUP BY k") is None


# -- lifecycle ---------------------------------------------------------
def test_create_refresh_read_drop(spark, ds, base):
    name, ref = base
    _sql(ds, f"CREATE MATERIALIZED VIEW daily AS SELECT part, count(*) AS n,"
             f" sum(v) AS total FROM {name} GROUP BY part")
    # read by name serves the materialized state
    got = {r.part: (r.n, float(r.total))
           for r in _sql(ds, "SELECT part, n, total FROM daily").collect()}
    assert got == {"a": (2, 30.0), "b": (2, 70.5)}
    # base moves on; MV read stays at last refresh
    ds.append(spark.createDataFrame([(5, "b", "x", 9.5)],
                                    "pk int, part string, grp string, v double"),
              ref)
    got = {r.part: r.n for r in _sql(ds, "SELECT part, n FROM daily").collect()}
    assert got["b"] == 2
    [(v,)] = _sql(ds, "REFRESH MATERIALIZED VIEW daily").collect()
    assert v == 2
    got = {r.part: (r.n, float(r.total))
           for r in _sql(ds, "SELECT part, n, total FROM daily").collect()}
    assert got["b"] == (3, 80.0)
    listing = {r.name: (r.base, r.staleness)
               for r in _sql(ds, "SHOW MATERIALIZED VIEWS").collect()}
    assert listing["daily"] == (name, 0)
    desc = {r.col_name: r.data_type
            for r in _sql(ds, "DESCRIBE MATERIALIZED VIEW daily").collect()}
    assert desc["# base"] == name and "GROUP BY part" in desc["# definition"]
    _sql(ds, "DROP MATERIALIZED VIEW daily")
    assert "daily" not in {r.name for r in ds.mviews.listing().collect()}
    with pytest.raises(DataSourceException):
        _sql(ds, "DROP MATERIALIZED VIEW daily")  # no IF EXISTS
    _sql(ds, "DROP MATERIALIZED VIEW IF EXISTS daily")  # no-op


def test_create_guards(spark, ds, base):
    name, ref = base
    with pytest.raises(DataSourceException, match="canonical"):
        ds.mviews.create("m1", f"SELECT part, count(*) FROM {name}"
                               " WHERE v > 1 GROUP BY part")
    with pytest.raises(DataSourceException, match="not a registered"):
        ds.mviews.create("m1", "SELECT k, count(*) FROM nosuch GROUP BY k")
    with pytest.raises(DataSourceException, match="unknown column"):
        ds.mviews.create("m1", f"SELECT part, sum(zz) AS s FROM {name}"
                               " GROUP BY part")
    ds.mviews.create("m1", f"SELECT part, count(*) AS n FROM {name}"
                           " GROUP BY part")
    with pytest.raises(DataSourceException, match="already exists"):
        ds.mviews.create("m1", f"SELECT part, count(*) AS n FROM {name}"
                               " GROUP BY part")
    # OR REPLACE rebuilds
    _sql(ds, f"CREATE OR REPLACE MATERIALIZED VIEW m1 AS SELECT grp,"
             f" count(*) AS n FROM {name} GROUP BY grp")
    assert {r.grp for r in _sql(ds, "SELECT grp, n FROM m1").collect()} == {"x", "y"}
    # name collision guards in both directions
    with pytest.raises(DataSourceException, match="MATERIALIZED"):
        ds.create_view("m1", f"SELECT * FROM {name}")
    with pytest.raises(DataSourceException):
        ds.mviews.create(name, f"SELECT part, count(*) AS n FROM {name}"
                               " GROUP BY part")


# -- transparent routing ----------------------------------------------
def test_select_over_base_routes_and_auto_refreshes(spark, ds, base):
    name, ref = base
    _sql(ds, f"CREATE MATERIALIZED VIEW m2 AS SELECT part, grp,"
             f" count(*) AS n, sum(v) AS total, min(v) AS lo, max(v) AS hi"
             f" FROM {name} GROUP BY part, grp")
    ds.append(spark.createDataFrame([(6, "c", "z", 1.0)],
                                    "pk int, part string, grp string, v double"),
              ref)
    stmt = (f"SELECT part, count(*) AS n, sum(v) AS total FROM {name} "
            f"GROUP BY part")
    routed = ds.mviews.route_select(stmt)
    assert routed is not None
    got = {r.part: (r.n, float(r.total)) for r in routed.collect()}
    # includes the post-MV append: the route refreshed the stale view
    assert got["c"] == (1, 1.0)
    assert got["a"] == (2, 30.0)
    # the routed plan reads the MV's aggregate table, not the base
    files = routed.inputFiles()
    assert files and all("_txlog_mviews" in f for f in files)
    # _execute_statement end-to-end: same answer as pass-through SQL
    via_sql = {r.part: (r.n, float(r.total))
               for r in _sql(ds, stmt).collect()}
    assert via_sql == got


def test_non_coverable_selects_keep_ordinary_plan(spark, ds, base):
    name, ref = base
    _sql(ds, f"CREATE MATERIALIZED VIEW m3 AS SELECT part, count(*) AS n"
             f" FROM {name} GROUP BY part")
    # measure not maintained (sum) -> not routed, still correct
    assert ds.mviews.route_select(
        f"SELECT part, sum(v) AS s FROM {name} GROUP BY part"
    ) is None
    got = {r.part: float(r.s) for r in _sql(
        ds, f"SELECT part, sum(v) AS s FROM {name} GROUP BY part"
    ).collect()}
    assert got["a"] == 30.0
    # WHERE clause -> not canonical, pass-through untouched
    assert ds.mviews.route_select(
        f"SELECT part, count(*) AS n FROM {name} WHERE v > 15 GROUP BY part"
    ) is None
    got = {r.part: r.n for r in _sql(
        ds, f"SELECT part, count(*) AS n FROM {name} WHERE v > 15 GROUP BY part"
    ).collect()}
    assert got == {"a": 1, "b": 2}


def test_where_on_view_keys_routes(spark, ds, base):
    name, ref = base
    _sql(ds, f"CREATE MATERIALIZED VIEW m5 AS SELECT part, grp,"
             f" count(*) AS n, sum(v) AS total FROM {name}"
             f" GROUP BY part, grp")
    # predicate over a NON-grouped view key: commutes with the rollup
    stmt = (f"SELECT part, count(*) AS n, sum(v) AS total FROM {name} "
            f"WHERE grp = 'x' GROUP BY part")
    routed = ds.mviews.route_select(stmt)
    assert routed is not None
    assert all("_txlog_mviews" in f for f in routed.inputFiles())
    got = {r.part: (r.n, float(r.total)) for r in routed.collect()}
    assert got == {"a": (1, 10.0), "b": (1, 30.0)}
    # same answer end-to-end and from the ordinary pass-through plan
    assert got == {r.part: (r.n, float(r.total))
                   for r in _sql(ds, stmt).collect()}
    # predicate over a NON-key column: not routable, pass-through
    assert ds.mviews.route_select(
        f"SELECT part, count(*) AS n FROM {name} WHERE pk > 2 GROUP BY part"
    ) is None


def test_escaped_quote_literal_does_not_hide_a_where_column(spark, ds, base):
    """``v`` sits between two backslash-escaped quotes: the WHERE's
    columns come from Spark's parse, so ``v`` (not a view dim) keeps
    the query on its ordinary plan instead of filtering the view."""
    name, ref = base
    ds.append(spark.createDataFrame(
        [(5, "b", "a'", 20.0)], "pk int, part string, grp string, v double"),
        ref)
    _sql(ds, f"CREATE MATERIALIZED VIEW daily AS SELECT part, grp,"
             f" count(*) AS n FROM {name} GROUP BY part, grp")
    where = "grp = 'a\\'' AND v > 15 AND grp <> '\\''"
    stmt = f"SELECT part, count(*) AS n FROM {name} WHERE {where} GROUP BY part"
    expected = sorted(map(tuple, ds.read(ref).where(where).groupBy("part")
                          .agg(F.count("*").alias("n")).collect()))
    assert expected == [("b", 1)]
    assert ds.mviews.route_select(stmt) is None
    assert sorted(map(tuple, _sql(ds, stmt).collect())) == expected


def test_registry_persists_across_sessions(spark, ds, base):
    name, ref = base
    ds.mviews.create("m4", f"SELECT grp, count(*) AS n FROM {name}"
                           " GROUP BY grp")
    ds2 = init_datasource("txlog", spark)  # fresh datasource instance
    assert "m4" in ds2.mviews.specs()
    got = {r.grp: r.n for r in ds2.mviews.frame("m4").collect()}
    assert got == {"x": 2, "y": 2}


def test_refresh_after_delete_minmax_rescan(spark, ds, base):
    """DELETE through the SQL surface, then REFRESH: the min/max
    targeted-rescan path must land the survivors' true extrema in the
    materialized state."""
    name, ref = base
    _sql(ds, f"CREATE MATERIALIZED VIEW m6 AS SELECT part, count(*) AS n,"
             f" min(v) AS lo, max(v) AS hi FROM {name} GROUP BY part")
    # delete both extremes of part 'b' (30.0 and 40.5 -> none left
    # except... pk 3 v=30.0, pk 4 v=40.5; delete pk=4 removes the max)
    _sql(ds, f"DELETE FROM {name} WHERE pk = 4")
    _sql(ds, "REFRESH MATERIALIZED VIEW m6")
    got = {r.part: (r.n, r.lo, r.hi)
           for r in _sql(ds, "SELECT part, n, lo, hi FROM m6").collect()}
    assert got["b"] == (1, 30.0, 30.0)
    assert got["a"] == (2, 10.0, 20.0)


def test_failed_initial_build_is_retryable(spark, ds, base):
    """A definition whose materialization fails (sum over a string
    column) must not leave a half-built aggregate table blocking the
    corrected retry."""
    name, ref = base
    with pytest.raises(Exception):
        ds.mviews.create("m7", f"SELECT part, sum(grp) AS s FROM {name}"
                               " GROUP BY part")
    assert "m7" not in ds.mviews.specs()
    ds.mviews.create("m7", f"SELECT part, sum(v) AS s FROM {name}"
                           " GROUP BY part")
    got = {r.part: float(r.s) for r in ds.mviews.frame("m7").collect()}
    assert got == {"a": 30.0, "b": 70.5}
