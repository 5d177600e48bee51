"""Persistent MATERIALIZED VIEWs over txlog tables, with transparent
aggregate routing on the pass-through SQL surface.

``CREATE MATERIALIZED VIEW mv AS SELECT <dims+measures> FROM base
GROUP BY <dims>`` registers an incrementally-maintained aggregate
(operators/ivm.AggregateView) in a warehouse-level registry file (the
metastore analogue the names/views files already use), materializes it
once, and from then on:

- ``REFRESH MATERIALIZED VIEW mv`` folds only the base versions
  committed since the last refresh (O(delta), exactly-once via the
  view's txn stamp);
- ``SELECT ... FROM mv`` reads the MATERIALIZED state as of its last
  refresh (Databricks/warehouse MV read semantics — explicit refresh,
  no hidden base scan);
- a canonical aggregate ``SELECT`` against the BASE table is
  transparently ROUTED through operators/view_router.ViewRouter to the
  cheapest covering MV — refreshed first if stale, so routed answers
  are exactly base-fresh — and falls back to the ordinary pass-through
  plan when no MV covers it. At 100 TB this turns repeated dashboard
  group-bys into O(groups) reads of maintained state.

The accepted shape is deliberately canonical, and it is read from
Spark's parse of the statement (an ``Aggregate`` plan over one
relation): ``SELECT items FROM one_table [WHERE cond] GROUP BY dims``
where every item is a bare dim column or ``count(*)`` /
``sum|avg|min|max(col)`` with an optional alias — exactly the algebra
AggregateView maintains (and the only shape for which view-serving is
provably lossless). A routed WHERE may only compare columns with
literals (AND/OR/NOT, comparisons, IN, IS [NOT] NULL, LIKE, BETWEEN);
a definition takes none. Anything else (HAVING, joins, expressions,
DISTINCT or FILTER aggregates, other aggregates) is not claimed and
keeps its ordinary plan.

No analogue exists in the reference engine; public designs this
follows: warehouse MV query rewrite, Mondrian aggregate tables,
Druid/Pinot rollups.
"""

from __future__ import annotations

import json
import os
import uuid

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, functions as F

from x_spark.sources.sql_dml import (
    Statement, column, column_refs, plain_name, tree,
)


def _norm(tok: str) -> str:
    tok = tok.strip()
    if tok.startswith("`") and tok.endswith("`"):
        tok = tok[1:-1]
    return tok.lower()


# node classes a routable WHERE may hold: column-vs-literal tests only,
# so filtering the view's rows is filtering the base rows
_PLAIN_WHERE = frozenset((
    "And", "Or", "Not", "EqualTo", "EqualNullSafe", "LessThan",
    "LessThanOrEqual", "GreaterThan", "GreaterThanOrEqual", "In", "IsNull",
    "IsNotNull", "Like", "UnresolvedAttribute", "Literal",
))


def _plain_where(e: dict) -> bool:
    """Every node of the WHERE tree is a column-vs-literal test."""
    ok = e["class"] in _PLAIN_WHERE or (e["class"] == "UnresolvedFunction"
                                        and e["nameParts"] == "[between]")
    return ok and all(map(_plain_where, e["children"]))


def _item(e: dict, keys: list[str]) -> tuple[str, str | None, str] | None:
    """One SELECT item as (kind, col, alias): a grouped column ("dim"),
    ``count(*)`` or ``sum|avg|min|max(col)``; None for anything else.
    (Spark parses ``count(*)`` as ``count(1)``; both count every row.)"""
    alias = e["name"].lower() if e["class"] == "Alias" else None
    if e["class"] in ("Alias", "UnresolvedAlias"):
        e = e["children"][0]
    col = column(e)
    if col is not None:
        col = col.lower()
        return ("dim", col, alias or col) if col in keys else None
    args = e["children"]
    if (e["class"] != "UnresolvedFunction" or len(args) != 1
            or e.get("isDistinct") or e.get("ignoreNulls")
            or e.get("orderingWithinGroup")):
        return None  # a FILTER clause is a second child
    op, (arg,) = (plain_name(e["nameParts"]) or "").lower(), args
    if op == "count" and (arg["class"], arg.get("value"),
                          arg.get("dataType")) == ("Literal", "1", "integer"):
        return "count", None, alias or "n_rows"
    col = (column(arg) or "").lower()
    if op in ("sum", "avg", "min", "max") and col:
        return op, col, alias or f"{op}_{col}"
    return None


def parse_agg_select(st: Statement, plan=None) -> dict | None:
    """The canonical aggregate SELECT read from its parsed plan (``plan``
    when given, else the statement's); None when it is anything else
    (the conservative no-claim answer — routing and MV creation both
    fall back rather than guess)."""
    if (st.kind if plan is None else plan.nodeName()) != "Aggregate":
        return None
    plan = st.plan if plan is None else plan
    try:
        agg = tree(json.loads(plan.toJSON()))
    except Py4JError:
        return None  # a plan Spark cannot print is not claimed
    rel, cond, where_cols = agg["children"][0], None, set()
    if rel["class"] == "Filter":
        cond, rel = tree(rel["condition"]), rel["children"][0]
        where_cols = column_refs(cond) if _plain_where(cond) else None
    base = (plain_name(rel["multipartIdentifier"])
            if rel["class"] == "UnresolvedRelation" else None)
    keys = [column(tree(g)) for g in agg["groupingExpressions"]]
    if base is None or None in keys or where_cols is None:
        return None
    keys = [k.lower() for k in keys]
    items = [_item(tree(a), keys) for a in agg["aggregateExpressions"]]
    if None in items or all(kind == "dim" for kind, *_ in items):
        return None  # not canonical, or no measures (a plain DISTINCT)
    where = st.text(plan.child().condition()) if cond else None
    return {"items": items, "base": base.lower(), "keys": keys,
            "where": where, "where_cols": sorted(c.lower() for c in where_cols)}


class MViewStore:
    """Registry + lifecycle for one warehouse's materialized views.
    Thin state: everything durable lives in the registry JSON and the
    per-MV txlog aggregate tables, so any session rediscovers the MVs
    (same recovery story as the names/views files)."""

    def __init__(self, ds):
        self.ds = ds

    # -- registry ------------------------------------------------------
    def _file(self) -> str:
        return os.path.join(
            os.path.dirname(self.ds._names_file()), "_txlog_mviews.json"
        )

    def specs(self) -> dict[str, dict]:
        f = self._file()
        if os.path.isfile(f):
            with open(f) as fh:
                return json.load(fh)
        return {}

    def _save(self, specs: dict[str, dict]) -> None:
        f = self._file()
        os.makedirs(os.path.dirname(f), exist_ok=True)
        tmp = f + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(specs, fh)
        os.replace(tmp, f)

    # -- lifecycle -----------------------------------------------------
    def create(self, name: str, definition: str | Statement,
               replace: bool = False) -> None:
        """Register and materialize ``definition``: the SELECT text, or
        the parsed ``CREATE MATERIALIZED VIEW ... AS SELECT`` statement
        (its query plan is read, not parsed again)."""
        from x_spark.errors import DataSourceException

        name = _norm(name)
        if isinstance(definition, Statement):
            st, plan = definition, definition.plan.query()
            definition = definition.plan.originalText()
        else:
            st, plan = Statement(self.ds.spark, definition), None
        parsed = parse_agg_select(st, plan)
        if parsed is None or parsed["where"]:
            raise DataSourceException(
                "materialized view definition must be the canonical "
                "aggregate shape: SELECT dims + count(*)/sum/avg/min/max "
                "measures FROM one txlog table GROUP BY dims (no WHERE "
                "— filters belong on the routed query, not the "
                "maintained state)"
            )
        if parsed["base"] not in self.ds._known_names():
            raise DataSourceException(
                f"materialized view base {parsed['base']!r} is not a "
                "registered txlog table"
            )
        if (name in self.ds._known_names() or name in self.ds._known_views()
                or name in self.ds._temp_views()):
            raise DataSourceException(
                f"{name!r} is already a txlog table or view — pick "
                "another materialized view name"
            )
        specs = self.specs()
        if name in specs and not replace:
            raise DataSourceException(
                f"materialized view {name!r} already exists"
            )
        from x_spark.sources.base import TableRef

        base_ref = TableRef(table=parsed["base"])
        base_cols = {f.name.lower() for f in self.ds.read(base_ref).schema.fields}
        sums, minmax = [], []
        for kind, col, _alias in parsed["items"]:
            if kind == "dim" or kind == "count":
                continue
            if col not in base_cols:
                raise DataSourceException(
                    f"unknown column {col!r} in materialized view measures"
                )
            if kind in ("sum", "avg") and col not in sums:
                sums.append(col)
            if kind in ("min", "max") and col not in minmax:
                minmax.append(col)
        for col in parsed["keys"]:
            if col not in base_cols:
                raise DataSourceException(
                    f"unknown GROUP BY column {col!r} in materialized view"
                )
        path = os.path.join(
            os.path.dirname(self.ds._names_file()), "_txlog_mviews", name
        )
        spec = {
            "base": parsed["base"], "keys": parsed["keys"], "sums": sums,
            "minmax": minmax, "items": parsed["items"], "path": path,
            "definition": definition,
        }
        if name in specs and replace:
            self.drop(name, if_exists=True)
            specs = self.specs()
        view = self._view_of(spec)
        try:
            view.refresh()  # initial materialization (full CDF fold)
        except Exception:
            # a half-built aggregate table would block the retry (its
            # CREATE commit already landed) — reap it so a failed
            # definition can be corrected and re-issued
            import shutil

            shutil.rmtree(path, ignore_errors=True)
            raise
        specs[name] = spec
        self._save(specs)

    def _view_of(self, spec: dict):
        from x_spark.operators.ivm import AggregateView
        from x_spark.sources.base import TableRef

        return AggregateView(
            self.ds, TableRef(table=spec["base"]),
            TableRef(path=spec["path"]), keys=list(spec["keys"]),
            sums=list(spec["sums"]), minmax=list(spec["minmax"]),
        )

    def _spec(self, name: str) -> dict:
        from x_spark.errors import DataSourceException

        specs = self.specs()
        name = _norm(name)
        if name not in specs:
            raise DataSourceException(
                f"unknown materialized view {name!r}"
            )
        return specs[name]

    def refresh(self, name: str) -> int:
        return self._view_of(self._spec(name)).refresh()

    def drop(self, name: str, if_exists: bool = True) -> None:
        import shutil

        name = _norm(name)
        specs = self.specs()
        if name not in specs:
            if if_exists:
                return
            from x_spark.errors import DataSourceException

            raise DataSourceException(
                f"unknown materialized view {name!r}"
            )
        path = specs.pop(name)["path"]
        self._save(specs)
        if os.path.isdir(path):
            shutil.rmtree(path)

    # -- reads ---------------------------------------------------------
    def frame(self, name: str) -> DataFrame:
        """The definition-shaped result FROM THE MAINTAINED STATE (as
        of the last refresh): the view's keys are exactly the
        definition's dims, so each maintained row maps 1:1 onto one
        output row with measures derived by the roll-up algebra."""
        spec = self._spec(name)
        view = self._view_of(spec)
        cols = []
        for kind, col, alias in spec["items"]:
            if kind == "dim":
                cols.append(F.col(col).alias(alias))
            elif kind == "count":
                cols.append(F.col("n_rows").cast("bigint").alias(alias))
            elif kind == "sum":
                cols.append(F.col(f"sum_{col}").alias(alias))
            elif kind == "avg":
                cols.append(
                    (F.col(f"sum_{col}").cast("double") / F.col("n_rows"))
                    .alias(alias)
                )
            elif kind == "min":
                cols.append(F.col(f"min_{col}").alias(alias))
            else:
                cols.append(F.col(f"max_{col}").alias(alias))
        return view.read().select(*cols)

    def staleness(self, name: str) -> int:
        return self._view_of(self._spec(name)).staleness()

    def listing(self) -> DataFrame:
        rows = []
        for n, s in sorted(self.specs().items()):
            try:
                stale = self._view_of(s).staleness()
            except ValueError:  # base table dropped out from under it
                stale = -1
            rows.append((n, s["base"], stale))
        df = self.ds.spark.createDataFrame(
            rows or [("", "", 0)],
            "name string, base string, staleness bigint",
        )
        return df if rows else df.limit(0)

    def describe(self, name: str) -> DataFrame:
        spec = self._spec(name)
        rows = [(alias, kind if kind != "dim" else f"dim({col})")
                for kind, col, alias in spec["items"]]
        rows += [("# definition", spec["definition"]),
                 ("# base", spec["base"]),
                 ("# staleness", str(self.staleness(name)))]
        return self.ds.spark.createDataFrame(
            rows, "col_name string, data_type string"
        )

    # -- transparent routing -------------------------------------------
    def route_select(self, stmt: str | Statement) -> DataFrame | None:
        """Serve a canonical aggregate SELECT over a txlog BASE table
        from a covering MV (refreshing it first when stale, so the
        routed answer reflects the same base version the pass-through
        plan would read). None = not covered / not canonical: the
        caller keeps the ordinary plan. Routed sums/averages are
        DECIMAL(30,6)-exact (the maintained-state algebra) where the
        pass-through plan would compute order-dependent double sums —
        same value up to float summation order, deterministic here.
        ``stmt`` may be the dispatcher's already parsed Statement."""
        specs = self.specs()
        if not specs:
            return None  # no view to route to: the plan is not read
        if not isinstance(stmt, Statement):
            stmt = Statement(self.ds.spark, stmt)
        parsed = parse_agg_select(stmt)
        if parsed is None:
            return None
        specs = {n: s for n, s in specs.items()
                 if s["base"] == parsed["base"]}
        if not specs or parsed["base"] not in self.ds._known_names():
            return None
        from x_spark.operators.view_router import Measure, ViewRouter
        from x_spark.sources.base import TableRef

        router = ViewRouter(self.ds, TableRef(table=parsed["base"]))
        for n, s in specs.items():
            router.register(n, self._view_of(s))
        dims = [col for kind, col, _ in parsed["items"] if kind == "dim"]
        if set(dims) != set(parsed["keys"]):
            return None  # dims projected away: rolled result ambiguous
        measures = [Measure(kind, col, alias)
                    for kind, col, alias in parsed["items"] if kind != "dim"]
        where = parsed["where"]
        where_cols = set(parsed["where_cols"]) if where else None
        if router._pick(parsed["keys"], measures, where_cols) is None:
            return None
        routed = router.route(parsed["keys"], measures,
                              where=where, where_cols=where_cols)
        out = []
        for kind, col, alias in parsed["items"]:
            out.append(F.col(col).alias(alias) if kind == "dim"
                       else F.col(alias))
        return routed.df.select(*out)
