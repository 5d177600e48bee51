"""SQL DML over txlog tables: CREATE TABLE / INSERT / MERGE INTO / UPDATE.

txlog tables live outside the Spark catalog (the names file is the
metastore analogue), so Spark cannot execute these verbs for them. It
can still READ them: every statement is parsed once by Spark's own
parser (``sessionState().sqlParser().parsePlan``) and the unresolved
plan decides what the statement is. Each plan node carries its
``origin()`` start/stop offsets into the statement text, so conditions,
assignment values and DDL come back as exact slices of what the user
wrote — literals, escapes and nesting are the grammar's business.
:class:`Statement` wraps that one parse; the ``parse_*`` functions turn
it into the plain values the executors below consume:

- ``CREATE TABLE t (cols) USING txlog [PARTITIONED BY ...]
  [TBLPROPERTIES (...)]`` and the CTAS form (``... USING txlog AS
  SELECT ...``) — one metaData commit (plus the adds for CTAS).
- ``INSERT INTO/OVERWRITE t [PARTITION (...)] [(cols)]
  VALUES ... | SELECT ...`` and ``INSERT INTO t REPLACE WHERE cond
  <source>`` — routed to the append / overwrite / replaceWhere paths,
  so DEFAULT fill, generated columns, identity allocation, CHECK
  constraints and CDF all apply exactly as for the API writes.
- Full Delta ``MERGE [WITH SCHEMA EVOLUTION] INTO`` with any number of
  ``WHEN MATCHED [AND cond] THEN UPDATE SET ...|DELETE``,
  ``WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT ...`` and
  ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE ...|DELETE``
  clauses, evaluated in clause order (first satisfied clause wins,
  Delta's rule).
- ``UPDATE t SET c = e, ... [WHERE pred]`` (executed by
  ``TxLogDataSource.update``).

Predicates are read from Spark's parse tree too (:func:`expression`):
footer-stats pruning, the partition-only check and the MERGE key.

Scale shape of the row-level engine (``_merge_into_once``, which also
runs ``TxLogDataSource.delete`` and ``update``): candidate files are
pruned by footer stats before anything is read; one target-slice x
source full-outer join (DELETE/UPDATE: the slice alone), staged by one
SQL projection, streams straight into the table write — a rewrite of
the candidates, or with deletion vectors a mask plus the new images.
It is localCheckpoint-pinned only when two jobs read it (the
change-feed rows, the multiple-match check, a mask write plus a data
write) — one join total, cost tracks the candidate slice, never the
table.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.errors import ParseException
from pyspark.sql import DataFrame, functions as F

from x_spark.errors import DataSourceException
from x_spark.sources.base import TableRef


def _last(ident: str) -> str:
    """Last part of a dotted, possibly backticked identifier."""
    return re.findall(r"`[^`]+`|[A-Za-z_]\w*", ident)[-1].strip("`")


# -- one parse per statement -------------------------------------------


class Statement:
    """One SQL statement and its unresolved plan from Spark's parser.
    A grammar error raises :class:`DataSourceException` carrying
    Spark's message (which quotes the statement)."""

    def __init__(self, spark, sql: str) -> None:
        self.sql = sql
        try:
            self.plan = (spark._jsparkSession.sessionState().sqlParser()
                         .parsePlan(sql))
        except ParseException as exc:
            raise DataSourceException(
                f"cannot parse SQL statement: {str(exc).strip()}"
            ) from exc
        self.kind = self.plan.nodeName()

    @staticmethod
    def items(seq) -> list:
        """A Scala ``Seq`` as a Python list."""
        return [seq.apply(i) for i in range(seq.size())]

    def text(self, node) -> str:
        """The statement text ``node`` was parsed from. It starts at the
        leftmost descendant: the Project of ``FROM t SELECT a`` begins
        after its relation, and the origin of ``v IN (1, 2)`` (or
        BETWEEN, LIKE, IS NULL) begins at its keyword, after ``v``."""
        o = node.origin()
        start, stop = o.startIndex().get(), o.stopIndex().get()
        while node.children().size():
            node = node.children().apply(0)
            start = min(start, node.origin().startIndex().get())
        return self.sql[start:stop + 1]

    def between(self, first, last) -> str:
        """Text from ``first``'s first token to ``last``'s last one."""
        return self.sql[first.origin().startIndex().get():
                        last.origin().stopIndex().get() + 1]

    def predicate(self, cond) -> str:
        """A WHERE condition's text, TRUE when there is none. (Spark
        stands in a shared ``Literal(true)`` for a missing WHERE, so
        its origin belongs to no statement.)"""
        if cond is None or cond.toString() == "true":
            return "TRUE"
        return self.text(cond)

    @staticmethod
    def opt(option):
        """A Scala ``Option`` as its value or None."""
        return option.get() if option.isDefined() else None

    @staticmethod
    def mapping(m) -> dict:
        """A Scala ``Map`` as a Python dict."""
        return {kv._1(): kv._2() for kv in Statement.items(m.toSeq())}

    @staticmethod
    def name(node) -> str:
        """Dotted name of a table reference, looking through the
        SubqueryAlias (``t AS x``) and Filter (CHECK) wrappers."""
        while node.nodeName() in ("SubqueryAlias", "Filter"):
            node = node.children().apply(0)
        parts = (node.nameParts() if node.nodeName() == "UnresolvedIdentifier"
                 else node.multipartIdentifier())
        return ".".join(Statement.items(parts))

    @staticmethod
    def alias(node) -> str | None:
        return node.alias() if node.nodeName() == "SubqueryAlias" else None

    def target(self):
        """The table reference a DML/DDL statement writes or alters."""
        if self.kind in ("InsertIntoStatement", "OverwriteByExpression"):
            return self.plan.table()
        return self.plan.children().apply(0)

    def walk(self):
        """Yield ``(node, kind, parent node)`` over every plan node:
        children, CTE bodies and expression subqueries (the last two
        are a node's ``innerChildren`` — ``children()`` omits them)."""
        stack = [(self.plan, None)]
        leaves = ("UnresolvedRelation", "RelationTimeTravel",
                  "UnresolvedTableValuedFunction")
        while stack:
            node, parent = stack.pop()
            kind = node.nodeName()
            yield node, kind, parent
            if kind not in leaves:
                kids = (self.items(node.children())
                        + self.items(node.innerChildren()))
                stack.extend((k, node) for k in reversed(kids))


# -- expression reader (pruning, partition-only check, MERGE key, MV) --
#
# Catalyst's ``toJSON`` prints a tree as one pre-order node list: one
# py4j call brings a whole predicate (or plan) across, and each node
# becomes a dict of its JSON fields with ``class`` cut to the class name
# and ``children`` holding the child nodes. The readers are
# conservative: a shape they do not know prunes nothing, is never
# partition-only and gives no MERGE key.


def tree(nodes: list[dict]) -> dict:
    """A ``toJSON`` node list as a tree of node dicts."""
    it = iter(nodes)

    def build() -> dict:
        n = dict(next(it))
        n["class"] = n["class"].rsplit(".", 1)[-1]
        n["children"] = [build() for _ in range(n.pop("num-children"))]
        return n

    return build()


def expression(spark, text: str) -> dict:
    """``text`` parsed by Spark's expression parser. Text that does not
    parse or print reads as an ``Unparsed`` node, which hides its column
    references: nothing is pruned, and Spark's analysis of the
    predicate reports the error as before."""
    try:
        return tree(json.loads(spark._jsparkSession.sessionState()
                               .sqlParser().parseExpression(text).toJSON()))
    except (ParseException, Py4JError, RecursionError):
        return {"class": "Unparsed", "children": []}


def plain_name(printed: str) -> str | None:
    """The name in a printed one-part ``nameParts`` (``[a]``), else None:
    ``toJSON`` prints `` `a, b` `` like ``a.b`` (``[a, b]``)."""
    return None if ", " in printed else printed[1:-1]


def column(e: dict) -> str | None:
    """Name of an unqualified column reference, else None."""
    if e["class"] != "UnresolvedAttribute":
        return None
    return plain_name(e["nameParts"])


def conjuncts(e: dict, op: str = "And") -> list[dict]:
    """Operands of a chain of ``op`` (``And`` / ``Or``) nodes."""
    if e["class"] != op:
        return [e]
    return [x for c in e["children"] for x in conjuncts(c, op)]


_CMP = {"EqualTo": "=", "LessThan": "<", "LessThanOrEqual": "<=",
        "GreaterThan": ">", "GreaterThanOrEqual": ">="}
_FLIP = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
_NUMERIC = ("integer", "long", "short", "byte", "double", "float")
# nodes whose column references the tree does not show
_HIDDEN = frozenset(("Exists", "InSubquery", "ListQuery", "ScalarSubquery",
                     "LateralSubquery", "UnresolvedStar", "UnresolvedRegex",
                     "Unparsed"))


def _literal(e: dict) -> tuple[str, bool] | None:
    """A literal stats may prune on, as (value, is a string): a string
    prunes string columns, a number numeric ones, any other type (date,
    timestamp, binary, boolean, null) nothing."""
    t = e["dataType"] if e["class"] == "Literal" else ""
    if t == "string" or t in _NUMERIC or t.startswith("decimal("):
        return e["value"], t == "string"
    return None


def _prunable(e: dict) -> tuple[str, str, list] | None:
    """``col <op> literal`` (either operand order) or ``col IN
    (literals)`` as (col, op, [(value, is a string)]), else None."""
    kids = e["children"]
    if e["class"] in _CMP:
        (a, b), op = kids, _CMP[e["class"]]
        if column(a) is None:
            a, b, op = b, a, _FLIP[op]
        c, lit = column(a), _literal(b)
        return None if c is None or lit is None else (c, op, [lit])
    if e["class"] == "In":
        c, lits = column(kids[0]), [_literal(x) for x in kids[1:]]
        return None if c is None or None in lits else (c, "in", lits)
    return None


def pruning_disjuncts(e: dict) -> list[list[tuple[str, str, list]]]:
    """The OR-of-AND pruning structure (Delta's data-skipping rule for
    disjunctions): per disjunct, the conjuncts footer min/max stats can
    prune on. A file is excluded only when EVERY disjunct has one its
    stats prove false, so a disjunct with none gives ``[]`` (no
    pruning). The reference's generated replaceWhere shape, ``(pk2='a')
    OR (pk2='b')`` (etl/overwrite.py:27-33), prunes this way."""
    out = []
    for d in conjuncts(e, "Or"):
        conjs = [c for c in map(_prunable, conjuncts(d)) if c is not None]
        if not conjs:
            return []
        out.append(conjs)
    return out


def column_refs(e: dict) -> set[str] | None:
    """Names of the columns ``e`` references; None when it may reference
    one it does not name plainly (a subquery, a star, a qualified name,
    unparsed text). Lambda variables are not columns."""
    refs, stack = set(), [e]
    while stack:
        n = stack.pop()
        if n["class"] in _HIDDEN:
            return None
        if n["class"] == "UnresolvedAttribute":
            refs.add(column(n))
        stack.extend(n["children"])
    return None if None in refs else refs


def equi_key(e: dict, ta: str, sa: str, tgt_cols: list[str],
             src_cols: list[str]) -> tuple[str, str] | None:
    """First top-level ``<target col> = <source col>`` conjunct of a MERGE
    ON as (target column, source column), the key-range pruning handle;
    None when there is none (every file stays a candidate)."""
    def side(n: dict) -> tuple[str | None, str] | None:
        if n["class"] != "UnresolvedAttribute":
            return None
        name = n["nameParts"][1:-1]
        q, _, c = name.partition(", ")
        if not c:
            t, s = name in tgt_cols, name in src_cols
            return ("t" if t and not s else "s" if s and not t else None), name
        if ", " in c or name in tgt_cols or name in src_cols:
            return None  # more parts, or a name `q, c` that prints as q.c
        return {ta: "t", sa: "s"}.get(q), c

    for conj in conjuncts(e):
        if conj["class"] == "EqualTo":
            a, b = map(side, conj["children"])
            if a and b and {a[0], b[0]} == {"t", "s"}:
                return (a[1], b[1]) if a[0] == "t" else (b[1], a[1])
    return None


# -- parsed statement shapes -------------------------------------------


@dataclass(frozen=True)
class CreateTable:
    name: str
    columns_ddl: str | None          # "a INT, b STRING" (None for CTAS)
    partition_by: list[str] = field(default_factory=list)
    properties: dict[str, str] = field(default_factory=dict)
    as_select: str | None = None
    if_not_exists: bool = False


@dataclass(frozen=True)
class InsertStmt:
    name: str
    overwrite: bool
    columns: list[str] | None        # explicit column list or None
    partition: dict[str, str | None]  # static values; None = dynamic
    source_sql: str                  # SELECT ...  (VALUES pre-wrapped)
    replace_where: str | None = None  # INSERT INTO ... REPLACE WHERE


@dataclass(frozen=True)
class MatchedClause:
    condition: str | None
    action: str                      # "update" | "delete"
    assignments: dict[str, str] | None  # None = UPDATE SET *


@dataclass(frozen=True)
class InsertClause:
    condition: str | None
    columns: list[str] | None        # None (+values None) = INSERT *
    values: list[str] | None


@dataclass(frozen=True)
class MergeInto:
    target: str
    target_alias: str | None
    source_sql: str                  # identifier or "(subquery)"
    source_alias: str | None
    on: str
    matched: list[MatchedClause]
    not_matched: list[InsertClause]
    by_source: list[MatchedClause]
    schema_evolution: bool = False


# -- parsers ------------------------------------------------------------


def parse_create_table(st: Statement) -> CreateTable | None:
    """``CREATE TABLE [IF NOT EXISTS] t [(coldefs)] USING txlog
    [PARTITIONED BY (cols)] [TBLPROPERTIES ('k'='v',...)] [AS select]``.
    Only statements that say ``USING txlog`` are ours — everything
    else passes through to Spark's catalog untouched."""
    if st.kind not in ("CreateTable", "CreateTableAsSelect"):
        return None
    p = st.plan
    spec = p.tableSpec()
    if (st.opt(spec.provider()) or "").lower() != "txlog":
        return None
    part_cols = []
    for t in st.items(p.partitioning()):
        if t.name() != "identity":
            raise DataSourceException(
                f"txlog tables partition by columns, not {t.describe()}"
            )
        part_cols.append(list(t.references()[0].fieldNames())[-1])
    cols_ddl = as_select = None
    if st.kind == "CreateTableAsSelect":
        as_select = st.text(p.query())
    else:
        cols = st.items(p.columns())
        if not cols:
            raise DataSourceException(
                "CREATE TABLE ... USING txlog needs a column list or AS SELECT"
            )
        cols_ddl = st.between(cols[0], cols[-1])
    return CreateTable(st.name(st.target()), cols_ddl, part_cols,
                       st.mapping(spec.properties()), as_select,
                       p.ignoreIfExists())


def parse_insert(st: Statement) -> InsertStmt | None:
    """``INSERT INTO|OVERWRITE [TABLE] t [PARTITION (...)] [(cols)]
    <source>`` and ``INSERT INTO t REPLACE WHERE cond <source>``. The
    plan node's own origin is the INSERT head; the source is the rest
    of the statement."""
    if st.kind not in ("InsertIntoStatement", "OverwriteByExpression"):
        return None
    p = st.plan
    source = st.sql[p.origin().stopIndex().get() + 1:].strip(" \t\n;")
    if p.query().nodeName() in ("LocalRelation", "UnresolvedInlineTable"):
        source = "SELECT * FROM " + source
    name = st.name(p.table())
    if st.kind == "OverwriteByExpression":
        return InsertStmt(name, False, None, {}, source,
                          st.text(p.deleteExpr()))
    if p.byName():
        raise DataSourceException("INSERT ... BY NAME is not supported "
                                  "on txlog tables")
    partition = {k: st.opt(v)
                 for k, v in st.mapping(p.partitionSpec()).items()}
    return InsertStmt(name, p.overwrite(),
                      st.items(p.userSpecifiedCols()) or None, partition,
                      source)


def _assignments(st: Statement, seq) -> dict[str, str]:
    """``c1 = e1, t.c2 = e2`` -> {c1: e1, c2: e2}: target qualifiers
    dropped, value expressions as written."""
    return {st.items(a.key().nameParts())[-1]: st.text(a.value())
            for a in st.items(seq)}


def _merge_clause(st: Statement, action):
    cond = st.opt(action.condition())
    cond = st.text(cond) if cond is not None else None
    kind = action.nodeName()
    if kind == "DeleteAction":
        return MatchedClause(cond, "delete", None)
    if kind == "UpdateStarAction":
        return MatchedClause(cond, "update", None)
    if kind == "InsertStarAction":
        return InsertClause(cond, None, None)
    assigns = _assignments(st, action.assignments())
    if kind == "UpdateAction":
        return MatchedClause(cond, "update", assigns)
    return InsertClause(cond, list(assigns), list(assigns.values()))


def parse_merge(st: Statement) -> MergeInto | None:
    """Full Delta MERGE grammar (clause order preserved — the first
    satisfied clause per row wins at execution)."""
    if st.kind != "MergeIntoTable":
        return None
    p = st.plan
    target, source = st.items(p.children())
    source_alias = st.alias(source)
    body = source.children().apply(0) if source_alias else source
    source_sql = (st.text(body) if body.nodeName() == "UnresolvedRelation"
                  else f"({st.text(body)})")
    return MergeInto(
        st.name(target), st.alias(target), source_sql, source_alias,
        st.text(p.mergeCondition()),
        [_merge_clause(st, a) for a in st.items(p.matchedActions())],
        [_merge_clause(st, a) for a in st.items(p.notMatchedActions())],
        [_merge_clause(st, a)
         for a in st.items(p.notMatchedBySourceActions())],
        p.withSchemaEvolution(),
    )


def parse_update(st: Statement) -> tuple[str, dict[str, str], str] | None:
    """``UPDATE t SET c1 = e1, c2 = e2 [WHERE pred]`` ->
    (target, {col: expr}, predicate); TRUE without a WHERE."""
    if st.kind != "UpdateTable":
        return None
    p = st.plan
    return (st.name(st.target()), _assignments(st, p.assignments()),
            st.predicate(st.opt(p.condition())))


# -- execution ----------------------------------------------------------


def execute_create(ds, ct: CreateTable) -> None:
    from pyspark.sql.types import StructType

    ref = TableRef(table=ct.name)
    if ds.table_exists(ref):
        if ct.if_not_exists:
            return
        raise DataSourceException(f"txlog table {ct.name!r} already exists")
    if ct.as_select is not None:
        df = ds._query(ct.as_select)
        ds.create(ref, df.schema, partition_by=ct.partition_by)
        if ct.properties:
            ds.set_properties(ref, ct.properties)
        ds.append(df, ref)
        return
    schema = StructType.fromDDL(ct.columns_ddl)
    ds.create(ref, schema, partition_by=ct.partition_by)
    if ct.properties:
        ds.set_properties(ref, ct.properties)


def execute_insert(ds, ins: InsertStmt) -> None:
    from x_spark.sources.txlog import resolve_snapshot

    ref = TableRef(table=ins.name)
    table = ds._table_path(ref)
    snap = resolve_snapshot(table)
    if snap is None:
        raise DataSourceException(f"txlog table {ins.name!r} does not exist")
    src = ds._query(ins.source_sql)
    schema_cols = [f.name for f in snap.schema.fields]
    types = {f.name: f.dataType for f in snap.schema.fields}
    identity = set(snap.identity)
    static_part = {k: v for k, v in ins.partition.items() if v is not None}
    if ins.columns is not None:
        bad = sorted(set(ins.columns) & identity)
        if bad:
            raise DataSourceException(
                f"column(s) {bad} are GENERATED ALWAYS AS IDENTITY; "
                "INSERT cannot provide them"
            )
        unknown = [c for c in ins.columns if c not in schema_cols]
        if unknown:
            raise DataSourceException(
                f"INSERT column(s) {unknown} not in table schema"
            )
        cols = list(ins.columns)
    else:
        # positional: identity columns and statically-assigned
        # partition columns must be omitted (Delta's rule)
        cols = [c for c in schema_cols
                if c not in identity and c not in static_part]
    if len(src.columns) != len(cols):
        raise DataSourceException(
            f"INSERT arity mismatch: {len(src.columns)} values for "
            f"{len(cols)} columns {cols}"
        )
    df = src.toDF(*cols)
    for c, v in static_part.items():
        df = df.withColumn(c, F.lit(v).cast(types[c]))
    # unlisted columns without a DEFAULT / generation expression /
    # identity allocator get an explicit NULL (ANSI INSERT rule); the
    # special ones stay ABSENT so the write choke point fills them
    for c in schema_cols:
        if (c not in df.columns and c not in snap.defaults
                and c not in snap.generated and c not in identity):
            df = df.withColumn(c, F.lit(None).cast(types[c]))
    if ins.replace_where is not None:
        # predicate-scoped atomic replacement: rows matching the
        # condition are replaced by the source in ONE commit; the
        # overwrite path enforces Delta's new-rows-must-match check
        ds.overwrite(df, ref, replace_where=ins.replace_where)
        return
    if not ins.overwrite:
        ds.append(df, ref)
        return
    if static_part:
        from x_spark.sources.base import sql_literal
        rw = " AND ".join(
            f"{c} = {v}" if types[c].simpleString() in (
                "int", "bigint", "smallint", "tinyint", "double",
                "float") else f"{c} = {sql_literal(v)}"
            for c, v in sorted(static_part.items())
        )
        ds.overwrite(df, ref, replace_where=rw)
    elif any(v is None for v in ins.partition.values()):
        ds.overwrite_dynamic(df, ref)
    else:
        ds.overwrite(df, ref)


def execute_merge_into(ds, ms: MergeInto) -> None:
    """General MERGE executor (Delta semantics, copy-on-write over the
    key-pruned candidate files). See module docstring for the one-join
    scale contract; version races retry by recomputing the whole merge
    against the fresh snapshot (serializable, same as :meth:`merge`)."""
    from x_spark.sources.txlog import ConcurrentWriteException

    ref = TableRef(table=ms.target)
    table = ds._table_path(ref)
    last: Exception | None = None
    for _ in range(5):
        try:
            _merge_into_once(ds, ms, table)
            return
        except ConcurrentWriteException as exc:
            last = exc
            continue
    raise ConcurrentWriteException(
        f"MERGE INTO {ms.target!r} lost 5 straight version races"
    ) from last


def merge_spec_into(spec, sa: str = "SRC", ta: str = "TGT") -> MergeInto:
    """Translate the reference's restricted :class:`MergeSpec`
    (update/upsert on primary-key equality + extra target predicate)
    into the general MERGE clause form, so BOTH surfaces execute
    through the ONE single-join engine (:func:`_merge_into_once`).
    Row-for-row equivalent to the old two-join ``merge_frames`` path:
    the matched clause is its left-join ``when(matched)`` image, the
    insert clause its anti-join branch (set columns from the source,
    everything else DEFAULT/NULL — the reference's upsert quirk,
    SURVEY §8.7)."""
    on = " AND ".join(
        f"{ta}.{quote_ident(c)} = {sa}.{quote_ident(c)}"
        for c in spec.primary_key_columns
    )
    if spec.extra_target_predicate and \
            spec.extra_target_predicate.strip() not in ("1=1", "TRUE"):
        on += f" AND ({spec.extra_target_predicate})"
    set_cols = spec.all_set_columns
    matched = [MatchedClause(
        None, "update",
        {c: f"{sa}.{quote_ident(c)}" for c in spec.update_columns}
    )]
    not_matched = (
        [InsertClause(None, list(set_cols),
                      [f"{sa}.{quote_ident(c)}" for c in set_cols])]
        if spec.insert_when_not_matched else []
    )
    return MergeInto("", ta, "", sa, on, matched, not_matched, [])


def quote_ident(name: str) -> str:
    """``name`` as a backticked SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_type(dt) -> str:
    """Spark SQL spelling of a PySpark ``DataType``, for a CAST inside
    SQL text (``simpleString`` leaves struct field names unquoted and
    spells the session-dependent ``timestamp``)."""
    from pyspark.sql.types import (
        ArrayType, MapType, StructType, TimestampType,
    )

    if isinstance(dt, StructType):
        return "STRUCT<" + ", ".join(
            f"{quote_ident(f.name)}: {sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dt.fields
        ) + ">"
    if isinstance(dt, ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    if isinstance(dt, TimestampType):
        return "TIMESTAMP_LTZ"
    return dt.simpleString()


def _codes(codes) -> str:
    """SQL IN-list of clause codes; ``NULL`` for none, so ``__code IN
    (NULL)`` matches no row."""
    return ", ".join(f"'{c}'" for c in codes) or "NULL"


def _merge_into_once(ds, ms: MergeInto, table: str,
                     txn: tuple[str, int] | None = None,
                     src_df: DataFrame | None = None,
                     snap=None,
                     merge_schema: bool | None = None,
                     skip_match_checks: bool = False,
                     meta_actions: list[dict] | None = None,
                     write_schema=None,
                     src_key_bounds: tuple | None = None,
                     candidates: list[str] | None = None,
                     operation: str = "MERGE") -> None:
    """One attempt of a row-level DML statement against the current (or
    given) snapshot: the one engine behind MERGE (MergeSpec and SQL
    ``MERGE INTO``), DELETE and UPDATE.

    The target slice (the candidate files) full-outer joins the source
    once. DELETE and UPDATE have no source: the slice itself is staged
    with an empty source side, and their predicate and assignments ride
    as a NOT MATCHED BY SOURCE clause. One ``selectExpr`` of SQL text
    stages every row: ``__code`` names the clause that fired (``m<i>``
    matched, ``i<i>`` insert, ``s<i>`` not matched by source, else
    ``keep`` for an untouched target row and ``drop`` for an unused
    source row), and each target column holds the row's written image
    — update assignments and insert images are CASE arms over the old
    value, so every clause reads the old row image.

    The table's ``enableDeletionVectors`` property picks the output.
    Copy-on-write removes the candidate files and writes the kept,
    updated and inserted rows. Deletion vectors mask the updated and
    deleted rows (``_mask_actions``, which also decides the removes;
    an insert-only MERGE masks and removes nothing) and write only the
    updated and inserted rows. With the change feed on, cdc files carry
    the exact change rows, unless deletion vectors are on and the
    clauses can only delete: the mask delta already is the exact feed.

    A ``DataFrame.observe`` count of touched rows (updated, inserted or
    deleted) rides the first job over the staged rows. Zero touched
    rows is a logical no-op and publishes no file: a rewrite would only
    churn files and emit spurious change-feed pairs. A ``txn`` stamp
    still commits, alone, so a replay of the epoch is refused; without
    one nothing commits.

    The staged rows are pinned (``_tracked_local_ckpt``) only when two
    jobs read them: the change-feed write, the multiple-match check
    (``skip_match_checks`` False with a WHEN MATCHED clause), or a mask
    write plus a data write. Identity allocation pins the written rows
    itself. Otherwise the staged rows stream straight into their one
    write.

    ``src_df``/``snap`` short-circuit resolution for API callers that
    already hold them. ``candidates`` are the files a DELETE/UPDATE
    predicate could not prune (MERGE prunes by key range here).
    ``skip_match_checks`` drops the multiple-match guard AND the
    per-target-row residue dedup when the caller has already
    guaranteed unique source keys on an equi ON, or has no source.
    ``txn`` stamps the commit for idempotent replay; ``operation``
    names it. ``src_key_bounds`` is ``(source key column, min, max)``
    when the caller already measured the source key range in a fused
    pass — the candidate pruning then skips its own source-plan job
    (used only if the extracted equi key matches)."""
    import json as _json

    from pyspark.sql.types import StructType

    from x_spark.sources.txlog import resolve_snapshot

    spark = ds.spark
    if snap is None:
        snap = resolve_snapshot(table)
    if snap is None:
        raise DataSourceException(
            f"txlog table {ms.target!r} does not exist"
        )
    if merge_schema is None:
        merge_schema = ms.schema_evolution
    ta = ms.target_alias or _last(ms.target)
    src_txt = ms.source_sql.strip()
    sa = ms.source_alias
    if src_df is not None:
        sa = sa or "SRC"
    elif src_txt.startswith("("):
        if sa is None:
            raise DataSourceException(
                "MERGE INTO: a subquery source needs an alias"
            )
        src_df = ds._query(src_txt[1:-1])
    elif src_txt:
        src_df = ds._query(f"SELECT * FROM {src_txt}")
        sa = sa or _last(src_txt)

    if meta_actions is None:  # API callers pass the already-computed fold
        meta_actions = (ds._schema_evolution_actions(src_df.schema, snap)
                        if merge_schema else [])
    if write_schema is None:
        if meta_actions:
            write_schema = StructType.fromJson(
                _json.loads(meta_actions[0]["metaData"]["schemaJson"])
            )
        else:
            write_schema = snap.schema
    tgt_cols = [f.name for f in write_schema.fields]
    types = {f.name: sql_type(f.dataType) for f in write_schema.fields}
    src_cols = src_df.columns if src_df is not None else []

    # identity guard: no clause may assign or insert an identity column
    ident = set(snap.identity)
    for cl in ms.matched + ms.by_source:
        if cl.action == "update" and cl.assignments:
            bad = sorted(ident & set(cl.assignments))
            if bad:
                raise DataSourceException(
                    f"column(s) {bad} are GENERATED ALWAYS AS IDENTITY; "
                    f"{operation} cannot assign them"
                )
    for cl in ms.not_matched:
        if cl.columns:
            bad = sorted(ident & set(cl.columns))
            if bad:
                raise DataSourceException(
                    f"column(s) {bad} are GENERATED ALWAYS AS IDENTITY; "
                    "MERGE cannot insert them"
                )

    base = snap.version

    def no_op() -> None:
        if txn is not None:
            ds._commit(table, ds._expect_unchanged(table, base), [],
                       operation, txn=txn)

    # key-range pruning is only sound when unmatched target rows are
    # untouched: a WHEN NOT MATCHED BY SOURCE clause acts on EXACTLY the
    # rows pruning would skip (Delta disables file pruning the same
    # way), so it forces the full candidate set
    if candidates is None:
        key = None if ms.by_source else equi_key(
            expression(spark, ms.on), ta, sa, tgt_cols, src_cols)
        if key is not None:
            tcol, scol = key
            keyed = src_df.selectExpr(
                f"{quote_ident(scol)} AS {quote_ident(tcol)}")
            candidates = ds._files_overlapping_keys(
                keyed, snap, tcol,
                bounds=(src_key_bounds[1], src_key_bounds[2])
                if src_key_bounds is not None
                and src_key_bounds[0] == scol else None,
            )
        else:
            candidates = sorted(snap.files)
    if not candidates and not ms.not_matched:
        return no_op()  # no target row to touch and no insert clause

    dv = ds._dv_enabled(snap.configuration)
    # deletion vectors mask the old images of updated and deleted
    # candidate rows, named by file and row index
    mask = dv and bool(candidates) and bool(ms.matched or ms.by_source)
    # id-aware when row tracking is on: carried target rows (kept AND
    # updated) keep their stable _x_row_id in the rewritten files
    tslice = ds._read_for_rewrite(table, snap, candidates, keep_meta=mask)
    carry = [c for c in ("_x_row_id", "_x_rcv") if c in tslice.columns]
    if meta_actions:
        tslice = ds._widen_frame(tslice, write_schema)
    checks = not skip_match_checks
    # per-row ids only feed the multiple-match check and residue dedup
    rid = ["monotonically_increasing_id() AS __rid"] if checks else []
    t = tslice.selectExpr("*", "true AS __t", *rid)
    if src_df is None:  # DELETE / UPDATE: the slice, no source side
        joined = t.selectExpr("*", "CAST(NULL AS BOOLEAN) AS __s").alias(ta)
    else:
        s = src_df.selectExpr("*", "true AS __s", *rid).alias(sa)
        joined = t.alias(ta).join(s, F.expr(ms.on), "full_outer")
    T, S = quote_ident(ta), quote_ident(sa or "")

    def fired(cond: str | None) -> str:
        return "" if cond is None else f" AND coalesce(({cond}), false)"

    arms: list[str] = []
    upd_assign: dict[str, dict[str, str]] = {}   # code -> assignments
    del_codes: list[str] = []
    ins_specs: dict[str, InsertClause] = {}
    matched_codes = [f"m{i}" for i in range(len(ms.matched))]
    for c, cl in zip(matched_codes, ms.matched):
        arms.append(f"WHEN __t IS NOT NULL AND __s IS NOT NULL"
                    f"{fired(cl.condition)} THEN '{c}'")
        if cl.action == "delete":
            del_codes.append(c)
        else:
            assigns = cl.assignments
            if assigns is None:  # UPDATE SET * (identity cols excluded)
                assigns = {x: f"{S}.{quote_ident(x)}" for x in tgt_cols
                           if x in src_cols and x not in ident}
            upd_assign[c] = assigns
    for i, cl in enumerate(ms.not_matched):
        c = f"i{i}"
        arms.append(f"WHEN __t IS NULL AND __s IS NOT NULL"
                    f"{fired(cl.condition)} THEN '{c}'")
        ins_specs[c] = cl
    for i, cl in enumerate(ms.by_source):
        c = f"s{i}"
        arms.append(f"WHEN __t IS NOT NULL AND __s IS NULL"
                    f"{fired(cl.condition)} THEN '{c}'")
        if cl.action == "delete":
            del_codes.append(c)
        else:
            upd_assign[c] = cl.assignments or {}
    code = (f"CASE {' '.join(arms)} WHEN __t IS NOT NULL THEN 'keep' "
            "ELSE 'drop' END AS __code")
    upd_codes = sorted(upd_assign)
    ins_codes = sorted(ins_specs)
    defaults = snap.defaults
    # copy-on-write rewrites the kept rows too; deletion vectors write
    # only new images, so clauses that can only delete write no data
    data_codes = upd_codes + ins_codes + ([] if dv else ["keep"])
    write_data = bool(upd_codes or ins_codes) or not dv
    write_cdc = ds._cdf_enabled(snap.configuration) and write_data

    def ins_val(cl: InsertClause, c: str) -> str | None:
        """Insert image of column ``c`` for one insert clause: listed
        expression > INSERT * by-name > DEFAULT > NULL (None). Identity
        columns stay NULL (the dense allocator fills them)."""
        if c in ident:
            return None
        if cl.columns is None:  # INSERT *
            if c in src_cols:
                return f"{S}.{quote_ident(c)}"
        elif c in cl.columns:
            return cl.values[cl.columns.index(c)]
        return defaults.get(c)

    def image(c: str) -> str:
        """Written image of target column ``c``: the firing clause's
        assignment or insert value, else the old value (NULL on an
        inserted row, whose target side is empty)."""
        vals = [(uc, upd_assign[uc].get(c)) for uc in upd_codes]
        vals += [(ic, ins_val(ins_specs[ic], c)) for ic in ins_codes]
        when = " ".join(f"WHEN '{k}' THEN CAST(({v}) AS {types[c]})"
                        for k, v in vals if v is not None)
        old = f"CAST({T}.{quote_ident(c)} AS {types[c]})"
        body = f"CASE __code {when} ELSE {old} END" if when else old
        return f"{body} AS {quote_ident(c)}"

    staged_cols = ["__code"]
    if checks:
        # source-only rows get their own negative id, so the residue
        # dedup window never lumps the inserts into one partition
        staged_cols.append(f"coalesce({T}.__rid, -1 - {S}.__rid) AS __rid")
    if mask:
        staged_cols += [f"{T}.__fn AS __fn", f"{T}.__ri AS __ri"]
    if write_cdc:
        staged_cols += [f"CAST({T}.{quote_ident(c)} AS {types[c]}) "
                        f"AS {quote_ident('__old_' + c)}" for c in tgt_cols]
    staged_cols += [image(c) for c in tgt_cols]
    if "_x_row_id" in carry:
        staged_cols.append(f"{T}._x_row_id AS _x_row_id")
    if "_x_rcv" in carry:
        # updated rows fall back to the new file's default commit
        # version; kept rows carry their old one
        staged_cols.append(f"CASE WHEN __code IN ({_codes(upd_codes)}) "
                           f"THEN NULL ELSE {T}._x_rcv END AS _x_rcv")
    staged, touched = ds._observe_count(
        joined.selectExpr("*", code).selectExpr(*staged_cols),
        "__code NOT IN ('keep', 'drop')",
    )
    if dv:  # masks, new images and change rows read touched rows only
        staged = staged.where("__code NOT IN ('keep', 'drop')")
    pin = write_cdc or (checks and bool(matched_codes)) or (
        mask and write_data)
    ckpts: list = []
    ck2: list = []
    try:
        work = staged
        if pin:
            work, ckpts = ds._tracked_local_ckpt(staged)
            # Delta's multiple-match rule: a target row matched by
            # more than one source row may be modified by at most one
            if checks and matched_codes:
                dup = (
                    work.where(f"__code IN ({_codes(matched_codes)})")
                    .groupBy("__rid").count().where("count > 1")
                    .limit(1).count()
                )
                if dup:
                    raise DataSourceException(
                        "MERGE INTO: multiple source rows matched and "
                        "attempted to modify the same target row"
                    )
            if ds._observed_zero(touched):
                return no_op()
        if mask:
            removes = ds._mask_actions(
                table, snap, candidates,
                work.where(f"__code IN ({_codes(upd_codes + del_codes)})")
                .selectExpr("__fn AS file_name", "__ri AS row_index"),
            )
        else:  # an insert-only MERGE on a DV table removes nothing
            removes = [] if dv else [{"remove": {"path": p}}
                                     for p in candidates]
        adds: list[dict] = []
        if write_data:
            rows = work
            if checks and not dv:
                # per-target-row residue dedup: a row matched by
                # several sources where at most one clause fired keeps
                # ONE image — the modifying one when present, else a
                # single kept copy
                rows = rows.selectExpr(
                    "*", "row_number() OVER (PARTITION BY __rid ORDER BY "
                    "CASE WHEN __code = 'keep' THEN 1 ELSE 0 END) AS __rn",
                ).where("__rn = 1")
            out = rows.where(f"__code IN ({_codes(data_codes)})")
            out_cols = ["__code", *tgt_cols, *carry]
            for g, gexpr in sorted(snap.generated.items()):
                if g not in tgt_cols:
                    continue
                # generated columns not assigned by the firing update
                # clause recompute from the POST-assignment values
                # (Delta's rule); on inserted rows NULL means "not set"
                # (explicit disagreeing values still fail the
                # generated:<col> check at the write choke point)
                gen, q = f"CAST(({gexpr}) AS {types[g]})", quote_ident(g)
                regen_in = [uc for uc in upd_codes
                            if g not in upd_assign[uc]]
                out = out.selectExpr(*[
                    f"CASE WHEN __code IN ({_codes(regen_in)}) THEN {gen} "
                    f"WHEN __code IN ({_codes(ins_codes)}) AND {q} IS NULL "
                    f"THEN {gen} ELSE {q} END AS {q}"
                    if c == g else quote_ident(c) for c in out_cols
                ])
            if snap.identity and ins_codes:
                out, ck2 = ds._allocate_identity_for_nulls(out, snap)
            adds = ds._write_files(
                out.selectExpr(*[quote_ident(c) for c in tgt_cols + carry]),
                table, snap.partition_cols, schema=write_schema,
                touched=None if pin else touched,
            )
            if adds is None:
                return no_op()
        if not removes and not adds:
            return no_op()
        actions = list(ds._fold_identity_meta(
            snap, adds, write_schema, meta_actions))
        actions += removes
        actions += [{"add": a} for a in adds]
        if write_cdc:
            # pre-images and deletes from the staged old values; post
            # images and inserts from the written rows (generated
            # columns and allocated identities included)
            upd = _codes(upd_codes)
            pre = work.where(
                f"__code IN ({_codes(upd_codes + del_codes)})"
            ).selectExpr(
                *[f"{quote_ident('__old_' + c)} AS {quote_ident(c)}"
                  for c in tgt_cols],
                f"CASE WHEN __code IN ({upd}) THEN 'update_preimage' "
                "ELSE 'delete' END AS _change_type",
            )
            post = out.where(
                f"__code IN ({_codes(upd_codes + ins_codes)})"
            ).selectExpr(
                *[quote_ident(c) for c in tgt_cols],
                f"CASE WHEN __code IN ({upd}) THEN 'update_postimage' "
                "ELSE 'insert' END AS _change_type",
            )
            actions += ds._write_cdc_files(pre.unionByName(post), table,
                                           write_schema, snap.partition_cols)
        ds._commit(table, ds._expect_unchanged(table, base), actions,
                   operation, txn=txn)
    finally:
        ds._free_ckpts(spark, ckpts + ck2)
