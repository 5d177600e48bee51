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

Scale shape of the merge executor: candidate files are pruned by
footer key-range overlap before anything is read; the single
target-slice x source full-outer join is localCheckpoint-pinned and
feeds EVERY downstream job (ambiguity check, no-op probe, the table
write, and the 4-type change-feed rows) — one join total, cost tracks
the candidate slice, never the table.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, Window, functions as F

from x_spark.errors import DataSourceException
from x_spark.sources.base import TableRef


# -- top-level token scanning (footer-stats predicate pruning) ---------


def structural_mask(s: str) -> list[bool]:
    """Per-character flag: True where the character sits at paren
    depth 0 OUTSIDE string literals. Both quote styles count (Spark
    treats double-quoted tokens as string literals by default) and a
    doubled quote escapes inside its own literal ('it''s', "a""b")."""
    out = [False] * len(s)
    depth, quote, i = 0, None, 0
    while i < len(s):
        ch = s[i]
        if quote is not None:
            if ch == quote:
                if i + 1 < len(s) and s[i + 1] == quote:
                    i += 2
                    continue
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            out[i] = True
        i += 1
    return out


def find_close_paren(s: str, start: int) -> int:
    """Index of the ``)`` matching the ``(`` at ``start``, honoring
    string literals (a quoted ``)`` never closes). -1 if unbalanced."""
    depth, quote, i = 0, None, start
    while i < len(s):
        ch = s[i]
        if quote is not None:
            if ch == quote:
                if i + 1 < len(s) and s[i + 1] == quote:
                    i += 2
                    continue
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on top-level ``sep`` characters."""
    mask = structural_mask(s)
    parts, last = [], 0
    for i, ch in enumerate(s):
        if ch == sep and mask[i]:
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return [p.strip() for p in parts]


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
        """The statement text ``node`` was parsed from."""
        o = node.origin()
        return self.sql[o.startIndex().get():o.stopIndex().get() + 1]

    def query(self, node) -> str:
        """Text of a query plan node. It starts at the leftmost
        descendant: the Project of ``FROM t SELECT a`` begins after
        its relation."""
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
        """Yield ``(node, kind, parent kind)`` over every plan node:
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
                stack.extend((k, kind) for k in reversed(kids))


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
        as_select = st.query(p.query())
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
                  else f"({st.query(body)})")
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


def _split_top_and(s: str) -> list[str]:
    """Split on top-level ``AND`` keywords (parens + literals masked)."""
    mask = structural_mask(s)
    cuts = [m.start() for m in
            re.finditer(r"(?<![\w`])and(?![\w`])", s, re.I)
            if mask[m.start()]]
    parts, last = [], 0
    for c in cuts:
        parts.append(s[last:c])
        last = c + 3
    parts.append(s[last:])
    return parts


def _split_top_or(s: str) -> list[str]:
    """Split on top-level ``OR`` keywords (parens + literals masked)."""
    mask = structural_mask(s)
    cuts = [m.start() for m in
            re.finditer(r"(?<![\w`])or(?![\w`])", s, re.I)
            if mask[m.start()]]
    parts, last = [], 0
    for c in cuts:
        parts.append(s[last:c])
        last = c + 2
    parts.append(s[last:])
    return parts


def strip_outer_parens(s: str) -> str:
    """Remove redundant wrapping parens: ``((a OR b))`` -> ``a OR b``.
    Only strips when the opening paren's match is the LAST character —
    ``(a) AND (b)`` is untouched."""
    s = s.strip()
    while s.startswith("(") and find_close_paren(s, 0) == len(s) - 1:
        s = s[1:-1].strip()
    return s


def _extract_equi_key(on: str, ta: str, sa: str, tgt_cols: list[str],
                      src_cols: list[str]) -> tuple[str, str] | None:
    """First top-level ``<target col> = <source col>`` conjunct of the
    ON condition, as (target column, source column) — the key-range
    pruning handle. None when the ON shape has no plain equi-conjunct
    (every file then stays a candidate: correct, just unpruned)."""
    qid = r"(?:(\w+)\s*\.\s*)?(`[^`]+`|\w+)"
    for conj in _split_top_and(on):
        m = re.fullmatch(rf"\s*{qid}\s*=\s*{qid}\s*", conj)
        if not m:
            continue
        q1, c1, q2, c2 = m.groups()
        c1, c2 = c1.strip("`"), c2.strip("`")

        def side(q, c):
            if q == ta or (q is None and c in tgt_cols and c not in src_cols):
                return "t", c
            if q == sa or (q is None and c in src_cols and c not in tgt_cols):
                return "s", c
            return None, c

        s1, s2 = side(q1, c1), side(q2, c2)
        if s1[0] == "t" and s2[0] == "s":
            return s1[1], s2[1]
        if s1[0] == "s" and s2[0] == "t":
            return s2[1], s1[1]
    return None


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
        f"{ta}.{c} = {sa}.{c}" for c in spec.primary_key_columns
    )
    if spec.extra_target_predicate and \
            spec.extra_target_predicate.strip() not in ("1=1", "TRUE"):
        on += f" AND ({spec.extra_target_predicate})"
    set_cols = spec.all_set_columns
    matched = [MatchedClause(
        None, "update", {c: f"{sa}.{c}" for c in spec.update_columns}
    )]
    not_matched = (
        [InsertClause(None, list(set_cols),
                      [f"{sa}.{c}" for c in set_cols])]
        if spec.insert_when_not_matched else []
    )
    return MergeInto("", ta, "", sa, on, matched, not_matched, [])


def _merge_into_once(ds, ms: MergeInto, table: str,
                     txn: tuple[str, int] | None = None,
                     src_df: DataFrame | None = None,
                     snap=None,
                     merge_schema: bool | None = None,
                     skip_match_checks: bool = False,
                     meta_actions: list[dict] | None = None,
                     write_schema=None,
                     src_key_bounds: tuple | None = None) -> None:
    """One merge attempt against the current (or given) snapshot.

    ``src_df``/``snap`` short-circuit resolution for API callers that
    already hold them (the MergeSpec path); ``skip_match_checks``
    drops the multiple-match guard AND the per-target-row residue
    dedup when the caller has already guaranteed unique source keys
    on an equi ON (one less shuffle). ``txn`` stamps the commit for
    idempotent replay. ``src_key_bounds`` is ``(source key column,
    min, max)`` when the caller already measured the source key range
    in a fused pass — the candidate pruning then skips its own
    source-plan job (used only if the extracted equi key matches)."""
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
    if src_df is not None:
        sa = ms.source_alias or "SRC"
    elif src_txt.startswith("("):
        if ms.source_alias is None:
            raise DataSourceException(
                "MERGE INTO: a subquery source needs an alias"
            )
        src_df = ds._query(src_txt[1:-1])
        sa = ms.source_alias
    else:
        src_df = ds._query(f"SELECT * FROM {src_txt}")
        sa = ms.source_alias or _last(src_txt)

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
    types = {f.name: f.dataType for f in write_schema.fields}
    src_cols = src_df.columns

    # identity guard: no clause may assign or insert an identity column
    ident = set(snap.identity)
    for cl in ms.matched + ms.by_source:
        if cl.action == "update" and cl.assignments:
            bad = sorted(ident & set(cl.assignments))
            if bad:
                raise DataSourceException(
                    f"column(s) {bad} are GENERATED ALWAYS AS IDENTITY; "
                    "MERGE cannot assign them"
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
    key = _extract_equi_key(ms.on, ta, sa, tgt_cols, src_cols)
    if key is not None and not ms.by_source:
        # key-range pruning is only sound when unmatched target rows
        # are untouched: a WHEN NOT MATCHED BY SOURCE clause acts on
        # EXACTLY the rows pruning would skip (Delta disables file
        # pruning the same way), so it forces the full candidate set
        tcol, scol = key
        keyed = src_df.select(F.col(scol).alias(tcol))
        candidates = ds._files_overlapping_keys(
            keyed, snap, tcol,
            bounds=(src_key_bounds[1], src_key_bounds[2])
            if src_key_bounds is not None and src_key_bounds[0] == scol
            else None,
        )
    else:
        candidates = sorted(snap.files)

    # id-aware when row tracking is on: carried target rows (kept AND
    # updated) keep their stable _x_row_id in the rewritten files
    tslice = ds._read_for_rewrite(table, snap, candidates)
    carry = [c for c in ("_x_row_id", "_x_rcv") if c in tslice.columns]
    if meta_actions:
        tslice = ds._widen_frame(tslice, write_schema)
    t = (tslice.withColumn("__t", F.lit(True))
         .withColumn("__trid", F.monotonically_increasing_id())
         .alias(ta))
    s = src_df.withColumn("__s", F.lit(True)).alias(sa)
    joined = t.join(s, F.expr(ms.on), "full_outer")

    def csat(c: str | None):
        return (F.coalesce(F.expr(c), F.lit(False)) if c is not None
                else F.lit(True))

    is_matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
    tgt_only = F.col("__t").isNotNull() & F.col("__s").isNull()
    src_only = F.col("__t").isNull() & F.col("__s").isNotNull()
    code = None
    upd_assign: dict[str, dict[str, str]] = {}   # code -> assignments
    del_codes: list[str] = []
    ins_specs: dict[str, InsertClause] = {}
    matched_codes: list[str] = []

    def chain(prev, cond, val):
        return F.when(cond, F.lit(val)) if prev is None else \
            prev.when(cond, F.lit(val))

    for i, cl in enumerate(ms.matched):
        c = f"m{i}"
        matched_codes.append(c)
        code = chain(code, is_matched & csat(cl.condition), c)
        if cl.action == "delete":
            del_codes.append(c)
        else:
            assigns = cl.assignments
            if assigns is None:  # UPDATE SET * (identity cols excluded)
                assigns = {x: f"{sa}.{x}" for x in tgt_cols
                           if x in src_cols and x not in ident}
            upd_assign[c] = assigns
    for i, cl in enumerate(ms.not_matched):
        c = f"i{i}"
        code = chain(code, src_only & csat(cl.condition), c)
        ins_specs[c] = cl
    for i, cl in enumerate(ms.by_source):
        c = f"s{i}"
        code = chain(code, tgt_only & csat(cl.condition), c)
        if cl.action == "delete":
            del_codes.append(c)
        else:
            upd_assign[c] = cl.assignments or {}
    keep_or_drop = F.when(F.col("__t").isNotNull(),
                          F.lit("keep")).otherwise(F.lit("drop"))
    code = code.otherwise(keep_or_drop) if code is not None else keep_or_drop
    upd_codes = sorted(upd_assign)
    ins_codes = sorted(ins_specs)
    defaults = snap.defaults

    def new_val(c: str):
        """Post-update image of target column ``c`` (old value for
        keep / non-assigning clauses)."""
        e = None
        for uc in upd_codes:
            a = upd_assign[uc]
            if c in a:
                cexpr = F.expr(a[c]).cast(types[c])
                e = (F.when(F.col("__code") == uc, cexpr) if e is None
                     else e.when(F.col("__code") == uc, cexpr))
        basec = F.col(f"{ta}.{c}").cast(types[c])
        return (e.otherwise(basec) if e is not None else basec)

    def ins_val(c: str):
        """Insert image of column ``c``, per firing insert clause:
        listed expression > INSERT * by-name > DEFAULT > NULL.
        Identity columns stay NULL (the dense allocator fills them)."""
        e = None
        for ic in ins_codes:
            cl = ins_specs[ic]
            if c in ident:
                cexpr = F.lit(None).cast(types[c])
            elif cl.columns is None:  # INSERT *
                if c in src_cols:
                    cexpr = F.col(f"{sa}.{c}").cast(types[c])
                elif c in defaults:
                    cexpr = F.expr(defaults[c]).cast(types[c])
                else:
                    cexpr = F.lit(None).cast(types[c])
            elif c in cl.columns:
                cexpr = F.expr(cl.values[cl.columns.index(c)]).cast(types[c])
            elif c in defaults:
                cexpr = F.expr(defaults[c]).cast(types[c])
            else:
                cexpr = F.lit(None).cast(types[c])
            e = (F.when(F.col("__code") == ic, cexpr) if e is None
                 else e.when(F.col("__code") == ic, cexpr))
        return e if e is not None else F.lit(None).cast(types[c])

    # Evaluate EVERY alias-qualified expression here, against the
    # joined frame (the only place the aliases resolve — the local
    # checkpoint below erases qualifiers), into disambiguated
    # __old_/__new_/__ins_ columns. This staged projection is what
    # gets pinned; every downstream job reads the pin.
    staged = joined.withColumn("__code", code).select(
        F.col("__code"),
        F.col("__t"),
        F.col("__trid"),
        *[F.col(f"{ta}.{c}").cast(types[c]).alias(f"__old_{c}")
          for c in tgt_cols],
        *[F.col(f"{ta}.{c}").alias(f"__old_{c}") for c in carry],
        *[new_val(c).alias(f"__new_{c}") for c in tgt_cols],
        *([ins_val(c).alias(f"__ins_{c}") for c in tgt_cols]
          if ins_codes else []),
    )
    work, ckpts = ds._tracked_local_ckpt(staged)
    ck2: list = []
    try:
        # Delta's multiple-match rule: a target row matched by more
        # than one source row may be modified by at most one of them
        if matched_codes and not skip_match_checks:
            dup = (
                work.filter(F.col("__code").isin(matched_codes))
                .groupBy("__trid").count().filter(F.col("count") > 1)
                .limit(1).count()
            )
            if dup:
                raise DataSourceException(
                    "MERGE INTO: multiple source rows matched and "
                    "attempted to modify the same target row"
                )
        # logical no-op probe: zero modified/inserted/deleted rows =>
        # no rewrite, no commit (a rewrite here would emit spurious
        # delete+insert CDF pairs for co-located surviving rows)
        touched = (
            work.filter(~F.col("__code").isin(["keep", "drop"]))
            .limit(1).count()
        )
        if touched == 0:
            return

        # per-target-row residue dedup: a row matched by several
        # sources where at most one clause fired keeps ONE image —
        # the modifying one when present, else a single kept copy.
        # Skipped when the caller guarantees unique source keys on an
        # equi ON (a target row then matches at most once).
        t_rows = work.filter(F.col("__t").isNotNull())
        if not skip_match_checks:
            wspec = Window.partitionBy("__trid").orderBy(
                F.when(F.col("__code") == "keep",
                       F.lit(1)).otherwise(F.lit(0))
            )
            t_rows = (t_rows.withColumn("__rn", F.row_number().over(wspec))
                      .filter(F.col("__rn") == 1))

        survivors = (t_rows.filter(~F.col("__code").isin(del_codes))
                     if del_codes else t_rows)
        new_t = survivors.select(
            F.col("__code"),
            *[F.col(f"__new_{c}").alias(c) for c in tgt_cols],
            *[F.col(f"__old_{c}").alias(c) for c in carry],
        )
        if "_x_rcv" in carry:
            # updated rows fall back to the new file's default commit
            # version; kept rows carry their old one
            upd_f = (F.col("__code").isin(upd_codes) if upd_codes
                     else F.lit(False))
            new_t = new_t.withColumn(
                "_x_rcv",
                F.when(upd_f, F.lit(None).cast("long"))
                .otherwise(F.col("_x_rcv")),
            )
        # generated columns not assigned by the firing update clause
        # recompute from the POST-assignment values (Delta's rule)
        for g, gexpr in sorted(snap.generated.items()):
            if g not in tgt_cols:
                continue
            regen_in = [uc for uc in upd_codes if g not in upd_assign[uc]]
            if regen_in:
                new_t = new_t.withColumn(
                    g,
                    F.when(F.col("__code").isin(regen_in),
                           F.expr(gexpr).cast(types[g]))
                    .otherwise(F.col(g)),
                )

        if ins_codes:
            ins_proj = work.filter(F.col("__code").isin(ins_codes)).select(
                *[F.col(f"__ins_{c}").alias(c) for c in tgt_cols]
            )
            # generated columns on inserted rows: NULL means "not set"
            # — compute the expression (explicit disagreeing values
            # still fail the generated:<col> check at the choke point)
            for g, gexpr in sorted(snap.generated.items()):
                if g in tgt_cols:
                    ins_proj = ins_proj.withColumn(
                        g,
                        F.when(F.col(g).isNull(),
                               F.expr(gexpr).cast(types[g]))
                        .otherwise(F.col(g)),
                    )
            ins_rows = ins_proj
            if snap.identity:
                ins_rows, ck2 = ds._allocate_identity_for_nulls(
                    ins_rows, snap)
        else:
            ins_rows = None

        result = new_t.select(*tgt_cols, *carry)
        if ins_rows is not None:
            ins_out = ins_rows
            for c in carry:  # fresh rows: ids come from baseRowId
                ins_out = ins_out.withColumn(c, F.lit(None).cast("long"))
            result = result.unionByName(ins_out)
        adds = ds._write_files(result, table, snap.partition_cols,
                               schema=write_schema)
        actions = list(ds._fold_identity_meta(
            snap, adds, write_schema, meta_actions))
        actions += [{"remove": {"path": p}} for p in candidates]
        actions += [{"add": a} for a in adds]
        if ds._cdf_enabled(snap.configuration):
            old_img = [F.col(f"__old_{c}").alias(c) for c in tgt_cols]
            upd_filter = (F.col("__code").isin(upd_codes) if upd_codes
                          else F.lit(False))
            del_filter = (F.col("__code").isin(del_codes) if del_codes
                          else F.lit(False))
            pre = (t_rows.filter(upd_filter).select(*old_img)
                   .withColumn("_change_type", F.lit("update_preimage")))
            post = (new_t.filter(upd_filter).select(*tgt_cols)
                    .withColumn("_change_type",
                                F.lit("update_postimage")))
            dels = (t_rows.filter(del_filter).select(*old_img)
                    .withColumn("_change_type", F.lit("delete")))
            cdc = pre.unionByName(post).unionByName(dels)
            if ins_rows is not None:
                cdc = cdc.unionByName(
                    ins_rows.withColumn("_change_type", F.lit("insert"))
                )
            actions += ds._write_cdc_files(cdc, table, write_schema,
                                           snap.partition_cols)
        ds._commit(table, ds._expect_unchanged(table, base), actions,
                   "MERGE", txn=txn)
    finally:
        ds._free_ckpts(spark, ckpts + ck2)
