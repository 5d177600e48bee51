"""Join-based MERGE algebra (Delta MERGE semantics as pure DataFrame ops).

Given a target and source DataFrame plus a MergeSpec, produce the
post-merge state:

- matched rows (pk equality AND extra predicate) -> update set columns
  from the source
- unmatched target rows -> unchanged
- unmatched source rows -> inserted with pk+update columns, other
  columns NULL (upsert only; reference quirk SURVEY §8.7)

This is exactly the join phase Delta MERGE executes under the hood
(reference: etl/update_and_upsert.py + datasource/delta.py:135-148);
expressing it as a DataFrame program lets Catalyst choose the join
strategy (broadcast when the source is small, sort-merge otherwise) and
makes the semantics oracle-checkable as plain SQL.

Scale notes: one shuffle of each side on the primary key; AQE handles
skewed keys. No driver-side materialization.

This is the reference algebra for the connectors that merge by
rewriting a whole table or partition (DuckDB, JDBC, parquet catalog)
and for the relational plans. txlog tables do not use it: their
DELETE, UPDATE and MERGE all run through one row-level engine,
``x_spark.sources.sql_dml._merge_into_once``, which stages one
target-slice x source join and writes it copy-on-write or as
deletion-vector masks.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from x_spark.errors import ETLJobException
from x_spark.sources.base import MergeSpec

_SRC_MARKER = "__x_spark_src_marker"


def check_unique_source_keys(src: DataFrame, spec: MergeSpec) -> None:
    """Delta MERGE aborts when one target row matches multiple source
    rows; enforce the same contract (bounded: LIMIT 1 probe)."""
    dup = (
        src.groupBy(*spec.primary_key_columns)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ETLJobException(
            "merge source has duplicate rows per primary key "
            f"{spec.primary_key_columns}; Delta MERGE would abort"
        )


def _insert_col(c: str, set_cols: set, tgt_dtypes: dict,
                insert_defaults: dict[str, str] | None):
    """One inserted row's column: source value for set columns,
    DEFAULT expression (when declared) or NULL otherwise — always
    assignment-cast to the target type."""
    if c in set_cols:
        return F.col(f"SRC.{c}").cast(tgt_dtypes[c]).alias(c)
    d = (insert_defaults or {}).get(c)
    base = F.expr(d) if d is not None else F.lit(None)
    return base.cast(tgt_dtypes[c]).alias(c)


def merge_frames(tgt: DataFrame, src: DataFrame, spec: MergeSpec,
                 insert_defaults: dict[str, str] | None = None) -> DataFrame:
    """Return the post-merge state of ``tgt``. ``insert_defaults``
    (col -> constant SQL expr) fills non-set columns of INSERTED rows
    with their DEFAULT instead of NULL (Delta's allowColumnDefaults);
    matched/unmatched target rows are never touched by it."""
    if spec.validate_unique_source_keys:
        check_unique_source_keys(src, spec)

    tgt_cols = tgt.columns
    tgt_dtypes = dict(tgt.dtypes)
    set_cols = set(spec.all_set_columns)
    missing = [c for c in set_cols if c not in tgt_cols]
    if missing:
        raise ETLJobException(f"merge columns {missing} not present in target")

    src_marked = src.withColumn(_SRC_MARKER, F.lit(True)).alias("SRC")
    tgt_aliased = tgt.alias("TGT")
    pk_cond = reduce(
        lambda a, b: a & b,
        [F.col(f"TGT.{c}") == F.col(f"SRC.{c}") for c in spec.primary_key_columns],
    )
    cond = pk_cond & F.expr(spec.extra_target_predicate)

    matched = F.col(f"SRC.{_SRC_MARKER}").isNotNull()
    updated = tgt_aliased.join(src_marked, cond, "left").select(
        *[
            (
                F.when(matched, F.col(f"SRC.{c}")).otherwise(F.col(f"TGT.{c}")).alias(c)
                if c in set_cols
                else F.col(f"TGT.{c}").alias(c)
            )
            for c in tgt_cols
        ]
    )
    if not spec.insert_when_not_matched:
        return updated

    inserts = src_marked.join(tgt.alias("TGT"), cond, "left_anti").select(
        *[_insert_col(c, set_cols, tgt_dtypes, insert_defaults)
          for c in tgt_cols]
    )
    return updated.unionByName(inserts)

