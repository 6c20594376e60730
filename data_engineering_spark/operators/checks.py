"""Declarative data-quality constraint suite (Deequ-style).

A validation pass over a table — "o_totalprice is never null, always
positive; o_orderstatus comes from {O,F,P}; o_orderkey is unique" — is
usually written as one query per rule. At 100 TB that is N full scans.
Here every scan-expressible constraint compiles to a conditional
aggregate and the whole suite runs as ONE `df.agg(...)`: a single
scan, map-side partial aggregation, a one-row result exploded to a
long-form report. Adding a rule adds a column to the reduction, not a
pass over the data.

Constraint kinds (all scan-stage except `unique` and referential
integrity):

- ``completeness(col, min_frac)``     non-null fraction >= min_frac
- ``unique(col)``                     no value occurs twice
- ``min_value / max_value(col, b)``   numeric bound on the column
- ``mean_between(col, lo, hi)``       exact decimal-accumulated mean
- ``in_set(col, values, min_frac)``   membership fraction >= min_frac
- ``matches(col, regex, min_frac)``   rlike fraction >= min_frac
- ``row_count_between(lo, hi)``       table cardinality bound
- ``non_negative(col)``               shorthand min_value(col, 0)

`unique` uses COUNT(DISTINCT) inside the same agg — Spark plans the
multi-distinct via Expand (scan output × (distincts+1)); exact, and
still one scan. Referential integrity needs a join, so it is a
separate helper (`ri_violations`) that counts orphans with a LEFT ANTI
join — broadcast when the parent's key side is small, shuffle-keyed on
the join key otherwise (Catalyst/AQE decides; keys are fixed-width).

Report schema (long form, one row per constraint):
``(constraint, column, value, threshold, passed)`` where ``value`` is
the measured metric as double and ``passed`` the rule verdict.

Reference provenance: the reference validates batches only by schema
presence (incremental_kafka_s3_cdc.py:150-162, the envelope-parse null
guard); this suite generalizes that gate to arbitrary declarative
rules, which a 100 TB ingestion pipeline needs before publishing a
partition.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.types.frames import local_frame


@dataclass(frozen=True)
class Constraint:
    kind: str
    column: str | None
    threshold: float
    params: tuple[Any, ...] = field(default=())


def completeness(col: str, min_frac: float = 1.0) -> Constraint:
    return Constraint("completeness", col, min_frac)


def unique(col: str) -> Constraint:
    # metric = distinct/non-null count; 1.0 means no duplicates
    return Constraint("unique", col, 1.0)


def min_value(col: str, bound: float) -> Constraint:
    return Constraint("min_value", col, bound)


def max_value(col: str, bound: float) -> Constraint:
    return Constraint("max_value", col, bound)


def non_negative(col: str) -> Constraint:
    return Constraint("min_value", col, 0.0)


def mean_between(col: str, lo: float, hi: float) -> Constraint:
    return Constraint("mean_between", col, lo, params=(hi,))


def in_set(col: str, values: tuple, min_frac: float = 1.0) -> Constraint:
    return Constraint("in_set", col, min_frac, params=tuple(values))


def matches(col: str, regex: str, min_frac: float = 1.0) -> Constraint:
    return Constraint("matches", col, min_frac, params=(regex,))


def row_count_between(lo: int, hi: int) -> Constraint:
    return Constraint("row_count_between", None, float(lo), params=(hi,))


def _metric(c: Constraint, i: int) -> tuple[Column, str]:
    """Aggregate expression measuring the constraint, plus its alias."""
    a = f"__m{i}"
    col = F.col(c.column) if c.column else None
    # ratio metrics divide through try_divide: on an empty table (or
    # all-NULL column) the denominator is 0, which is a DIVIDE_BY_ZERO
    # crash under ANSI mode (the Spark 4 default) and NULL otherwise —
    # try_divide makes it NULL in BOTH modes, and the fail-closed
    # coalesce in run_checks turns that into passed=False
    if c.kind == "completeness":
        # count(col)/count(*): exact long counts, one IEEE division
        expr = F.try_divide(F.count(col), F.count(F.lit(1)))
    elif c.kind == "unique":
        expr = F.try_divide(F.count_distinct(col), F.count(col))
    elif c.kind == "min_value":
        expr = F.min(col.cast("double"))
    elif c.kind == "max_value":
        expr = F.max(col.cast("double"))
    elif c.kind == "mean_between":
        # exact decimal accumulation, single double cast (registry policy)
        expr = F.try_divide(
            F.sum(col.cast("decimal(18,2)")).cast("double"), F.count(col)
        )
    elif c.kind == "in_set":
        expr = F.try_divide(
            F.count(F.when(col.isin(list(c.params)), 1)), F.count(col)
        )
    elif c.kind == "matches":
        expr = F.try_divide(
            F.count(F.when(col.rlike(c.params[0]), 1)), F.count(col)
        )
    elif c.kind == "row_count_between":
        expr = F.count(F.lit(1)).cast("double")
    else:
        raise ValueError(f"unknown constraint kind: {c.kind}")
    return expr.cast("double").alias(a), a


def _passed(c: Constraint, value: Column) -> Column:
    if c.kind in ("completeness", "unique", "in_set", "matches"):
        return value >= F.lit(c.threshold)
    if c.kind == "min_value":
        return value >= F.lit(c.threshold)
    if c.kind == "max_value":
        return value <= F.lit(c.threshold)
    if c.kind == "mean_between":
        return (value >= F.lit(c.threshold)) & (value <= F.lit(c.params[0]))
    if c.kind == "row_count_between":
        return (value >= F.lit(c.threshold)) & (
            value <= F.lit(float(c.params[0]))
        )
    raise ValueError(f"unknown constraint kind: {c.kind}")


def run_checks(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Evaluate the suite in ONE aggregation pass.

    Returns the long-form report
    ``(constraint, column, value, threshold, passed)`` with one row per
    rule. The wide→long pivot runs over a single aggregated row (free);
    no data row ever reaches the driver."""
    if not constraints:
        raise ValueError("empty constraint suite")
    aggs, aliases = [], []
    for i, c in enumerate(constraints):
        e, a = _metric(c, i)
        aggs.append(e)
        aliases.append(a)
    wide = df.agg(*aggs)

    rows = []
    for c, a in zip(constraints, aliases):
        v = F.col(a)
        rows.append(
            F.struct(
                F.lit(c.kind).alias("constraint"),
                F.lit(c.column).cast("string").alias("column"),
                v.alias("value"),
                F.lit(c.threshold).cast("double").alias("threshold"),
                # fail CLOSED: on an empty table / all-NULL column the
                # ratio metrics are 0/0 -> NULL, and a NULL verdict
                # passes every `passed == False` gate unnoticed — an
                # unmeasurable constraint is a failed constraint
                F.coalesce(_passed(c, v), F.lit(False)).alias("passed"),
            )
        )
    return wide.select(
        F.explode(F.array(*rows)).alias("r")
    ).select("r.*")


def ri_violations(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity orphan count as a one-row report frame.

    LEFT ANTI join child→parent on the key: only key columns shuffle
    (fixed-width), the parent side deduplicates to its key set first so
    AQE can broadcast it when small. Returns
    ``(constraint, column, value, threshold, passed)`` matching
    `run_checks` output so suites union cleanly."""
    parents = parent.select(F.col(parent_key).alias(child_key)).distinct()
    orphans = (
        child.select(child_key)
        .where(F.col(child_key).isNotNull())
        .join(parents, on=child_key, how="left_anti")
    )
    return orphans.agg(
        F.count(F.lit(1)).cast("double").alias("value")
    ).select(
        F.lit("referential_integrity").alias("constraint"),
        F.lit(child_key).cast("string").alias("column"),
        F.col("value"),
        F.lit(0.0).alias("threshold"),
        (F.col("value") <= F.lit(0.0)).alias("passed"),
    )


def schema_contract_check(
    df: DataFrame, contract: dict[str, str], allow_extra: bool = False
) -> DataFrame:
    """Data-contract validation for a table's SCHEMA (the structural
    complement of `run_checks`' value rules): `contract` maps column
    name → expected Spark DDL type ("bigint", "array<double>", …).
    Returns one row per violation — missing column, wrong type, or
    (unless `allow_extra`) an uncontracted extra column; an empty
    result means the table honors its contract. Pure metadata — no
    job runs."""
    from pyspark.sql import types as T

    actual = {f.name: f.dataType for f in df.schema.fields}
    rows = []
    for name, ddl in contract.items():
        want = T._parse_datatype_string(ddl)
        if name not in actual:
            rows.append((name, "missing", ddl, None))
        elif actual[name] != want:
            rows.append(
                (name, "type_mismatch", ddl, actual[name].simpleString())
            )
    if not allow_extra:
        for name in actual:
            if name not in contract:
                rows.append(
                    (name, "unexpected", None, actual[name].simpleString())
                )
    return local_frame(
        df.sparkSession,
        rows,
        "column string, violation string, expected string, actual string",
    )
