"""Distributed exact total-order ranks — without the global
single-partition sort a bare ``row_number()/ntile() OVER (ORDER BY …)``
plans (the round-7 scale-killer class, banned by
tests/test_plan_budgets.py's unpartitioned-window gate).

The shape: approxQuantile boundaries on the leading order column (one
sketch pass, driver-side, embedded as literals) define a range id that
is a PURE FUNCTION of the row — unlike ``repartitionByRange`` +
``spark_partition_id()``, whose RangePartitioner re-samples with an
RDD-id-derived seed on every action, so two jobs over the same frame
can disagree on the assignment (measured ±14 rows/bucket at sf0.01
before this design). Per-range counts collect to the driver (≤ n_parts
rows, metadata-sized), exclusive prefix sums broadcast back, and the
global rank is offset + a PARTITIONED row_number. Each task sorts
~N/P rows; the only global coordination is the tiny counts collect.

Rows with equal leading values share a range (the id is monotone and
never splits ties), so ranges are disjoint and ordered; with a unique
(value_col, id_col) key the total order — and everything derived from
it — is deterministic and engine-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_spark.types.frames import local_frame


def exact_global_rank(
    df: DataFrame,
    value_col: str,
    id_col: str,
    rank_col: str = "__rank",
    n_parts: int = 32,
) -> tuple[DataFrame, int]:
    """(frame + 1-based ``rank_col`` over the (value_col, id_col)
    total order, total row count). Empty input returns (empty frame
    with the rank column, 0).

    ``value_col`` must be non-null and non-NaN — ENFORCED (raises
    ``ValueError``). A null comparison drops every boundary in the
    range-id array filter (all nulls would silently land in range 0)
    while the per-range sort then orders NULLS FIRST in Spark but
    NULLS LAST in DuckDB, so the bit-exact cross-engine contract this
    operator advertises cannot hold for null/NaN keys; callers with
    nullable keys must filter or impute first, explicitly. The check
    rides the existing per-range counts collect — no extra action."""
    from pyspark.sql.types import DoubleType, FloatType

    spark = df.sparkSession
    e0 = df.select(value_col, id_col)
    bounds = sorted(
        set(
            e0.stat.approxQuantile(
                value_col,
                [i / n_parts for i in range(1, n_parts)],
                0.001,
            )
        )
    )
    barr = F.array(*[F.lit(float(b)) for b in bounds])
    bad = F.col(value_col).isNull()
    if isinstance(e0.schema[value_col].dataType, (DoubleType, FloatType)):
        bad = bad | F.isnan(value_col)
    pid_expr = (
        F.when(bad, F.lit(None).cast("int"))
        .otherwise(
            F.size(F.filter(barr, lambda b: F.col(value_col) > b))
        )
        .alias("__pid")
    )
    e2 = e0.select(value_col, id_col, pid_expr)
    count_rows = (
        e2.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    n_bad = sum(r["cnt"] for r in count_rows if r["__pid"] is None)
    if n_bad:
        raise ValueError(
            f"exact_global_rank: {n_bad} row(s) with null/NaN "
            f"{value_col!r} — the total-order contract requires "
            "non-null, non-NaN keys (filter or impute first)"
        )
    counts = sorted(
        (r["__pid"], r["cnt"]) for r in count_rows
    )
    total = sum(c for _, c in counts)
    if total == 0:
        empty = df.select(value_col, id_col).withColumn(
            rank_col, F.lit(0).cast("long")
        )
        return empty, 0
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    off_df = local_frame(spark, offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(value_col, id_col)
    ranked = (
        e2.withColumn("__lr", F.row_number().over(w).cast("long"))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(rank_col, F.col("__off") + F.col("__lr"))
        .drop("__pid", "__off", "__lr")
    )
    return ranked, total


def ntile_expr(rank_col: str, total: int, n_buckets: int):
    """1-based ntile bucket from a 1-based global rank — the closed
    form (first ``total mod k`` buckets get ``⌈total/k⌉`` rows) in
    exact integer ``div`` arithmetic (a double division can round up
    across a bucket edge at 2^50-scale ranks)."""
    base, rem = divmod(total, n_buckets)
    big_span = rem * (base + 1)
    bucket = F.when(
        F.col(rank_col) <= F.lit(big_span),
        F.expr(f"({rank_col} - 1) div {base + 1}"),
    ).otherwise(
        F.lit(rem)
        + F.expr(f"({rank_col} - {big_span} - 1) div {max(base, 1)}")
    )
    return (bucket + 1).cast("int")


def exact_ntile(
    df: DataFrame,
    n_buckets: int,
    value_col: str,
    id_col: str,
    bucket_col: str = "bucket",
    n_parts: int = 32,
) -> DataFrame:
    """(value_col, id_col, bucket_col): exact ntile(n_buckets) over
    the (value_col, id_col) total order, distributed (no
    single-partition sort). Matches ANSI/DuckDB ntile bit-exactly
    when (value_col, id_col) is a unique key."""
    ranked, total = exact_global_rank(
        df, value_col, id_col, n_parts=n_parts
    )
    if total == 0:
        return df.select(value_col, id_col).withColumn(
            bucket_col, F.lit(0).cast("int")
        )
    return ranked.select(
        value_col,
        id_col,
        ntile_expr("__rank", total, n_buckets).alias(bucket_col),
    )
