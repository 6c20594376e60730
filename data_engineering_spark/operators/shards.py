"""Training-shard export: deterministic fixed-size shards + manifest.

The terminal step of a training-data pipeline: materialize the curated
corpus as numbered shards of exactly `shard_size` rows (last shard
ragged) in a stable global order, plus a manifest the training job can
trust (per-shard row counts and a content fingerprint). Determinism is
the contract — the same corpus must produce byte-identical shard
membership on rerun, or resumed training silently sees reshuffled data.

Scale shape: the global order reuses `assign_sequential_ids` (one
range shuffle, no single-task stage); shard assignment is integer
division on the sequence number; the write is `partitionBy(shard)`
with one file per shard via an in-partition repartition on the shard
id. The manifest is an n_shards-row aggregate — metadata.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_spark.operators.dedup import fingerprint_expr
from data_engineering_spark.operators.ids import assign_sequential_ids
from data_engineering_spark.operators.materialize import release


def _row_fp(order_cols: Sequence[str]) -> F.Column:
    """60-bit per-row fingerprint over the order columns — ONE
    definition shared by write and verify (two drifting copies would
    break verification), built on dedup.fingerprint_expr so column
    boundaries and NULLs are unambiguous (bare concat_ws('') made
    ('ab','c') == ('a','bc') and skipped NULLs entirely)."""
    return F.conv(
        F.substring(fingerprint_expr(order_cols), 1, 15), 16, 10
    ).cast("long")


def write_sharded_dataset(
    df: DataFrame,
    path: str,
    order_cols: Sequence[str],
    shard_size: int,
    num_partitions: int | None = None,
    fmt: str = "parquet",
    compression: str | None = None,
) -> DataFrame:
    """Write `df` as `path/shard=NNNN/` parquet shards of `shard_size`
    rows in (order_cols) global order; returns the manifest frame
    (shard, n_rows, id_fingerprint) that was also written to
    `path/_manifest`.

    The fingerprint is an order-independent decimal-accumulated SUM
    of per-row sha2-derived 60-bit integers over the order columns
    (decimal so a trillion-row shard cannot overflow the accumulator)
    — cheap, deterministic, and enough to detect any membership or
    assignment drift between writes."""
    if shard_size <= 0:
        raise ValueError("shard_size must be positive")
    seq = assign_sequential_ids(
        df, order_cols, id_col="__seq", num_partitions=num_partitions
    )
    sharded = seq.withColumn(
        "shard", ((F.col("__seq") - 1) / F.lit(shard_size)).cast("long")
    )
    row_fp = F.conv(
        F.substring(
            F.sha2(
                F.concat_ws(
                    "", *[F.col(c).cast("string") for c in order_cols]
                ),
                256,
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    out = sharded.drop("__seq")
    w = (
        out.repartition("shard")
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .partitionBy("shard")
        .format(fmt)  # parquet for lakes; "json" = the JSONL wire
        # format most text-training stacks consume (gzip per shard)
    )
    if compression:
        w = w.option("compression", compression)
    w.save(path)
    manifest = (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(row_fp.cast("decimal(38,0)")).alias("id_fingerprint"),
        )
        .orderBy("shard")
    )
    manifest.write.mode("overwrite").parquet(f"{path}/_manifest")
    # all consumers of the sequence frame have run; release the cache
    # assign_sequential_ids pinned (one full-corpus copy per export
    # otherwise). The returned manifest re-reads the written parquet,
    # so it stays valid after the release.
    release(seq)
    return df.sparkSession.read.parquet(f"{path}/_manifest")


def verify_shards(
    spark: SparkSession,
    path: str,
    order_cols: Sequence[str],
    fmt: str = "parquet",
) -> DataFrame:
    """Re-derive the manifest from the written shards and join it to
    the stored one: (shard, n_rows, id_fingerprint, ok). A training
    job runs this before trusting a dataset directory. `_manifest`
    lives under the dataset root but starts with '_', so Hadoop's
    hidden-file filter keeps it out of the data scan."""
    stored = spark.read.parquet(f"{path}/_manifest")
    data = spark.read.format(fmt).load(path)
    row_fp = F.conv(
        F.substring(
            F.sha2(
                F.concat_ws(
                    "", *[F.col(c).cast("string") for c in order_cols]
                ),
                256,
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    derived = data.groupBy("shard").agg(
        F.count(F.lit(1)).alias("d_rows"),
        F.sum(row_fp.cast("decimal(38,0)")).alias("d_fp"),
    )
    return (
        stored.join(derived, "shard", "full_outer")
        .select(
            "shard",
            "n_rows",
            "id_fingerprint",
            # coalesce: a shard missing entirely from one side leaves
            # that side's columns NULL, and NULL == x is NULL — the
            # verifier would fail OPEN on whole-shard loss
            F.coalesce(
                (F.col("n_rows") == F.col("d_rows"))
                & (F.col("id_fingerprint") == F.col("d_fp")),
                F.lit(False),
            ).alias("ok"),
        )
        .orderBy("shard")
    )
