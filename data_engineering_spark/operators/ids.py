"""Scale-safe global sequence numbers (surrogate-key assignment).

The naive way to number rows 1..N in a total order is
``row_number() OVER (ORDER BY ...)`` with no partition — Spark moves
the ENTIRE table into one task (WindowExec warns exactly this). The
distributed-classic alternative implemented here:

1. range-repartition + in-partition sort on the order columns, so
   partition p holds a contiguous, sorted slice of the total order;
2. count rows per partition (a metadata-sized aggregate — P longs);
3. cumulative-sum those counts on the driver into per-partition start
   offsets, broadcast them back;
4. ``seq_id = offset[p] + row_number() within p`` — the within-
   partition window never crosses executors.

Total cost: the one range shuffle you cannot avoid for a total order,
plus a count pass over the cached sorted frame. No single-task stage,
no driver materialization of data rows.

Determinism requires the order columns to form a unique key (otherwise
ties make ANY engine's numbering arbitrary); callers append a
tiebreaker column as the last order column, same as the top-k queries.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_spark.operators.materialize import CacheScope, attach
from data_engineering_spark.types.frames import local_frame


def assign_sequential_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "seq_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """See module docstring. The sorted frame is persisted so the
    count pass and the numbering pass observe identical sampled range
    bounds; it is attached to the result, and callers that are done
    with the result free it with ``materialize.release(result)``."""
    cols = [F.col(c) for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    sorted_df = (
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    # cache so the count pass and the numbering pass see the SAME
    # sampled range bounds / partition ids (repartitionByRange samples;
    # recomputing it in two independent jobs could draw different cuts)
    with CacheScope() as scope:
        sorted_df = scope.persist(
            sorted_df, StorageLevel.MEMORY_AND_DISK_DESER
        )
        counts = {
            r["__pid"]: r["n"]
            for r in sorted_df.groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    off = local_frame(
        spark, [(p, o) for p, o in offsets.items()], "__pid int, __off long"
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    out = (
        sorted_df.join(F.broadcast(off), "__pid")
        .withColumn(
            id_col, (F.col("__off") + F.row_number().over(w)).cast("long")
        )
        .drop("__pid", "__off")
    )
    return attach(out, sorted_df)
