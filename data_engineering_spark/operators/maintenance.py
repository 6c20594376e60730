"""Table maintenance: compaction, stale-version cleanup (SURVEY.md §2.2 K8).

The reference carries dead-code Trino calls for optimize /
expire_snapshots / remove_orphan_files
(/root/reference/incremental_kafka_s3_cdc.py:405-423 — documented
intent). On an Iceberg deployment these map to the Spark procedures:

    CALL catalog.system.rewrite_data_files(table => t,
         options => map('target-file-size-bytes', '536870912'))
    CALL catalog.system.expire_snapshots(table => t)
    CALL catalog.system.remove_orphan_files(table => t)

For the parquet-core backend we implement the same outcomes directly.
A MergeTable already expires snapshots itself: each commit deletes the
version directories that neither it nor its predecessor names
(operators/merge._commit_version). Here:

- small-file compaction by rewrite (512 MB targets, matching the
  reference's write.target-file-size-bytes). A pointer-committed table
  is compacted into a new version through MergeTable's own commit; a
  plain parquet directory is rewritten beside itself and swapped in.
- orphan cleanup of a plain directory's crashed compaction leftovers.
- inventory and footer statistics that see a pointer table's live
  files only (merge.live_dirs), never the retained previous version.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import SparkSession

from data_engineering_spark.operators.merge import (
    live_dirs,
    read_commit,
    rewrite_live,
)
from data_engineering_spark.types.frames import local_frame

TARGET_FILE_BYTES = 512 * 1024 * 1024  # reference :132


def iceberg_maintenance_sql(catalog: str, table: str) -> list[str]:
    """The Iceberg-backend maintenance statements (parity with the
    reference's intended optimize/expire/remove calls)."""
    return [
        f"CALL {catalog}.system.rewrite_data_files(table => '{table}', "
        f"options => map('target-file-size-bytes', '{TARGET_FILE_BYTES}'))",
        f"CALL {catalog}.system.expire_snapshots(table => '{table}')",
        f"CALL {catalog}.system.remove_orphan_files(table => '{table}')",
    ]


def _data_files(path: str) -> list[str]:
    """A table's parquet data files: a pointer table's live
    directories only, else everything under the directory."""
    roots = live_dirs(path)
    return [
        f
        for root in (roots if roots is not None else [path])
        for f in glob.glob(os.path.join(root, "**", "*.parquet"),
                           recursive=True)
        if not os.path.basename(f).startswith(("_", "."))
    ]


def data_file_sizes(path: str) -> list[int]:
    return [os.path.getsize(f) for f in _data_files(path)]


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    small_file_threshold: float = 0.5,
) -> bool:
    """Rewrite a parquet table directory when it has accumulated small
    files (CDC merge churn produces them). Returns True if compacted.

    A file is 'small' below threshold·target; compaction rewrites into
    ceil(total/target) files via coalesce (no shuffle — pure bin-packing
    of existing partitions). A pointer-committed table gets the result
    as one new version (merge.rewrite_live — readers see the old or the
    new version, never a mix); a plain directory is rewritten to a
    sibling and swapped in with two renames."""
    sizes = data_file_sizes(path)
    if not sizes:
        return False
    small = [s for s in sizes if s < target_file_bytes * small_file_threshold]
    if len(small) <= 1:
        return False
    total = sum(sizes)
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    if n_out >= len(sizes):
        return False
    if read_commit(path) is not None:
        rewrite_live(spark, path, lambda df: df.coalesce(int(n_out)))
        return True

    df = spark.read.parquet(path)
    # a hive-partitioned table must compact per partition, or the
    # rewrite FLATTENS the layout (partition values become plain data
    # columns and directory pruning is destroyed by a routine
    # maintenance run). Partition columns are recovered from the
    # key=value components of any data file's relative path.
    part_cols = _partition_columns(path)
    staging = f"{path}.compact-{uuid.uuid4().hex}"
    w = df.coalesce(int(n_out)).write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(staging)
    replaced = f"{staging}-replaced"
    os.replace(path, replaced)
    shutil.move(staging, path)
    shutil.rmtree(replaced, ignore_errors=True)
    return True


def _partition_columns(path: str) -> list[str]:
    """Hive partition columns of a parquet directory, in layout order,
    parsed from the first data file's relative path components."""
    for dirpath, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            rel = os.path.relpath(dirpath, path)
            if rel == ".":
                return []
            return [
                comp.split("=", 1)[0]
                for comp in rel.split(os.sep)
                if "=" in comp
            ]
    return []


def remove_orphans(root: str, max_age_s: float = 3600.0) -> int:
    """Delete the ``*.compact-*`` directories a crashed plain-directory
    compaction left under ``root`` — the parquet analogue of
    remove_orphan_files. Returns count removed. (A pointer table's own
    leftovers are removed by its next commit.)

    ``max_age_s``: only directories whose mtime is older than this are
    touched — a scheduled orphan sweep must not delete the LIVE staging
    directory of a concurrently running compaction (Iceberg's
    remove_orphan_files defaults to a 3-day cutoff for the same race)."""
    import time

    cutoff = time.time() - max_age_s
    removed = 0
    for d in glob.glob(os.path.join(root, "*.compact-*")):
        try:
            if os.path.getmtime(d) > cutoff:
                continue
        except OSError:
            continue
        shutil.rmtree(d, ignore_errors=True)
        removed += 1
    return removed


def lake_inventory(spark: SparkSession, root: str):
    """Operational inventory of a lake root: one row per table directory
    with file count, total bytes, mean file size (the compaction
    trigger signal), column count and partition layout — what an
    operator consults before scheduling compact_table/remove_orphans.
    Driver-side directory walking over TABLE METADATA (file listings),
    no data read except one parquet footer per table for the schema."""
    rows = []
    for entry in sorted(os.listdir(root)):
        tdir = os.path.join(root, entry)
        if not os.path.isdir(tdir) or entry.startswith(("_", ".")):
            continue
        files = _data_files(tdir)
        if not files:
            continue
        total = sum(os.path.getsize(p) for p in files)
        parts = sorted(
            {
                seg.split("=")[0]
                for p in files
                for seg in os.path.relpath(p, tdir).split(os.sep)[:-1]
                if "=" in seg
            }
        )
        n_cols = len(spark.read.parquet(files[0]).columns)
        rows.append(
            (
                entry,
                len(files),
                total,
                total // len(files),
                n_cols,
                ",".join(parts) if parts else None,
            )
        )
    return local_frame(
        spark,
        rows,
        "table string, n_files long, total_bytes long, "
        "mean_file_bytes long, n_columns int, partition_cols string",
    )


def footer_stats(
    spark: SparkSession,
    path: str,
    cols: Sequence[str] = (),
) -> dict:
    """Table stats answered from parquet FOOTER metadata, never data
    pages: COUNT(*) plus MIN/MAX per requested column. At 100 TB this
    is the difference between a multi-minute scan and a file-listing:
    Spark's DSv2 parquet reader pushes the whole aggregate into the
    scan (`PushedAggregation: [COUNT(*), MIN(..), MAX(..)]`) and each
    task reads only row-group statistics.

    Both required confs (v2 parquet path + aggregatePushdown) are set
    for the duration of the call and restored after — the v1/v2 choice
    affects every other parquet scan in the session, so leaking it
    would change unrelated plans. Pushdown holds for numeric/date
    columns with no filter; timestamp min/max does not push (parquet
    stats-conversion rules), so pass numeric columns or accept a data
    scan. The plan is asserted pushed in tests/test_maintenance.py,
    not assumed.
    """
    from pyspark.sql import functions as F

    prev_push = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v1 = spark.conf.get(
        "spark.sql.sources.useV1SourceList",
        "avro,csv,json,kafka,orc,parquet,text",
    )
    v2_list = ",".join(
        s for s in prev_v1.split(",") if s.strip() != "parquet"
    )
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", v2_list)
    try:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
        roots = live_dirs(path)
        if roots is None:
            df = spark.read.parquet(path)
        else:
            # basePath keeps a partitioned table's partition column
            df = spark.read.option("basePath", path).parquet(*roots)
        row = df.agg(*aggs).collect()[0]
        return row.asDict()
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
