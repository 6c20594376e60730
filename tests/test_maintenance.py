"""Maintenance: small-file compaction + orphan cleanup."""

from __future__ import annotations

import glob
import os

from data_engineering_spark.operators.maintenance import (
    compact_table,
    data_file_sizes,
    iceberg_maintenance_sql,
    remove_orphans,
)


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10_000).repartition(24).write.parquet(path)
    n_before = len(data_file_sizes(path))
    assert n_before >= 24

    assert compact_table(spark, path) is True
    n_after = len(data_file_sizes(path))
    assert n_after < n_before
    assert spark.read.parquet(path).count() == 10_000
    # idempotent: already compact → no-op
    assert compact_table(spark, path) is False


def test_remove_orphans(tmp_path):
    root = str(tmp_path)
    # a crashed plain-directory compaction's staging and displaced dirs
    os.makedirs(os.path.join(root, "t.compact-abc"))
    os.makedirs(os.path.join(root, "t.compact-def-replaced"))
    os.makedirs(os.path.join(root, "t"))
    # freshly-created dirs are protected by the age cutoff: a sweep
    # must never delete the LIVE staging of a concurrent compaction
    assert remove_orphans(root) == 0
    assert os.path.isdir(os.path.join(root, "t.compact-abc"))
    # a negative age sweeps immediately (the test's stand-in for "old")
    assert remove_orphans(root, max_age_s=-1) == 2
    assert glob.glob(os.path.join(root, "*.compact-*")) == []
    assert os.path.isdir(os.path.join(root, "t"))


def test_compact_pointer_table_sees_only_live_files(spark, tmp_path):
    """A pointer table keeps its previous version on disk; inventory
    counts and compaction rewrites only the live files, and the
    compacted version is committed with the rows unchanged."""
    from data_engineering_spark.operators.maintenance import lake_inventory
    from data_engineering_spark.operators.merge import MergeTable, live_dirs

    root = str(tmp_path / "lake")
    t = MergeTable(spark, f"{root}/t", ["id"], partition_by="p")
    rows = spark.range(400).selectExpr(
        "id", "CAST(id % 2 AS INT) AS p", "1L AS __ts_ms", "'c' AS __op"
    )
    t.merge(rows.repartition(12))
    # supersede partition 0's version: its old files stay on disk
    t.merge(rows.filter("p = 0").repartition(6))
    before = sorted(map(tuple, t.read().collect()))

    def n_live():
        return sum(
            len(glob.glob(os.path.join(d, "*.parquet")))
            for d in live_dirs(t.path)
        )

    on_disk = len(glob.glob(os.path.join(t.path, "**", "*.parquet"),
                            recursive=True))
    assert n_live() < on_disk
    assert data_file_sizes(t.path) and len(data_file_sizes(t.path)) == n_live()
    inv = {r["table"]: r for r in lake_inventory(spark, root).collect()}
    assert inv["t"]["n_files"] == n_live()

    assert compact_table(spark, t.path) is True
    assert sorted(map(tuple, t.read().collect())) == before
    assert n_live() <= 2  # one file per partition
    inv = {r["table"]: r for r in lake_inventory(spark, root).collect()}
    assert inv["t"]["n_files"] == n_live()


def test_iceberg_maintenance_sql():
    stmts = iceberg_maintenance_sql("lake", "db.sales")
    assert any("rewrite_data_files" in s and "536870912" in s for s in stmts)
    assert any("expire_snapshots" in s for s in stmts)
    assert any("remove_orphan_files" in s for s in stmts)


def test_lake_inventory(spark, tmp_path):
    from data_engineering_spark.operators.maintenance import lake_inventory
    from data_engineering_spark.operators.merge import MergeTable

    root = str(tmp_path / "lake")
    t1 = MergeTable(spark, f"{root}/sales", ["id"])
    t1.merge(spark.createDataFrame(
        [(1, "a", 1, "c"), (2, "b", 2, "c")],
        "id long, v string, __ts_ms long, __op string"))
    t2 = MergeTable(spark, f"{root}/users", ["id"], partition_by="p")
    t2.merge(spark.createDataFrame(
        [(1, 1, 1, "c"), (2, 2, 2, "c")],
        "id long, p int, __ts_ms long, __op string"))
    import os
    os.makedirs(f"{root}/_quarantine")  # hidden dirs excluded

    inv = {r["table"]: r for r in lake_inventory(spark, root).collect()}
    assert set(inv) == {"sales", "users"}
    assert inv["sales"]["n_files"] >= 1
    assert inv["sales"]["total_bytes"] > 0
    assert inv["sales"]["n_columns"] == 4
    assert inv["users"]["partition_cols"] == "p"
    assert inv["sales"]["partition_cols"] is None


def test_footer_stats_pushes_aggregate_and_matches_scan(spark):
    from pyspark.sql import functions as F

    from data_engineering_spark.operators.maintenance import footer_stats

    path = "/root/testdata/sf0.001/lineitem.parquet"
    got = footer_stats(spark, path, cols=["l_orderkey", "l_extendedprice"])
    want = (
        spark.read.parquet(path)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_l_orderkey"),
            F.max("l_orderkey").alias("max_l_orderkey"),
            F.min("l_extendedprice").alias("min_l_extendedprice"),
            F.max("l_extendedprice").alias("max_l_extendedprice"),
        )
        .collect()[0]
        .asDict()
    )
    assert got == want
    # the plan must actually push the aggregate into the scan
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set(
        "spark.sql.sources.useV1SourceList",
        ",".join(s for s in v1.split(",") if s.strip() != "parquet"),
    )
    try:
        agg = spark.read.parquet(path).agg(
            F.count(F.lit(1)), F.min("l_orderkey"), F.max("l_orderkey")
        )
        plan = agg._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "PushedAggregation: [COUNT(*)" in plan, plan
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
    # conf restoration: footer_stats must not leak the v2 switch
    assert "parquet" in spark.conf.get("spark.sql.sources.useV1SourceList")
