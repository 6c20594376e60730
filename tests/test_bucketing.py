"""Bucketed tables: the co-located join must actually skip the shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.plans.explain import plan_string
from data_engineering_spark.sources.lake_writer import write_bucketed_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bucket_wh")
    lineitem = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    write_bucketed_table(
        lineitem, "b_lineitem", "l_orderkey", num_buckets=8,
        sort_by="l_orderkey", path=str(wh / "b_lineitem"),
    )
    write_bucketed_table(
        orders, "b_orders", "o_orderkey", num_buckets=8,
        sort_by="o_orderkey", path=str(wh / "b_orders"),
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l = spark.table("b_lineitem")
        o = spark.table("b_orders")
        joined = l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = plan_string(joined)
        assert "Exchange" not in plan, plan[:3000]

        got = joined.count()
        expect = (
            load_table(spark, SF, "lineitem")
            .join(
                load_table(spark, SF, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert got == expect
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_aggregation_has_no_shuffle(spark, bucketed):
    l = spark.table("b_lineitem")
    agg = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    plan = plan_string(agg)
    assert "Exchange" not in plan, plan[:3000]
    assert agg.count() == load_table(spark, SF, "lineitem").select(
        "l_orderkey"
    ).distinct().count()

def test_session_config_builders():
    from data_engineering_spark.session import iceberg_configs, s3_configs

    ic = iceberg_configs("lake", "s3a://wh/")
    assert ic["spark.sql.catalog.lake.warehouse"] == "s3a://wh/"
    assert "IcebergSparkSessionExtensions" in ic["spark.sql.extensions"]
    s3 = s3_configs("http://minio:9000", "ak", "sk")
    assert s3["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"
    assert s3["spark.hadoop.fs.s3a.path.style.access"] == "true"


def test_driver_memory_fits_the_host():
    from data_engineering_spark.session import driver_memory

    gib = 2**30
    assert driver_memory(15 * gib) == f"{15 * 1024 * 3 // 4}m"
    assert driver_memory(4 * gib) == "3072m"
    # capped on large hosts; the cap when the size is unknown
    assert driver_memory(64 * gib) == "16384m"
    assert driver_memory(None) == "16384m"
