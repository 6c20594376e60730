"""Unit tests: merge engine (both backends), retry wrapper, Debezium
temporal conversions with known epoch values, snapshot SQL builders."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.functions import temporal as tmp
from data_engineering_spark.operators.merge import (
    MergeTable,
    merge_frames,
    merge_into_sql,
    with_retry,
)
from data_engineering_spark.snapshot.jdbc_snapshot import (
    audit_log_sql,
    bounds_sql,
    discover_tables_sql,
    prepare_snapshot_frame,
    primary_key_sql,
)


def test_merge_frames_upsert_delete(spark):
    target = spark.createDataFrame(
        [(1, "a", 100, "c"), (2, "b", 100, "c")],
        ["id", "val", "__ts_ms", "__op"],
    )
    source = spark.createDataFrame(
        [(2, "B", 200, "u"), (3, "c", 200, "c"), (1, None, 200, "d")],
        ["id", "val", "__ts_ms", "__op"],
    )
    out = {r["id"]: r for r in merge_frames(target, source, ["id"]).collect()}
    assert set(out) == {2, 3}
    assert out[2]["val"] == "B" and out[3]["val"] == "c"


def test_merge_frames_no_ts_guard_vs_guard(spark):
    target = spark.createDataFrame([(1, "new", 500, "u")],
                                   ["id", "val", "__ts_ms", "__op"])
    late = spark.createDataFrame([(1, "old", 100, "u")],
                                 ["id", "val", "__ts_ms", "__op"])
    # parity default: late overwrites
    assert merge_frames(target, late, ["id"]).collect()[0]["val"] == "old"
    # guard: newer stored row wins
    assert (
        merge_frames(target, late, ["id"], ts_guard=True)
        .collect()[0]["val"] == "new"
    )


def test_merge_frames_ts_guard_blocks_late_delete(spark):
    target = spark.createDataFrame([(1, "new", 500, "u")],
                                   ["id", "val", "__ts_ms", "__op"])
    late_del = spark.createDataFrame([(1, "x", 100, "d")],
                                     ["id", "val", "__ts_ms", "__op"])
    # parity default: late delete still removes the row
    assert merge_frames(target, late_del, ["id"]).count() == 0
    # guard: the older delete is ignored, stored row survives
    out = merge_frames(target, late_del, ["id"], ts_guard=True).collect()
    assert len(out) == 1 and out[0]["val"] == "new"
    # guard: a newer delete still removes
    fresh_del = spark.createDataFrame([(1, "x", 900, "d")],
                                      ["id", "val", "__ts_ms", "__op"])
    assert merge_frames(target, fresh_del, ["id"], ts_guard=True).count() == 0


def test_merge_frames_schema_evolution(spark):
    target = spark.createDataFrame([(1, "a", 100, "c")],
                                   ["id", "val", "__ts_ms", "__op"])
    source = spark.createDataFrame([(2, "b", 0.5, 200, "c")],
                                   ["id", "val", "disc", "__ts_ms", "__op"])
    out = {r["id"]: r for r in merge_frames(target, source, ["id"]).collect()}
    assert out[1]["disc"] is None and out[2]["disc"] == 0.5


def test_merge_into_sql_string():
    sql = merge_into_sql(
        "lake.db.sales", "updates", ["sale_id"],
        ["sale_id", "item_id", "__op"],
        partition_predicate="months(t.created_at) = months(s.created_at)",
    )
    assert "MERGE INTO lake.db.sales t USING updates s" in sql
    assert "t.__rds_id = s.__rds_id" in sql
    assert "t.sale_id = s.sale_id" in sql
    assert "months(t.created_at) = months(s.created_at)" in sql
    assert "WHEN MATCHED AND s.__op = 'd' THEN DELETE" in sql
    assert "WHEN MATCHED AND s.__op IN ('c', 'u', 'r')" in sql
    assert "WHEN NOT MATCHED AND NOT s.__op = 'd'" in sql


def test_merge_table_roundtrip(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), ["id"])
    t.merge(spark.createDataFrame([(1, "a", 1, "c")],
                                  ["id", "v", "__ts_ms", "__op"]))
    t.merge(spark.createDataFrame(
        [(1, "A", 2, "u"), (2, "b", 2, "c")],
        ["id", "v", "__ts_ms", "__op"]))
    out = {r["id"]: r["v"] for r in t.read().collect()}
    assert out == {1: "A", 2: "b"}


def test_with_retry_succeeds_after_failures():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("commit conflict")

    with_retry(flaky, attempts=5, sleep_s=0)
    assert calls["n"] == 3

    with pytest.raises(RuntimeError, match="after 2 attempts"):
        with_retry(lambda: 1 / 0, attempts=2, sleep_s=0)


# --- Debezium temporal semantics with known values -------------------------

def test_temporal_known_values(spark):
    df = spark.createDataFrame(
        [(19723, 1704067199123, 1704067199123456, 30_600_000_000,
          "2024-01-01T00:00:01Z")],
        ["days", "ms", "us", "tod_us", "zoned"],
    )
    row = df.select(
        tmp.epoch_days_to_date("days").alias("d"),
        tmp.epoch_millis_to_timestamp("ms").alias("ts_ms"),
        tmp.epoch_micros_to_timestamp("us").alias("ts_us"),
        tmp.micros_of_day_to_seconds("tod_us").alias("sod"),
        tmp.zoned_string_to_timestamp("zoned").alias("zts"),
        tmp.timestamp_to_epoch_millis(
            tmp.epoch_millis_to_timestamp("ms")).alias("ms_rt"),
    ).collect()[0]
    assert row["d"] == dt.date(2024, 1, 1)  # 19723 days since epoch
    assert row["ts_ms"] == dt.datetime(2023, 12, 31, 23, 59, 59, 123000)
    assert row["ts_us"] == dt.datetime(2023, 12, 31, 23, 59, 59, 123456)
    assert row["sod"] == 30600  # 08:30:00
    assert row["zts"] == dt.datetime(2024, 1, 1, 0, 0, 1)
    assert row["ms_rt"] == 1704067199123  # exact round-trip


# --- snapshot builders -----------------------------------------------------

def test_snapshot_sql_builders():
    assert "COLUMN_KEY = 'PRI'" in primary_key_sql("oms1", "sales")
    assert bounds_sql("sale_id", "oms1", "sales") == (
        "SELECT min(`sale_id`) AS lo, max(`sale_id`) AS hi "
        "FROM `oms1`.`sales`"
    )
    assert bounds_sql("sale_id", "oms1", "sales", quote="") == (
        "SELECT min(sale_id) AS lo, max(sale_id) AS hi FROM oms1.sales"
    )
    assert "REGEXP 'oms.*'" in discover_tables_sql("oms.*")
    assert audit_log_sql(2, "oms1", "sales", "lake.sales") == (
        "INSERT INTO insert_log2 VALUES ('oms1', 'sales', 'lake.sales')"
    )


def test_snapshot_sql_builders_reject_hostile_names():
    """Names discovered from information_schema are untrusted: quoting
    neutralizes backtick break-outs; literal escaping neutralizes quote
    break-outs; validate-only mode rejects anything non-bare."""
    hostile = "s`.`x` WHERE 1=1; DROP TABLE t; --"
    assert "``" in bounds_sql("k", "db", hostile)  # backticks doubled
    assert "DROP TABLE" in bounds_sql("k", "db", hostile)  # inert, quoted
    with pytest.raises(ValueError):
        bounds_sql("k", "db", hostile, quote="")
    with pytest.raises(ValueError):
        bounds_sql("k", "db", "t\nx")  # control chars never allowed
    # string-literal escaping in metadata probes
    assert "table_name = 'x'''" in primary_key_sql("db", "x'")
    assert "VALUES ('a''b'" in audit_log_sql(1, "a'b", "t", "s")


def test_prepare_snapshot_frame(spark):
    df = spark.createDataFrame([(1, True, "x")], ["Sale ID", "flag", "v"])
    out = prepare_snapshot_frame(df, tenant_id=7, rds_id=3)
    assert "sale_id" in out.columns
    row = out.collect()[0]
    assert row["flag"] == 1  # boolean compat cast
    assert row["__op"] == "r" and row["__tenant_id"] == 7
    assert row["__rds_id"] == 3 and row["__dp_update_ts"] is not None


def test_keep_last_matches_reference_pandas_bridge(spark):
    """SURVEY §2.10: the reference compacts batches through the
    pandas-on-Spark bridge (incremental_kafka_s3_cdc.py:321-324 —
    pandas_api() + drop_duplicates(subset=['key','__topic'],
    keep='last')). Our keep_last window must select the same survivors
    the bridge does when rows are pre-ordered by ingest order, proving
    the DataFrame-native replacement is drop-in."""
    import pyspark.pandas as ps  # noqa: F401  (the reference's bridge)

    from data_engineering_spark.operators.dedup import keep_last

    rows = [
        ("k1", "t1", 100, "a"),
        ("k1", "t1", 300, "b"),   # later ts wins
        ("k1", "t2", 150, "c"),   # different topic — separate group
        ("k2", "t1", 100, "d"),
        ("k1", "t1", 200, "e"),
    ]
    df = spark.createDataFrame(
        rows, "key string, __topic string, __ts_ms long, v string"
    )
    ours = {
        (r["key"], r["__topic"]): r["v"]
        for r in keep_last(df, ["key", "__topic"], "__ts_ms").collect()
    }
    bridge = (
        df.orderBy("__ts_ms")
        .pandas_api()
        .drop_duplicates(subset=["key", "__topic"], keep="last")
        .to_spark()
    )
    theirs = {
        (r["key"], r["__topic"]): r["v"] for r in bridge.collect()
    }
    assert ours == theirs
    assert ours[("k1", "t1")] == "b"


def test_mergetable_writer_knobs(spark, tmp_path):
    """Per-table codec + row-per-file ceiling reach the physical files
    (Iceberg write.target-file-size/codec table properties, parquet
    edition)."""
    import glob

    from data_engineering_spark.operators.merge import MergeTable, live_dirs

    t = MergeTable(
        spark, str(tmp_path / "knobs"), ["id"],
        compression="gzip", max_records_per_file=100,
    )
    df = spark.range(450).selectExpr(
        "id", "CAST(id AS STRING) AS v",
        "CAST(1 AS LONG) AS __ts_ms", "'c' AS __op",
    ).coalesce(1)
    t.merge(df)
    (live,) = live_dirs(t.path)
    files = glob.glob(f"{live}/*.gz.parquet")
    assert files, "gzip codec not applied"
    # one input partition, 450 rows, ceiling 100 -> >= 5 files
    assert len(files) >= 5
    assert t.read().count() == 450


def test_concurrent_merges_same_table_no_lost_update(spark, tmp_path):
    """Two threads merging into the SAME MergeTable: the per-path lock
    serializes the read-merge-swap cycle, so neither batch is lost
    (without it, both read the same base and the later swap drops the
    earlier batch)."""
    import threading

    from data_engineering_spark.operators.merge import MergeTable

    t = MergeTable(spark, str(tmp_path / "conc"), ["id"])
    t.merge(spark.createDataFrame(
        [(0, "base", 1, "c")], "id long, v string, __ts_ms long, __op string"))

    def writer(lo):
        tt = MergeTable(spark, str(tmp_path / "conc"), ["id"])
        tt.merge(spark.createDataFrame(
            [(i, f"v{i}", 2, "c") for i in range(lo, lo + 20)],
            "id long, v string, __ts_ms long, __op string"))

    th = [threading.Thread(target=writer, args=(lo,)) for lo in (100, 200)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    ids = {r["id"] for r in t.read().collect()}
    assert ids == {0} | set(range(100, 120)) | set(range(200, 220))
