"""Skew utilities and advanced streaming (watermark, stateful UDF)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from data_engineering_spark.operators.skew import (
    salted_agg,
    salted_broadcast_join,
    with_salt,
)
from data_engineering_spark.registry import dec
from data_engineering_spark.streaming.stateful import (
    running_dedup_counts,
    watermarked_window_counts,
)

from tests.cdc_fixtures import ENVELOPE_SCHEMA  # noqa: F401 (fixture reuse)


def test_salt_is_deterministic(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(100)], ["id", "k"])
    a = with_salt(df, 8).collect()
    b = with_salt(df, 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    salts = {r["__salt"] for r in a}
    assert salts <= set(range(8)) and len(salts) > 1


def test_salted_agg_matches_plain(spark):
    # one hot key (90% of rows) + long tail
    rows = [("hot", float(i % 7)) for i in range(9000)]
    rows += [(f"k{i}", float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {
        (r["k"]): (r["n"], r["s"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("v")).cast("double").alias("s"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["s"], r["mx"])
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "s": (
                    F.sum(dec("v")),
                    F.sum("s").cast("decimal(18,2)"),
                ),
                "mx": (F.max("v"), F.max("mx")),
            },
            num_salts=16,
        )
        .withColumn("s", F.col("s").cast("double"))
        .collect()
    }
    assert salted == plain


def test_keep_last_agg_matches_window_on_hot_key(spark):
    """Skew-proof LWW (max-struct aggregation): on a batch where ONE key
    owns 10% of all rows — the hot-tenant CDC case — the algebraic
    variant returns exactly what the window variant returns. The skew
    win is structural: max() partial-aggregates map-side, so the hot
    key reduces inside every input partition instead of pinning one
    window task (AQE splits skewed joins, not skewed windows)."""
    from data_engineering_spark.operators.dedup import (
        keep_last,
        keep_last_agg,
    )

    rows = []
    for i in range(5000):
        # key "hot" takes every 10th row; 500 other keys take the rest
        k = "hot" if i % 10 == 0 else f"k{i % 500}"
        rows.append((k, "t1", i, i * 2, f"v{i}"))
    df = spark.createDataFrame(
        rows, "key string, __topic string, __ts_ms long, __offset long,"
        " value string"
    ).repartition(16)

    w = keep_last(df, ["key", "__topic"], "__ts_ms", ["__offset"])
    a = keep_last_agg(df, ["key", "__topic"], "__ts_ms", ["__offset"])
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, a.collect()))
    assert a.columns == df.columns
    # map-side combine present (partial_max BEFORE the exchange), and
    # no window operator anywhere: skew reduces map-side by design
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_max" in plan


def test_cdc_engine_lww_agg_mode(spark, tmp_path):
    """The pipeline's aggregate LWW (keep_last_agg) keeps the latest
    row per key on a batch with duplicate keyed updates."""
    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig
    from tests.test_cdc import _simple_envelope_batch

    eng = CdcEngine(spark, LakeConfig(root=str(tmp_path / "lake")))
    batch = _simple_envelope_batch(spark, [1, 2, 3]).union(
        _simple_envelope_batch(spark, [2, 3, 4])
    )
    eng.process_batch(batch)
    got = sorted((r["id"], r["v"]) for r in eng.tables["s"].read().collect())
    assert [i for i, _ in got] == [1, 2, 3, 4]


def test_salted_broadcast_join_matches_plain(spark):
    big = spark.createDataFrame(
        [("hot" if i % 10 else f"k{i}", i) for i in range(5000)], ["k", "v"]
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3)], ["k", "w"]
    )
    plain = sorted(
        map(tuple, big.join(small, "k").select("k", "v", "w").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_broadcast_join(big, small, ["k"])
            .select("k", "v", "w")
            .collect(),
        )
    )
    assert salted == plain


def test_watermarked_window_batch_equivalence(spark, sf_dir):
    from data_engineering_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    out = watermarked_window_counts(e, "6 hours", "1 hour")
    rows = out.collect()
    assert sum(r["n_events"] for r in rows) == e.count()


def test_stateful_dedup_counts_across_batches(spark, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()
    schema = "user_id long, event_type string, ts timestamp"
    spark.createDataFrame(
        [(1, "click", None), (1, "view", None), (2, "click", None)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(1, "click", None), (2, "purchase", None)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = running_dedup_counts(stream)
    sink = str(tmp_path / "mem")
    q = (
        out.writeStream.format("memory")
        .queryName("state_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    _ = sink

    # last update per user wins
    final = {}
    for r in spark.sql(
        "SELECT * FROM state_out"
    ).collect():
        final[r["user_id"]] = (r["n_events"], r["n_distinct_types"])
    assert final[1] == (3, 2)  # 3 events, types {click, view}
    assert final[2] == (2, 2)  # types {click, purchase}
    time.sleep(0)


def test_dedup_within_watermark_stream(spark, tmp_path):
    import datetime as dt

    from data_engineering_spark.streaming.stateful import (
        dedup_within_watermark,
    )

    src = tmp_path / "dw_in"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp"
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=5)),   # dup within watermark
        (2, t0 + dt.timedelta(minutes=1)),
        (2, t0 + dt.timedelta(minutes=2)),   # dup
        (3, t0 + dt.timedelta(minutes=3)),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    stream = spark.readStream.schema(schema).parquet(str(src))
    out = dedup_within_watermark(stream, ["event_id"], "ts", "30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dw_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM dw_out").collect()
    )
    assert got == [1, 2, 3]


def test_transform_with_state_across_batches(spark, tmp_path):
    """Spark 4 transformWithStateInPandas twin of the
    applyInPandasWithState operator: same state evolution, same output.
    Skipped where protobuf (its control channel) is absent."""
    import pytest as _pytest

    _pytest.importorskip("google.protobuf")
    from data_engineering_spark.streaming.stateful import running_counts_tws

    src = tmp_path / "tws_in"
    src.mkdir()
    schema = "user_id long, event_type string, ts timestamp"
    spark.createDataFrame(
        [(1, "click", None), (1, "view", None), (2, "click", None)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(1, "click", None), (2, "purchase", None)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        running_counts_tws(stream)
        .writeStream.format("memory")
        .queryName("tws_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = {}
    for r in spark.sql("SELECT * FROM tws_out").collect():
        final[r["user_id"]] = (r["n_events"], r["n_distinct_types"])
    assert final[1] == (3, 2)
    assert final[2] == (2, 2)


def test_hybrid_skew_join_matches_plain(spark):
    from data_engineering_spark.operators.skew import hybrid_skew_join

    big = spark.createDataFrame(
        [("hot", i) for i in range(500)]
        + [(f"k{i % 40}", i) for i in range(200)]
        + [("nomatch", i) for i in range(20)],
        ["k", "v"],
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k0", 2), ("k1", 3), ("k39", 4), ("onlysmall", 5)],
        ["k", "dim"],
    )
    expected = sorted(map(tuple, big.join(small, "k").collect()))
    for threshold in (1, 100, 10_000):  # all-hot, split, all-cold
        got = sorted(
            map(tuple, hybrid_skew_join(big, small, ["k"], threshold).collect())
        )
        assert got == expected, f"threshold={threshold}"


def test_hybrid_skew_join_sampled_detection(spark):
    from data_engineering_spark.operators.skew import hybrid_skew_join

    big = spark.createDataFrame(
        [("hot", i) for i in range(2000)] + [(f"k{i}", i) for i in range(100)],
        ["k", "v"],
    )
    small = spark.createDataFrame([("hot", 1), ("k5", 2)], ["k", "dim"])
    expected = sorted(map(tuple, big.join(small, "k").collect()))
    got = sorted(
        map(
            tuple,
            hybrid_skew_join(
                big, small, ["k"], hot_threshold=500, sample_fraction=0.25
            ).collect(),
        )
    )
    assert got == expected
