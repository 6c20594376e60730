"""Event-stream / CDC-shaped queries over the `events` table.

These exercise the reference's core CDC semantics on the driver's data:
last-write-wins compaction per key (incremental_kafka_s3_cdc.py:321-325),
op-code dispatch upsert-vs-delete (:272-276), event-time handling
(`__ts_ms`, :380), plus JSON payload extraction and sessionization.

Timestamps are compared as epoch millis (BIGINT) — engine-neutral, no
timezone semantics in the result.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.functions.temporal import (
    epoch_days_to_date,
    timestamp_to_epoch_micros,
    timestamp_to_epoch_millis,
)
from data_engineering_spark.operators.dedup import keep_last
from data_engineering_spark.registry import dsum, query, sql_dsum


@query(
    "q_events_keep_last_per_user",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def q_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins snapshot per key — the reference's CDC compaction
    (pandas drop_duplicates keep='last', :321-325) as a single-shuffle
    window; event_id is the total-order tiebreaker (SURVEY §7d)."""
    e = load_table(spark, sf_dir, "events")
    return keep_last(e, ["user_id"], "ts", tiebreakers=["event_id"]).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        timestamp_to_epoch_millis("ts").alias("ts_ms"),
    )


@query(
    "q_cdc_apply_events",
    oracle="""
    SELECT user_id, event_type AS last_op, value,
           CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert/delete dispatch: treat `error` as the delete op-code —
    keys whose *final* event is a delete vanish from the snapshot; all
    other ops upsert (MERGE semantics, reference :272-276)."""
    e = load_table(spark, sf_dir, "events")
    last = keep_last(e, ["user_id"], "ts", tiebreakers=["event_id"])
    return last.filter(F.col("event_type") != "error").select(
        "user_id",
        F.col("event_type").alias("last_op"),
        "value",
        timestamp_to_epoch_millis("ts").alias("ts_ms"),
    )


@query(
    "q_events_daily_stats",
    oracle=f"""
    SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')},
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time daily rollup — the batch equivalent of a tumbling
    window aggregation (streaming shell runs the same plan per
    micro-batch)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "q_events_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (reference F1 `from_json` family — here
    the scalar-path `get_json_object`)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias(
                "k_bucket"
            )
        )
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 1800000
                  OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + prefix
    flags — batch twin of a streaming session window."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ms = F.unix_millis(F.lag("ts").over(w))
    new_sess = F.when(
        prev_ms.isNull() | (F.unix_millis(F.col("ts")) - prev_ms > 1_800_000),
        1,
    ).otherwise(0)
    return (
        e.select("user_id", new_sess.alias("new_sess"))
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "q_events_tumbling_window",
    oracle=f"""
    WITH w AS (
      SELECT event_type, value,  user_id,
             epoch_ms(ts) // 21600000 * 21600000 AS win_start_ms
      FROM events)
    SELECT event_type,
           make_timestamp(win_start_ms * 1000) AS window_start,
           COUNT(*) AS n_events,
           {sql_dsum('value', 'sum_value')},
           COUNT(DISTINCT user_id) AS n_users
    FROM w GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour tumbling event-time windows via F.window — THE streaming
    aggregation shape (readStream + withWatermark runs this identical
    plan incrementally; Spark aligns windows to the epoch, mirrored in
    the oracle's integer arithmetic). window_start emitted as NTZ."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.window("ts", "6 hours").getField("start")
            .cast("timestamp_ntz")
            .alias("window_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "q_events_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(FLOOR(value / 25.0) AS INT) AS bucket,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (floor-bucket integer
    arithmetic — deterministic across engines)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.floor(F.col("value") / 25.0).cast("int").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


_APX_K = 2048  # KMV size AND percentile sample size: exact below 2048
# distinct values / rows per group (every test sf), ~2.2% rsd distinct
# estimate and ~1.1% rank error at p50 when a 100 TB group overflows it


@query(
    "q_events_approx_aggregates",
    # FULL hash oracle (upgraded from rows-only, VERDICT r10 #3b):
    # every estimate is a deterministic function of the data — KMV
    # distinct (md5 60-bit hashes, the q_events_kmv_distinct_users
    # idiom) and KMV-sampled exact order statistics for percentiles
    # (integer-rank selection of ACTUAL data values, no interpolation)
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events),
    r AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h),
    k AS (
      SELECT event_type, COUNT(*) AS m, MAX(hv) AS hk
      FROM r WHERE rn <= {_APX_K} GROUP BY 1),
    du AS (
      SELECT event_type,
             CASE WHEN m < {_APX_K} THEN CAST(m AS DOUBLE)
                  ELSE {float(_APX_K - 1)} * 1152921504606846976.0 / hk
             END AS approx_users
      FROM k),
    eh AS (
      SELECT event_type, event_id, value,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
               AS ehv
      FROM events WHERE value IS NOT NULL),
    sm AS (
      SELECT event_type, event_id, value
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY event_type ORDER BY ehv, event_id) AS srn
            FROM eh)
      WHERE srn <= {_APX_K}),
    rk AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS vrn,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM sm),
    pc AS (
      SELECT event_type,
             MAX(CASE WHEN vrn = (m-1)*50//100 + 1 THEN value END)
               AS value_p50,
             MAX(CASE WHEN vrn = (m-1)*95//100 + 1 THEN value END)
               AS value_p95,
             MAX(CASE WHEN vrn = (m-1)*99//100 + 1 THEN value END)
               AS value_p99
      FROM rk GROUP BY 1),
    cn AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1)
    SELECT c.event_type, du.approx_users,
           pc.value_p50, pc.value_p95, pc.value_p99,
           CAST(c.n AS BIGINT) AS n
    FROM cn c JOIN du USING (event_type) JOIN pc USING (event_type)
    """,
)
def q_events_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates for the 100 TB dashboard path — now
    DETERMINISTIC end to end, so the oracle hash-matches (VERDICT r10
    #3b; previously HLL++/percentile_approx, whose register layouts
    are engine-specific by design, made this a rows-only gray row):

    - approx_users: KMV distinct-user estimate (operators/sketches.
      kmv_distinct, k={2048}) — exact below k distinct users, (k−1)/
      kth-min-normalized above, all from md5-derived 60-bit hashes
      both engines reproduce bit-exactly.
    - value_p50/p95/p99: exact integer-rank order statistics of a
      KMV-shaped deterministic row sample (operators/sketches.
      kmv_sample_percentiles) — actual data values, no interpolation,
      no t-digest.

    tests/test_error_bounds.py::test_approx_aggregates_within_sketch_bounds
    still bounds both estimates against exact answers, so accuracy
    stays a checked property on top of the (new) exact reproducibility.

    Quantiles are emitted as three scalar double columns (not one
    array column): the driver canonicalizes result frames by sorting
    every column, which crashes on list-typed cells.
    """
    from data_engineering_spark.operators.sketches import (
        kmv_distinct,
        kmv_sample_percentiles,
    )

    e = load_table(spark, sf_dir, "events")
    kmv = kmv_distinct(e, ["event_type"], "user_id", k=_APX_K).select(
        "event_type", F.col("est_distinct").alias("approx_users")
    )
    pct = kmv_sample_percentiles(
        e, ["event_type"], "value", "event_id", sample_k=_APX_K
    )
    cnt = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        cnt.join(kmv, "event_type")
        .join(pct, "event_type")
        .select(
            "event_type",
            "approx_users",
            "value_p50",
            "value_p95",
            "value_p99",
            "n",
        )
    )


@query(
    "q_events_kmv_distinct_users",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events),
    r AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h),
    k AS (
      SELECT event_type, COUNT(*) AS m, MAX(hv) AS hk
      FROM r WHERE rn <= 64 GROUP BY 1)
    SELECT event_type, CAST(m AS BIGINT) AS n_kept,
           CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
                ELSE 63.0 * 1152921504606846976.0 / hk
           END AS est_distinct
    FROM k
    """,
)
def q_events_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch per event type —
    a from-scratch sketch whose estimate is a deterministic function of
    the data (md5-derived hashes), so the DuckDB oracle reproduces it
    bit-exactly; contrast with HLL++ in q_events_approx_aggregates,
    whose register layout is engine-specific (rows-only check). pytest
    bounds the estimation error against exact counts."""
    from data_engineering_spark.operators.sketches import kmv_distinct

    e = load_table(spark, sf_dir, "events")
    return kmv_distinct(e, ["event_type"], "user_id", k=64)


@query(
    "q_events_hopping_window",
    oracle="""
    WITH w AS (
      SELECT event_type,
             (epoch_ms(ts) // 10800000 - t.off) * 10800000 AS win_start_ms
      FROM events, (VALUES (0), (1)) t(off))
    SELECT event_type,
           make_timestamp(win_start_ms * 1000) AS window_start,
           COUNT(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 6 h length, 3 h hop — each
    event lands in exactly two windows; oracle reproduces Spark's
    epoch-aligned assignment arithmetic."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.window("ts", "6 hours", "3 hours")
            .getField("start")
            .cast("timestamp_ntz")
            .alias("window_start"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "q_debezium_temporal",
    oracle="""
    SELECT event_id,
           CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT)
             AS epoch_days,
           DATE '1970-01-01'
             + CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT)
             AS date_roundtrip,
           CAST((epoch_us(ts) % 86400000000) // 1000000 AS BIGINT)
             AS second_of_day
    FROM events
    """,
)
def q_debezium_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium temporal semantics battery (SURVEY §2.8 F4-F7): epoch
    millis/micros extraction, epoch-days → date reconstruction, and
    MicroTime seconds-of-day — the exact integer arithmetic the CDC
    schema_setter applies (incremental_kafka_s3_cdc.py:222-238)."""
    from data_engineering_spark.functions.temporal import (
        micros_of_day_to_seconds,
    )

    e = load_table(spark, sf_dir, "events")
    us = timestamp_to_epoch_micros("ts")
    epoch_days = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("int")
    return e.select(
        "event_id",
        timestamp_to_epoch_millis("ts").alias("ts_ms"),
        us.alias("ts_us"),
        epoch_days.alias("epoch_days"),
        epoch_days_to_date(epoch_days).alias("date_roundtrip"),
        micros_of_day_to_seconds(us).alias("second_of_day"),
    )


@query(
    "q_events_value_trend",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST((epoch_ms(ts) // 1000) - 1700000000 AS HUGEINT) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS yc
      FROM events),
    s AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(x) AS sx,
             SUM(x * x) AS sxx,
             SUM(yc) AS sy,
             SUM(x * yc) AS sxy
      FROM p GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS VARCHAR) AS slope_num,
           CAST(n * sxx - sx * sx AS VARCHAR) AS slope_den,
           CASE WHEN (n * sxx - sx * sx) = 0 THEN NULL
                ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 15) END
             AS slope
    FROM s
    """,
)
def q_events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend (slope of value over event time) with
    EXACT integer arithmetic: x = centered epoch seconds (FLOOR of the
    millisecond epoch in both engines — DuckDB's epoch() returns
    fractional seconds whose cast ROUNDS, a real cross-engine trap),
    y = value in cents (double → decimal(18,2) cast — the one
    cross-engine-consistent rounding point, same as registry.dec —
    then ×100 to an exact integer). Every sum/product is integral (decimal(38,0) on the Spark
    side, HUGEINT in DuckDB), so slope_num/slope_den are
    order-independent exact witnesses; slope divides them once in
    double (correctly rounded, bit-identical) and rescales the cents.
    Centering x keeps n·Σx² − (Σx)² inside 38 digits at 6e8-row scale.
    One scan + one keyed shuffle (map-side partial sums)."""
    e = load_table(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts") - F.lit(1_700_000_000)).cast("decimal(12,0)")
    yc = (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(14,0)")
    p = e.select("event_type", x.alias("x"), yc.alias("yc"))
    s = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(11,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("x") * F.col("yc")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        # exact witnesses travel as STRINGS: above 2^53 a double cast
        # is no longer exact and the two engines' int->double rounding
        # was observed to differ by one ulp at sf0.1
        num.cast("decimal(38,0)").cast("string").alias("slope_num"),
        den.cast("decimal(38,0)").cast("string").alias("slope_den"),
        F.when(den == F.lit(0), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                num.cast("double") / den.cast("double") / F.lit(100.0), 15
            )
        )
        .alias("slope"),
    )


@query(
    "q_cdc_bucketed_lookup",
    oracle="""
    SELECT user_id, last_op, value, ts_ms
    FROM (SELECT user_id, event_type AS last_op, value,
                 CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1 AND last_op <> 'error' AND user_id % 7 = 0
    """,
)
def q_cdc_bucketed_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END storage integration oracle: the event stream is
    split into two ts-ordered micro-batches, LWW-compacted, and MERGED
    through a real bucketed MergeTable on disk (bucket(16, user_id)
    hidden partitions, delete op-codes honored), then point-read back
    via the bucket-pruned `lookup`. The oracle is pure SQL LWW over
    `events` restricted to the looked-up keys — so the hash check
    covers batch compaction, cross-batch upsert/delete merge, the
    synthetic bucket layout round-trip, AND lookup pruning returning
    exactly the keyed rows. Rebuilt from scratch each call (MergeTable
    commits each merge by one pointer replace, so repeats stay
    self-consistent).

    The ts-median batch split is data-derived but oracle-independent:
    ANY ts-ordered split yields the same final LWW state.
    """
    import shutil

    from data_engineering_spark.operators.merge import MergeTable
    from data_engineering_spark.queries._fixtures import FIXTURE_DIR

    e = load_table(spark, sf_dir, "events")
    ms = timestamp_to_epoch_millis("ts")
    ev = e.select(
        "user_id",
        F.col("event_type").alias("last_op"),
        "value",
        ms.alias("ts_ms"),
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("__op"),
        ms.alias("__ts_ms"),
    )
    cutoff = ev.agg(F.expr("percentile_approx(ts_ms, 0.5)")).collect()[0][0]
    n_rows = ev.count()
    path = os.path.join(
        FIXTURE_DIR, f"cdc_bucketed_{os.path.basename(sf_dir)}_{n_rows}"
    )
    shutil.rmtree(path, ignore_errors=True)
    t = MergeTable(spark, path, ["user_id"], bucket_by=16)
    for batch in (
        ev.filter(F.col("ts_ms") <= cutoff),
        ev.filter(F.col("ts_ms") > cutoff),
    ):
        compacted = keep_last(
            batch, ["user_id"], "ts_ms", tiebreakers=["event_id"]
        )
        t.merge(compacted)
    keys = ev.select("user_id").filter(
        F.col("user_id") % 7 == 0
    ).distinct()
    return t.lookup(keys).select("user_id", "last_op", "value", "ts_ms")
