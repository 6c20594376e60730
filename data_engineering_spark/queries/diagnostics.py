"""Skew / distribution diagnostics (oracle-checked).

The operational complement of operators/skew.py: BEFORE you salt a
join or an agg, you need to know whether a key is hot. This profile
computes, per group, the key-frequency distribution's concentration
statistics — exact decimal-accumulated arithmetic so the oracle
matches bit-for-bit and nothing overflows at 1e9+ keys."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.registry import query
from data_engineering_spark.types.frames import local_frame


@query(
    "q_events_skew_profile",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cnt, user_id) AS i,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, user_id) AS j,
             COUNT(*) OVER (PARTITION BY event_type) AS nk
      FROM c)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           MAX(cnt) / SUM(cnt) AS max_key_share,
           SUM(CASE WHEN j <= 10 THEN cnt ELSE 0 END) / SUM(cnt)
             AS top10_share,
           CAST(SUM(CAST(2 * i - nk - 1 AS DECIMAL(38,0)) * cnt)
                AS DOUBLE)
             / (CAST(MAX(nk) AS DOUBLE) * SUM(cnt)) AS gini
    FROM r GROUP BY event_type
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile per event type: key count, row count, hottest
    key's share, top-10 keys' share, and the exact Gini concentration
    coefficient (rank formula Σ(2i−n−1)·c_i / (n·Σc) over counts
    sorted ascending — decimal-accumulated integer sums, then one
    deterministic division). Feed gini/max_key_share into the salting
    decision (operators/skew.py). Cost: one count aggregation + one
    window pass over the COUNTS (n_keys rows, not data rows)."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wi = Window.partitionBy("event_type").orderBy(
        F.asc("cnt"), F.asc("user_id")
    )
    wj = Window.partitionBy("event_type").orderBy(
        F.desc("cnt"), F.asc("user_id")
    )
    wn = Window.partitionBy("event_type")
    r = c.select(
        "event_type",
        "cnt",
        F.row_number().over(wi).alias("i"),
        F.row_number().over(wj).alias("j"),
        F.count(F.lit(1)).over(wn).alias("nk"),
    )
    gini_num = F.sum(
        (2 * F.col("i") - F.col("nk") - 1).cast("decimal(38,0)")
        * F.col("cnt")
    ).cast("double")
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        (F.max("cnt") / F.sum("cnt")).alias("max_key_share"),
        (
            F.sum(F.when(F.col("j") <= 10, F.col("cnt")).otherwise(0))
            / F.sum("cnt")
        ).alias("top10_share"),
        (
            gini_num
            / (F.max("nk").cast("double") * F.sum("cnt"))
        ).alias("gini"),
    )


@query(
    "q_events_top_paths",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths (clickstream path analysis): two
    leads over one per-user time order — Spark evaluates both in a
    single Window over a single exchange — then a count of the
    3-gram paths with a total-order top-20. Generalizes the 2-state
    transition matrix (q_events_transitions) to sequence mining."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        s.groupBy(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


@query(
    "q_nation_revenue_share",
    oracle="""
    WITH r AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2)
    SELECT nation, region, ROUND(revenue, 2) AS revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY region), 9)
             AS region_share,
           ROUND(revenue / SUM(revenue) OVER (), 9) AS global_share,
           rank() OVER (PARTITION BY region ORDER BY revenue DESC, nation)
             AS rank_in_region
    FROM r
    """,
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total analytics (ratio_to_report): each nation's revenue
    as a fraction of its region and of the world, plus in-region rank —
    window sums over the AGGREGATED frame (25 rows), so the expensive
    part is one decimal-exact join+agg and the shares are free. The
    window SUM runs over decimal-derived doubles of a tiny frame where
    both engines add in the same partition-local order; shares rounded
    at 1e-9."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            n.n_name.alias("nation"), r.r_name.alias("region")
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    wr = Window.partitionBy("region")
    wrank = Window.partitionBy("region").orderBy(
        F.desc("revenue"), F.asc("nation")
    )
    # global total as a grouping-less aggregate crossJoin (1 bounded
    # row) instead of SUM() OVER () — same arithmetic, no
    # empty-partition-spec window, so this query needs no entry in the
    # plan-ban whitelist (r7; the per-REGION windows keep their
    # partition specs)
    total = rev.agg(F.sum("revenue").alias("__tot"))
    return rev.crossJoin(F.broadcast(total)).select(
        "nation",
        "region",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(wr), 9).alias(
            "region_share"
        ),
        F.round(F.col("revenue") / F.col("__tot"), 9).alias(
            "global_share"
        ),
        F.rank().over(wrank).alias("rank_in_region"),
    )


@query(
    "q_orders_yoy_growth",
    oracle="""
    WITH y AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT yr, ROUND(revenue, 2) AS revenue, n_orders,
           ROUND(revenue - lag(revenue) OVER (ORDER BY yr), 2)
             AS yoy_delta,
           ROUND((revenue - lag(revenue) OVER (ORDER BY yr))
                 / lag(revenue) OVER (ORDER BY yr), 9) AS yoy_pct
    FROM y
    """,
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time intelligence: year-over-year revenue delta and growth rate
    via lag over the yearly aggregate (a handful of rows — the
    single-partition window is over metadata, not data). Decimal-exact
    yearly sums; the growth ratio is one double division rounded at
    1e-9."""
    o = load_table(spark, sf_dir, "orders")
    y = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("yr")
    return y.select(
        "yr",
        F.round("revenue", 2).alias("revenue"),
        "n_orders",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias(
            "yoy_delta"
        ),
        F.round(
            (F.col("revenue") - F.lag("revenue").over(w))
            / F.lag("revenue").over(w),
            9,
        ).alias("yoy_pct"),
    )


@query(
    "q_events_dau_wau_mau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
             user_id
      FROM events),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day,
           CAST(COUNT(DISTINCT CASE WHEN u.day = d.day
                THEN u.user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN u.day > d.day - 7
                THEN u.user_id END) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
    FROM days d JOIN du u
      ON u.day <= d.day AND u.day > d.day - 30
    GROUP BY d.day
    """,
)
def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement suite: daily / trailing-7-day / trailing-30-day
    distinct active users per day. Exact sliding distincts can't ride a
    window frame (COUNT(DISTINCT) OVER RANGE isn't a thing). The
    trailing window is a BOUNDED-EXPLODE EQUI-JOIN, not a range join:
    each distinct (day, user) activity row fans out to the exactly-30
    window days it contributes to (explode of a constant 0..29
    sequence), then hash-joins the day grid on equality — 30·|du| rows
    of work instead of a |days|·|du| nested-loop probe (the r9
    cartesian plan gate bans the latter shape), with the three
    horizons as conditional distincts keyed on the offset in ONE
    aggregation. At 100 TB you precompute per-day KMV sketches instead
    and MERGE them across the horizon (operators/sketches.kmv_sketch —
    union of mergeable sketches), at ±2% error; this exact form is the
    small-scale/oracle twin."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct().select(F.col("day").alias("d"))
    j = (
        du.select(
            "day",
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(29))).alias("__k"),
        )
        .withColumn("d", F.date_add(F.col("day"), F.col("__k")))
        .join(days, "d")
    )
    return j.groupBy(F.col("d").alias("day")).agg(
        F.count_distinct(
            F.when(F.col("__k") == 0, F.col("user_id"))
        ).cast("long").alias("dau"),
        F.count_distinct(
            F.when(F.col("__k") < 7, F.col("user_id"))
        ).cast("long").alias("wau"),
        F.count_distinct("user_id").cast("long").alias("mau"),
    )


@query(
    "q_events_weekly_drift",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(value / 50.0) AS BIGINT) AS bucket,
             CAST(weekofyear(ts) % 2 AS BIGINT) AS half
      FROM events WHERE value IS NOT NULL),
    c AS (
      SELECT event_type, bucket,
             COUNT(CASE WHEN half = 0 THEN 1 END) AS c0,
             COUNT(CASE WHEN half = 1 THEN 1 END) AS c1
      FROM b GROUP BY 1, 2),
    n AS (
      SELECT event_type, SUM(c0) AS n0, SUM(c1) AS n1
      FROM c GROUP BY 1),
    term AS (
      SELECT c.event_type,
             CASE WHEN (c.c0 / n.n0 + c.c1 / n.n1) > 0 THEN
               ((c.c0 / n.n0 - c.c1 / n.n1)
                * (c.c0 / n.n0 - c.c1 / n.n1))
               / (c.c0 / n.n0 + c.c1 / n.n1)
             ELSE 0.0 END AS t
      FROM c JOIN n USING (event_type))
    SELECT event_type,
           ROUND(CAST(SUM(CAST(t AS DECIMAL(28,15))) AS DOUBLE), 6)
             AS drift_stat,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM term GROUP BY event_type
    """,
)
def q_weekly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: split events into alternating weeks,
    histogram `value` per event type in each half, and score the shift
    with a chi-square-style statistic Σ (f0−f1)²/(f0+f1) over buckets —
    the PSI-class check without PSI's log (libm portability policy).
    All frequencies are int/int divisions; per-bucket terms are
    identical IEEE trees in both engines and the bucket sum is
    decimal-accumulated (order independence). A scan + two
    metadata-sized aggregations."""
    e = load_table(spark, sf_dir, "events")
    b = e.where(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") / 50.0).alias("bucket"),
        (F.weekofyear("ts") % 2).cast("long").alias("half"),
    )
    c = b.groupBy("event_type", "bucket").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("c0"),
        F.count(F.when(F.col("half") == 1, 1)).alias("c1"),
    )
    n = c.groupBy("event_type").agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
    )
    f0 = F.col("c0") / F.col("n0")
    f1 = F.col("c1") / F.col("n1")
    term = (
        c.join(F.broadcast(n), "event_type")
        .select(
            "event_type",
            F.when(
                (f0 + f1) > 0, ((f0 - f1) * (f0 - f1)) / (f0 + f1)
            )
            .otherwise(0.0)
            .alias("t"),
        )
    )
    return term.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("t").cast("decimal(28,15)")).cast("double"), 6
        ).alias("drift_stat"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


@query(
    "q_events_dayn_retention",
    oracle="""
    WITH du AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events),
    first AS (
      SELECT user_id, MIN(day) AS d0 FROM du GROUP BY user_id),
    n AS (SELECT COUNT(*) AS cohort FROM first)
    SELECT h.n AS day_offset,
           CAST(COUNT(DISTINCT CASE WHEN u.day = f.d0 + h.n
                THEN u.user_id END) AS BIGINT) AS retained,
           CAST((SELECT cohort FROM n) AS BIGINT) AS cohort_size,
           COUNT(DISTINCT CASE WHEN u.day = f.d0 + h.n
                THEN u.user_id END) / (SELECT cohort FROM n)
             AS retention
    FROM first f JOIN du u USING (user_id),
         (VALUES (1), (3), (7), (14)) h(n)
    GROUP BY h.n
    """,
)
def q_dayn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention curve: of all users, what fraction was active
    EXACTLY N days after their first activity, for N in {1,3,7,14} —
    the product-health complement of the weekly cohort matrix
    (q_events_cohort_retention). One distinct-activity reduction, a
    first-day aggregate, and one joined count per horizon — all
    horizons share a single scan via the horizon-values cross join."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    first = du.groupBy("user_id").agg(F.min("day").alias("d0"))
    n = first.agg(F.count(F.lit(1)).alias("cohort"))
    horizons = local_frame(spark, [(1,), (3,), (7,), (14,)], "n int")
    j = first.join(du, "user_id").join(F.broadcast(horizons))
    hit = F.when(
        F.col("day") == F.date_add(F.col("d0"), F.col("n")),
        F.col("user_id"),
    )
    return (
        j.groupBy(F.col("n").alias("day_offset"))
        .agg(F.count_distinct(hit).alias("__r"))
        .join(F.broadcast(n))
        .select(
            "day_offset",
            F.col("__r").cast("long").alias("retained"),
            F.col("cohort").cast("long").alias("cohort_size"),
            (F.col("__r") / F.col("cohort")).alias("retention"),
        )
    )
