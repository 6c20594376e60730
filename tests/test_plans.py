"""Physical-plan assertions: the scale properties we design for must be
visible in the plan, not assumed (SURVEY.md §4; task brief 'optimize for
scale — concretely')."""

from __future__ import annotations

from data_engineering_spark.plans.explain import (
    plan_string,
    pushed_filters,
    read_schemas,
    uses_broadcast_join,
)
from data_engineering_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_q03_broadcasts_dimension_and_pushes_filters(spark):
    df = QUERIES["q03_shipping_priority"](spark, SF)
    assert uses_broadcast_join(df), plan_string(df)[:2000]
    pf = pushed_filters(df)
    # the date range predicates must reach the parquet scans
    assert "l_shipdate" in pf and "o_orderdate" in pf, pf


def test_q05_star_join_broadcasts(spark):
    df = QUERIES["q05_region_revenue"](spark, SF)
    assert uses_broadcast_join(df)
    assert "r_name" in pushed_filters(df) or "r_name" in plan_string(df)


def test_q01_scan_prunes_columns(spark):
    df = QUERIES["q01_pricing_summary"](spark, SF)
    rs = read_schemas(df)
    # needed columns present, unneeded ones pruned from the scan
    assert "l_quantity" in rs and "l_returnflag" in rs
    assert "l_partkey" not in rs and "l_suppkey" not in rs, rs


def test_q06_pushes_range_predicates(spark):
    df = QUERIES["q06_forecast_revenue"](spark, SF)
    pf = pushed_filters(df)
    assert "l_discount" in pf and "l_quantity" in pf and "l_shipdate" in pf


def test_keep_last_is_single_shuffle_window(spark):
    df = QUERIES["q_events_keep_last_per_user"](spark, SF)
    plan = plan_string(df)
    # one window over one exchange — no global sort of the whole table
    assert plan.count("Exchange") <= 2, plan
    assert "Window" in plan


def test_round2_operators_plan_shapes(spark):
    """Round-2 operators: the scale claims in their docstrings, asserted
    on the physical plan. Exchange counts include broadcast exchanges,
    so they are upper bounds on data shuffles."""
    cases = {
        # union-window as-of join: no range join, no nested-loop product
        "q_events_asof_purchase_click": dict(max_exchange=4, window=True),
        # equi-key interval join: hash join + residual filter
        "q_events_interval_join_conversions": dict(max_exchange=4),
        # all grains in one scan + one shuffle (generator fan-out)
        "q_events_hypertable_rollup": dict(max_exchange=2, generate=True),
        # gap sessions: one keyed shuffle
        "q_events_session_window": dict(max_exchange=2),
        # chunking and Bernoulli sampling are fully shuffle-free
        "q_doc_chunks": dict(max_exchange=0, generate=True),
        "q_doc_bernoulli_sample": dict(max_exchange=0),
    }
    for name, want in cases.items():
        plan = plan_string(QUERIES[name](spark, SF))
        assert plan.count("CartesianProduct") == 0, name
        assert plan.count("BroadcastNestedLoop") == 0, name
        assert plan.count("Exchange") <= want["max_exchange"], (
            name, plan.count("Exchange"))
        if want.get("window"):
            assert "Window" in plan, name
        if want.get("generate"):
            assert "Generate" in plan, name


def test_round3_operators_plan_shapes(spark):
    """Round-3 operators: corpus filters must be pure scan-stage
    projections (zero exchanges — their whole 100 TB story), the
    reconcile is a single full-outer shuffle pair, quantization stays
    in the scan stage."""
    cases = {
        "q_doc_gopher_filters": dict(max_exchange=0),
        "q_doc_repetition": dict(max_exchange=0),
        "q_doc_split_assign": dict(max_exchange=0),
        "q_doc_pii_scrub": dict(max_exchange=0),
        "q_embedding_quantize": dict(max_exchange=0),
        # full-outer on the key: 2 data exchanges for reconcile itself,
        # plus the query's synthetic-drift union branches
        "q_reconcile_drift": dict(max_exchange=4),
        # the query computes state AND delta aggs in-plan (one exchange
        # each) before the merge's own key shuffle
        "q_incremental_agg_merge": dict(max_exchange=4),
    }
    for name, want in cases.items():
        plan = plan_string(QUERIES[name](spark, SF))
        assert plan.count("CartesianProduct") == 0, name
        assert plan.count("BroadcastNestedLoop") == 0, name
        assert plan.count("Exchange") <= want["max_exchange"], (
            name, plan.count("Exchange"))


def test_gemm_join_no_driver_materialization(spark, monkeypatch):
    """The exact GEMM similarity join must never materialize the corpus
    on the driver (round-2 verdict's one scale-killer): toPandas is
    forbidden for the whole build+execute cycle. The only driver actions
    allowed are the dim/count metadata probes."""
    from pyspark.sql import DataFrame

    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.similarity import (
        cosine_similarity_join,
    )

    def _boom(self, *a, **k):
        raise AssertionError(
            "driver materialization: DataFrame.toPandas called"
        )

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    emb = load_table(spark, SF, "embeddings")
    out = cosine_similarity_join(emb, 0.45)
    assert out.count() >= 0


def test_gemm_join_matches_expr_reference(spark):
    """Block-grid GEMM must produce exactly the pure-JVM expr join's
    pairs — including across tile boundaries (the canonicalized
    cross-tile emit path) — at several tile counts."""
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.similarity import (
        cosine_similarity_join,
    )

    emb = load_table(spark, SF, "embeddings")
    want = sorted(
        (r["id_a"], r["id_b"], r["cosine_r"])
        for r in cosine_similarity_join(emb, 0.45, impl="expr").collect()
    )
    for tiles in (1, 3, 8):
        got = sorted(
            (r["id_a"], r["id_b"], r["cosine_r"])
            for r in cosine_similarity_join(
                emb, 0.45, min_tiles=tiles
            ).collect()
        )
        assert got == want, f"tiles={tiles}"


def test_centroid_assign_broadcasts_seed_side(spark):
    """The 8-seed cross join must be a broadcast nested loop over the
    tiny side (never a CartesianProduct shuffle product)."""
    plan = plan_string(QUERIES["q_embedding_centroid_assign"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" in plan


def test_semi_join_reduce_plan_shape(spark):
    """The semi-join reduction must show as a broadcast LEFT SEMI on the
    fact side before the wide join, with the dimension filter pushed to
    the orders scan — i.e. the wide lineitem columns never shuffle for
    rows a selective filter would drop."""
    df = QUERIES["q_semi_reduced_revenue"](spark, SF)
    plan = plan_string(df)
    assert "LeftSemi" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "o_orderpriority" in pushed_filters(df)


def test_salted_agg_is_two_stage_no_window(spark):
    """Salted aggregation = two hash-agg stages (keys+salt, then keys);
    no window operator (windows can't split a hot key) and no more than
    stage-1 + stage-2 + final-sort exchanges."""
    import re

    df = QUERIES["q_salted_user_stats"](spark, SF)
    plan = plan_string(df)
    assert "Window" not in plan
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchange <= 3, n_exchange


def test_runtime_bloom_filter_injects(spark):
    """tune_runtime_bloom with test-scale thresholds makes Catalyst
    inject a might_contain runtime filter on the fact side of a shuffle
    join (InjectRuntimeFilter): the 100 TB prune path when even the
    distinct key set is too large to broadcast exactly."""
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.prune import tune_runtime_bloom
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        tune_runtime_bloom(
            spark,
            creation_side_threshold="10MB",
            application_side_threshold="0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = plan_string(j)
        assert "might_contain" in plan, plan[:3000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_binned_range_join_is_equi_join(spark):
    """The keyless point-in-interval join must plan as an equi-join on
    the time bin — never a broadcast nested loop or cartesian product —
    and must return identical pairs at several bin widths (pair-meets-
    exactly-once property is width-independent)."""
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.timeseries import binned_range_join
    from pyspark.sql import functions as F

    plan = plan_string(QUERIES["q_orders_in_promo_windows"](spark, SF))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan

    o = load_table(spark, SF, "orders")
    pts = o.filter(F.col("o_orderkey") % 7 == 3).select(
        F.col("o_orderkey").alias("pk"), F.col("o_orderdate").alias("pt")
    )
    iv = o.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("wk"),
        F.col("o_orderdate").alias("ws"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS")).alias("we"),
    )
    want = None
    for width in (3_600_000, 86_400_000, 7 * 86_400_000):
        got = sorted(
            (r["pk"], r["wk"])
            for r in binned_range_join(
                pts, iv, "pt", "ws", "we", bin_width_ms=width
            ).collect()
        )
        if want is None:
            want = got
            assert len(want) > 0
        else:
            assert got == want, f"width={width}"


def test_join_strategy_hints_are_honored(spark):
    """The engine exposes all four join strategies; Catalyst honors
    explicit hints so a pipeline can pin a strategy when AQE's choice
    is wrong for a known workload."""
    from data_engineering_spark.catalog import load_table

    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    cases = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for hint, node in cases.items():
        df = o.join(c.hint(hint), o.o_custkey == c.c_custkey)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert node in plan, (hint, plan[:800])
    # and the nested-loop fallback for a non-equi condition
    nl = o.limit(50).join(
        c.limit(50), o.o_totalprice > c.c_acctbal, "inner"
    )
    plan = nl._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
