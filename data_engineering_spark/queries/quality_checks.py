"""Declarative data-quality constraint suite + data-mixture sampling
(oracle-checked)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.operators.sampling import mixture_sample
from data_engineering_spark.operators.checks import (
    completeness,
    in_set,
    matches,
    max_value,
    mean_between,
    min_value,
    ri_violations,
    row_count_between,
    run_checks,
    unique,
)
from data_engineering_spark.registry import query
from data_engineering_spark.types.frames import local_frame


@query(
    "q_quality_checks",
    oracle="""
    WITH m AS (
      SELECT COUNT(o_custkey) / COUNT(*) AS completeness_custkey,
             COUNT(DISTINCT o_orderkey) / COUNT(o_orderkey) AS uniq_orderkey,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(o_totalprice) AS mean_price,
             COUNT(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END)
               / COUNT(o_orderstatus) AS in_set_status,
             COUNT(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                        THEN 1 END)
               / COUNT(o_orderpriority) AS matches_priority,
             CAST(COUNT(*) AS DOUBLE) AS n_rows
      FROM orders),
    ri AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS orphans
      FROM lineitem l
      WHERE l.l_orderkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey))
    SELECT * FROM (
      SELECT 'completeness' AS constraint, 'o_custkey' AS column,
             completeness_custkey AS value, 1.0 AS threshold,
             completeness_custkey >= 1.0 AS passed FROM m
      UNION ALL
      SELECT 'unique', 'o_orderkey', uniq_orderkey, 1.0,
             uniq_orderkey >= 1.0 FROM m
      UNION ALL
      SELECT 'min_value', 'o_totalprice', min_price, 0.0,
             min_price >= 0.0 FROM m
      UNION ALL
      SELECT 'max_value', 'o_totalprice', max_price, 1000000.0,
             max_price <= 1000000.0 FROM m
      UNION ALL
      SELECT 'mean_between', 'o_totalprice', mean_price, 1000.0,
             mean_price >= 1000.0 AND mean_price <= 500000.0 FROM m
      UNION ALL
      SELECT 'in_set', 'o_orderstatus', in_set_status, 1.0,
             in_set_status >= 1.0 FROM m
      UNION ALL
      SELECT 'matches', 'o_orderpriority', matches_priority, 1.0,
             matches_priority >= 1.0 FROM m
      UNION ALL
      SELECT 'row_count_between', NULL, n_rows, 1.0,
             n_rows >= 1.0 AND n_rows <= 100000000.0 FROM m
      UNION ALL
      SELECT 'referential_integrity', 'l_orderkey', orphans, 0.0,
             orphans <= 0.0 FROM ri)
    """,
)
def q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nine-rule validation suite over orders (+ lineitem→orders RI).

    The eight scan constraints compile to ONE df.agg() — a single scan
    of orders regardless of rule count (operators/checks.run_checks);
    the RI rule is a LEFT ANTI join moving only fixed-width keys. The
    oracle recomputes every metric as explicit SQL aggregates."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    suite = run_checks(
        orders,
        [
            completeness("o_custkey", 1.0),
            unique("o_orderkey"),
            min_value("o_totalprice", 0.0),
            max_value("o_totalprice", 1_000_000.0),
            mean_between("o_totalprice", 1_000.0, 500_000.0),
            in_set("o_orderstatus", ("O", "F", "P"), 1.0),
            matches("o_orderpriority", "^[1-5]-", 1.0),
            row_count_between(1, 100_000_000),
        ],
    )
    ri = ri_violations(lineitem, "l_orderkey", orders, "o_orderkey")
    return suite.unionByName(ri)


_MIX = {"en": 100, "de": 100, "fr": 30, "es": 50, "zh": 75}
_MIX_VALUES = ", ".join(f"('{k}', {float(v)})" for k, v in _MIX.items())


@query(
    "q_doc_mixture_sample",
    oracle=f"""
    WITH cnt AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tgt(lang, target) AS (VALUES {_MIX_VALUES}),
    rates AS (
      SELECT c.lang,
             CAST(floor(LEAST(1.0, t.target / c.n) * 1152921504606846976)
                  AS BIGINT) AS thr
      FROM cnt c JOIN tgt t ON c.lang = t.lang)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix1'), 1, 15))
          ::BIGINT < r.thr
    """,
)
def q_doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture rebalance: per-language target row counts
    (en downsampled ~2x, fr cut to ~half, de/zh kept whole) applied via
    deterministic id-hash Bernoulli at rate min(1, target/actual)
    (operators/sampling.mixture_sample). One metadata-sized count
    aggregate + a broadcast join + a scan-stage filter — the corpus
    never shuffles. Oracle recomputes the identical thresholds in SQL."""
    d = load_table(spark, sf_dir, "documents")
    return mixture_sample(
        d.select("doc_id", "lang", "source"),
        "lang",
        "doc_id",
        _MIX,
        salt="mix1",
    )


@query(
    "q_doc_negative_pairs",
    oracle="""
    WITH idx AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS seq,
             COUNT(*) OVER () AS n
      FROM documents),
    probes AS (
      SELECT i.doc_id, j.j,
             1 + (('0x' || substr(md5(CAST(i.doc_id AS VARCHAR) || '#' ||
                  CAST(j.j AS VARCHAR) || 'neg1'), 1, 15))::BIGINT % i.n)
               AS pseq
      FROM idx i, (VALUES (1), (2)) j(j))
    SELECT p.doc_id, p.j AS neg_slot, t.doc_id AS neg_id
    FROM probes p JOIN idx t ON p.pseq = t.seq
    WHERE t.doc_id <> p.doc_id
    """,
)
def q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE sampling (contrastive-training partners):
    each document draws 2 pseudo-random partners by hashing
    (doc_id, slot) onto a dense 1..N index — reproducible across runs
    and engines, unlike rand()-based sampling. The dense index comes
    from the scale-safe offset pattern (operators/ids — no single-task
    window); partner lookup is an equi-join on the index. Self-draws
    are dropped (the contrastive-loss convention).

    Modulo note: both engines compute % on the SIGNED 60-bit hash —
    non-negative here, so semantics agree."""
    from data_engineering_spark.operators.ids import assign_sequential_ids
    from data_engineering_spark.operators.sketches import uniform_hash60

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    idx = assign_sequential_ids(d, ["doc_id"], id_col="seq")
    n = idx.agg(F.count(F.lit(1)).alias("n"))
    slots = local_frame(spark, [(1,), (2,)], "j int")
    probes = (
        idx.select("doc_id")
        .join(F.broadcast(slots))
        .join(F.broadcast(n))
        .select(
            "doc_id",
            F.col("j").alias("neg_slot"),
            (
                1
                + uniform_hash60(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("#"),
                        F.col("j").cast("string"),
                        F.lit("neg1"),
                    )
                )
                % F.col("n")
            ).alias("pseq"),
        )
    )
    t = idx.select(F.col("doc_id").alias("neg_id"), F.col("seq").alias("pseq"))
    return probes.join(t, "pseq").where(
        F.col("neg_id") != F.col("doc_id")
    ).select("doc_id", "neg_slot", "neg_id")
