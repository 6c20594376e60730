"""Deterministic sampling operators for training-data pipelines
(SURVEY.md §2.11 family).

Corpus subsampling must be reproducible run-to-run and engine-to-engine
— `df.sample()` is neither (partition-seeded RNG). Both operators here
key the randomness on a *hash of the row's id*, so the same row makes
the same decision everywhere: resumable pipelines, auditable samples,
and DuckDB-oracle verifiability for free.

Scale: Bernoulli sampling is a pure filter (no shuffle, fully pushed
into the scan stage); per-stratum top-k is one shuffle on the stratum
key + a capped window — the standard top-k profile.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_spark.operators.sketches import (
    HASH_SPACE,
    uniform_hash60,
)
from data_engineering_spark.types.frames import local_frame


def bernoulli_sample(
    df: DataFrame, id_col: str, rate: float, salt: str = ""
) -> DataFrame:
    """Keep each row iff hash(id || salt) / 2^60 < rate — a
    deterministic Bernoulli sample: reproducible, engine-portable, and
    composable (different `salt` values give independent samples; the
    same salt at a higher rate yields a superset — nested samples for
    scaling-law runs).

    Plan: a single filter, no shuffle; Catalyst keeps it in the scan's
    WholeStageCodegen span.

    The threshold is materialized as an exact integer so the comparison
    is long-vs-long (a double threshold would round hashes above 2^53).
    """
    c = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    return df.filter(uniform_hash60(c) < F.lit(int(rate * HASH_SPACE)))


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    targets: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Rebalance a corpus to a target per-domain mixture — the
    training-data "data mixing" step (sample web down to 30%, keep all
    books, …). `targets` maps domain value → desired row count; each
    domain keeps rows at rate ``min(1, target / actual)`` via the same
    deterministic id-hash Bernoulli as `bernoulli_sample`, so the mix
    is reproducible and nested across reruns. Domains absent from
    `targets` are dropped (an explicit 0 is the same).

    Plan: one small group-by to count domains (metadata-sized result),
    the target table is a literal frame joined onto the counts, and the
    per-row decision is a broadcast hash join + filter — the corpus
    itself is scanned once and never shuffles.

    Cross-engine note: the keep threshold is
    ``floor(p * 2^60)`` computed with floor() BEFORE the integer cast —
    Spark's double→long cast truncates while DuckDB's rounds, so the
    explicit floor is what keeps sample membership identical."""
    spark = df.sparkSession
    tgt = local_frame(
        spark,
        [(k, float(v)) for k, v in targets.items()],
        f"{domain_col} string, __target double",
    )
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    rates = counts.join(tgt, on=domain_col).select(
        domain_col,
        F.floor(
            F.least(F.lit(1.0), F.col("__target") / F.col("__n"))
            * F.lit(HASH_SPACE)
        ).cast("long").alias("__thr"),
    )
    c = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    return (
        df.join(F.broadcast(rates), on=domain_col)
        .filter(uniform_hash60(c) < F.col("__thr"))
        .drop("__thr")
    )


def stratified_topk_sample(
    df: DataFrame,
    strata: Sequence[str],
    id_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum: the k smallest
    id-hashes — a uniform without-replacement sample per group, again
    fully deterministic (the 'take 10k docs per language' shape).

    Plan: one shuffle on the strata + a row_number window capped at k.
    """
    # NULLS LAST explicitly: a NULL id hashes to NULL, which Spark sorts
    # first ascending but DuckDB's ROW_NUMBER sorts last — pin the order
    # both engines agree on so sample membership never diverges on NULLs
    c = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    w = Window.partitionBy(*strata).orderBy(
        F.asc_nulls_last(uniform_hash60(c)), F.asc_nulls_last(id_col)
    )
    return (
        df.withColumn("__srn", F.row_number().over(w))
        .filter(F.col("__srn") <= k)
        .drop("__srn")
    )


def weighted_bernoulli_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    target_rate: float,
    salt: str = "",
) -> DataFrame:
    """Importance sampling: row i is kept with probability
    ``min(1, target_rate * w_i / mean(w))`` — heavier rows
    proportionally more likely, expected sample fraction ≈ target_rate.
    The keep decision is hash-keyed like `bernoulli_sample`, so the
    sample stays deterministic and reproducible. Adds
    `sample_weight` = 1/p_keep (Horvitz-Thompson inverse-probability
    weight) so downstream aggregates stay unbiased.

    Plan: one scalar aggregate (mean weight, broadcast) + a filter — no
    data shuffle.
    """
    # decimal-accumulated mean: order-independent and engine-exact
    # (registry.py policy), so the keep decision — and therefore the
    # sample membership — is reproducible bit-for-bit
    w = F.col(weight_col).cast("decimal(18,6)")
    mean_w = df.agg(
        (F.sum(w).cast("double") / F.count(weight_col)).alias("__mean_w")
    )
    c = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    p_keep = F.least(
        F.lit(1.0),
        F.lit(target_rate)
        * F.col(weight_col).cast("double")
        / F.col("__mean_w"),
    )
    u = uniform_hash60(c).cast("double") / F.lit(HASH_SPACE)
    return (
        df.join(F.broadcast(mean_w))
        .withColumn("__p", p_keep)
        .filter(u < F.col("__p"))
        .withColumn("sample_weight", F.lit(1.0) / F.col("__p"))
        .drop("__mean_w", "__p")
    )


def frequency_debiased_sample(
    df: DataFrame,
    id_col: str,
    content_cols: list[str],
    target_rate: float,
    salt: str = "",
) -> DataFrame:
    """Duplicate-aware sampling: keep row i with probability
    ``min(1, target_rate / n_copies(content))`` — each DISTINCT content
    contributes ~target_rate expected rows regardless of how many
    copies exist. The standard counter to boilerplate
    over-representation when sampling a crawl WITHOUT running full
    dedup first (near-dup clusters from graph.dedup_clusters can
    substitute for the exact fingerprint when fuzzy grouping is
    wanted).

    Plan: copy counts reduce through a map-side-combined aggregate on
    the sha2 fingerprint (the count shuffle carries 64-byte keys, never
    content), FILTERED to fingerprints with >= 2 copies — unique
    contents (the bulk of any corpus) need no count at all (n=1 is the
    join-miss default). The corpus then left-joins that
    duplicates-only table: AQE broadcasts it when the duplicated set
    is small (content never leaves the scan stage), and only a corpus
    with a broadcast-exceeding duplicate population pays a content
    shuffle — strictly less than the window formulation, which
    shuffled every full row unconditionally. Emits `n_copies` and the
    Horvitz-Thompson `sample_weight` = 1/p so downstream aggregates
    remain unbiased over the copy population.
    """
    fp = F.sha2(F.concat_ws("", *content_cols), 256)
    dup_counts = (
        df.select(fp.alias("__fp"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
    )
    c = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    with_n = (
        df.withColumn("__fp", fp)
        .join(dup_counts, "__fp", "left")
        .withColumn("n_copies", F.coalesce(F.col("__n"), F.lit(1)))
        .drop("__fp", "__n")
    )
    p_keep = F.least(
        F.lit(1.0), F.lit(target_rate) / F.col("n_copies").cast("double")
    )
    u = uniform_hash60(c).cast("double") / F.lit(HASH_SPACE)
    return (
        with_n.withColumn("__p", p_keep)
        .filter(u < F.col("__p"))
        .withColumn("sample_weight", F.lit(1.0) / F.col("__p"))
        .drop("__p")
    )
