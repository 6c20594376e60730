"""Composed corpus-curation pipeline: the end-to-end training-data
flow a user of this engine actually runs, chained from the tested
building blocks:

    raw → exact dedup → quality filter (Gopher band) →
    near-dup canonicalization (exact-Jaccard clusters, keep best) →
    domain cap → curated corpus (+ per-stage funnel counts)

Every stage is an existing operator (dedup_exact, gopher_metrics,
ngram_jaccard_pairs + connected_components, cap_per_group), so the
pipeline adds NO new semantics — only the composition and the funnel
accounting. Scale shape is the sum of its parts: one fixed-width-hash
shuffle (exact dedup), a scan-stage projection (quality), the PPJoin
near-dup machinery over the survivors (bounded candidates), and one
keyed rank window (cap). The funnel counts are lazy count aggregates
unioned into one frame — ONE action materializes the whole report.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.dedup import dedup_exact
from data_engineering_spark.operators.filters import (
    cap_per_group,
    gopher_metrics,
)
from data_engineering_spark.operators.graph import connected_components
from data_engineering_spark.operators.materialize import CacheScope
from data_engineering_spark.operators.text import ngram_jaccard_pairs


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cap_cols: tuple[str, ...] = ("source", "lang"),
    cap_n: int = 5,
    jaccard_threshold: float = 0.6,
    score_col: str | None = None,
    near_dup: str = "ppjoin",
    quality_gate: str = "gopher",
    classifier_weights: DataFrame | None = None,
    classifier_bias: int = 0,
    classifier_buckets: int = 4096,
) -> tuple[DataFrame, list[tuple[str, DataFrame]]]:
    """Returns (curated corpus frame, ordered [(stage, frame)] list —
    first entry is the raw input, last is the curated output).

    Stage semantics (each deterministic, each with a DuckDB twin in
    queries/curation.py's funnel oracle):
    - exact_dedup: lowest-id doc per identical text
    - quality: Gopher keep band (token count / word length / alpha)
    - near_dedup: exact-Jaccard (>= threshold) connected components,
      keep the best-scored member (ties: lowest id); singletons survive
    - domain_cap: at most cap_n docs per cap_cols group, best first

    `score_col` ranks cluster members and the cap (higher = better);
    default is the text length. Passing a stored column (e.g. n_chars)
    keeps oracle parity exact when text may contain astral codepoints
    (Spark's length counts UTF-16 code units, DuckDB's codepoints).

    `near_dup` picks the clustering backend: "ppjoin" (exact
    prefix-filter pair join + transitive closure) or "star"
    (minhash_star_clusters — linear edge output, the duplicate-heavy /
    large-corpus scale path; see SCALE.md's weak-scaling curves for
    when the pair join's sum(df^2) term makes this the only option).
    The two agree whenever banding recall holds (~1-1e-6 per pair at
    32x2 bands), which the shared oracle checks end-to-end.
    """
    from pyspark.sql import Window

    # persist, NOT a checkpoint mark: `exact` feeds the quality gate's
    # metrics scan, the quality semi-join, and the caller's
    # stage-report branch. Within ONE plan ReusedExchange dedups the
    # hash shuffle (a checkpoint mark would DESTROY that reuse — the
    # LogicalRDD's two cold references race-compute the dedup twice,
    # measured 3.0 → 6.1 s on q_corpus_curated), but the stage report
    # runs in a LATER action where exchange reuse cannot reach — the
    # cache serves it the materialized rows instead of re-running the
    # corpus hash shuffle. Same caller-owned persist contract as
    # `quality` below. A failure anywhere in the funnel releases both.
    with CacheScope() as scope:
        exact = scope.persist(
            dedup_exact(docs, [text_col], id_col).drop("n_copies")
        )

        if quality_gate == "gopher":
            gm = gopher_metrics(exact, id_col=id_col, text_col=text_col)
            keep_ids = gm.filter(F.col("keep")).select(id_col)
        elif quality_gate == "classifier":
            # trained-model gate instead of the heuristic band — the
            # md5-portable scorer, so the funnel stays oracle-checkable
            # end to end (operators/classifier.py)
            if classifier_weights is None:
                raise ValueError(
                    "quality='classifier' needs classifier_weights"
                )
            from data_engineering_spark.operators.classifier import (
                linear_classifier_score,
            )

            scored = linear_classifier_score(
                exact,
                classifier_weights,
                id_col=id_col,
                text_col=text_col,
                num_buckets=classifier_buckets,
                bias=classifier_bias,
            )
            keep_ids = scored.filter(F.col("label")).select(id_col)
        else:
            raise ValueError(
                "quality_gate must be 'gopher' or 'classifier': "
                f"{quality_gate}"
            )
        quality = exact.join(keep_ids, id_col, "left_semi")
        # the near-dup stage consumes `quality` three ways (pairs, member
        # join, length score); persist the survivor set once
        quality = scope.persist(quality)

        score = (
            F.col(score_col) if score_col else F.length(text_col)
        )
        if near_dup == "star":
            from data_engineering_spark.operators.minhash import (
                minhash_star_clusters,
            )

            clusters = minhash_star_clusters(
                quality.select(F.col(id_col), F.col(text_col)),
                id_col=id_col,
                text_col=text_col,
                threshold=jaccard_threshold,
            )
            member = quality.withColumn("__len", score).join(
                clusters.withColumnRenamed("cluster_id", "__cluster"),
                id_col,
            )
        elif near_dup == "ppjoin":
            pairs = ngram_jaccard_pairs(
                quality.select(F.col(id_col), F.col(text_col)),
                id_col=id_col,
                text_col=text_col,
                threshold=jaccard_threshold,
            )
            # ngram_jaccard_pairs emits distinct canonical (a < b) pairs
            # (cands .distinct() + one verify row per candidate) — skip
            # CC's union+distinct shuffle
            comp = connected_components(
                pairs, "doc_a", "doc_b", edges_unique=True
            )
            member = (
                quality.withColumn("__len", score)
                .join(
                    comp.select(
                        F.col("vertex").alias(id_col),
                        F.col("component").alias("__c"),
                    ),
                    id_col,
                    "left",
                )
                .withColumn("__cluster", F.coalesce("__c", F.col(id_col)))
                .drop("__c")
            )
        else:
            raise ValueError(f"near_dup must be 'ppjoin' or 'star': {near_dup}")
        w = Window.partitionBy("__cluster").orderBy(
            F.desc("__len"), F.asc(id_col)
        )
        canonical = (
            member.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__cluster")
        )

        capped = cap_per_group(
            canonical, list(cap_cols), "__len", cap_n, tiebreaker=id_col
        ).drop("__len")

        stages = [
            ("raw", docs),
            ("exact_dedup", exact),
            ("quality", quality),
            ("near_dedup", canonical.drop("__len")),
            ("domain_cap", capped),
        ]
        return capped, stages


def funnel_counts(stages: list[tuple[str, DataFrame]]) -> DataFrame:
    """(seq, stage, n_docs) — one lazy union of count aggregates, so
    the whole funnel report is a single action."""
    frames = [
        df.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(
            F.lit(i).alias("seq"),
            F.lit(name).alias("stage"),
            "n_docs",
        )
        for i, (name, df) in enumerate(stages)
    ]
    return reduce(lambda a, b: a.unionByName(b), frames)
