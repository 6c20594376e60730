"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw document by how target-like it is
under hashed bag-of-n-gram language models, then resample the corpus
toward the target distribution.

The published recipe, re-expressed Spark-first:

1. Features: unigrams + bigrams hashed into B buckets (hashed n-gram
   model). JVM-side only — `xxhash64 % B` over token/bigram arrays,
   explode, count. No Python in the scan.
2. Two bucket distributions: `p_target` from the target slice,
   `p_raw` from the full corpus, both add-one smoothed. Each is B rows
   of metadata — broadcastable no matter the corpus size.
3. Per-doc log importance weight
   `log w(x) = Σ_b c_b(x) · (log p_t[b] − log p_r[b])` — one
   broadcast join of doc-bucket counts against the B-row weight table
   and a groupBy(doc) sum. Everything scales as one corpus scan plus
   shuffles keyed on (doc) and (bucket).
4. Selection: Gumbel top-k over `log w + G` gives an exact sample
   from the softmax of the weights WITHOUT materializing a global
   sort of all weights first — the per-partition top-k pattern.
   Deterministic: the Gumbel noise derives from xxhash64(doc_id,seed)
   (uniform in (0,1]), not an RNG.

Oracle policy: `log` is a transcendental, which the repo's DuckDB
oracles ban (cross-engine libm results differ in the last ulp), so
the registry entry is rows-only; tests/test_dsir.py verifies weights
against an independent numpy computation instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.materialize import CacheScope
from data_engineering_spark.operators.text import tokens


# every consumer of the hashed-bucket models (DSIR importance weights,
# the bigram LM, the linear classifier) BROADCASTS a ≤num_buckets-row
# table to the corpus scan; past this bound that frame stops being
# broadcastable (10M (long,long,...) rows ≈ hundreds of MB serialized,
# past Spark's 8 GB broadcast hard limit territory once task
# deserialization multiplies it) and the whole scale contract silently
# inverts — fail loudly at the API instead (r6 verdict item 7)
MAX_BROADCAST_BUCKETS = 10_000_000


def check_bucket_bound(num_buckets: int) -> None:
    if not 0 < num_buckets <= MAX_BROADCAST_BUCKETS:
        raise ValueError(
            f"num_buckets={num_buckets} outside (0, "
            f"{MAX_BROADCAST_BUCKETS}]: the bucket model must stay "
            "broadcast-sized — shard the model or reduce buckets"
        )


def _bucket(
    col: Column, num_buckets: int, bucket_hash: str = "xxhash64"
) -> Column:
    if bucket_hash == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(num_buckets))
    if bucket_hash == "md5":
        # engine-portable 60-bit hash (sketches.uniform_hash60): lets a
        # DuckDB oracle recompute the exact bucket assignment
        from data_engineering_spark.operators.sketches import (
            uniform_hash60,
        )

        return F.pmod(uniform_hash60(col), F.lit(num_buckets))
    raise ValueError(f"bucket_hash must be 'xxhash64' or 'md5': {bucket_hash}")


def hashed_ngram_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 8192,
    bucket_hash: str = "xxhash64",
) -> DataFrame:
    """(doc, bucket, c): hashed unigram+bigram counts per document.
    Built ROW-WISE (posexplode tokens → lead window → 2-element
    explode), not by exploding a composed array expression — codegen
    re-evaluates a generator's child per OUTPUT row, which turns
    explode(bigram_array_expr) quadratic in document length (the same
    trap ngram_jaccard_pairs documents with measurements).

    `bucket_hash`: 'xxhash64' (default, fastest) or 'md5' (portable —
    a DuckDB oracle can recompute the buckets; see linear classifier
    scoring in operators/classifier.py)."""
    check_bucket_bound(num_buckets)
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    )
    nxt = F.lead("w", 1).over(Window.partitionBy("doc").orderBy("pos"))
    # window evaluated in its own projection: generators cannot host
    # window expressions (and the array child stays trivially cheap)
    rows = tok.select("doc", "w", nxt.alias("w2"))
    feats = rows.select(
        "doc",
        F.explode(
            F.array(
                F.col("w"),
                F.when(
                    F.col("w2").isNotNull(),
                    F.concat_ws(" ", F.col("w"), F.col("w2")),
                ),
            )
        ).alias("f"),
    ).filter(F.col("f").isNotNull())
    return (
        feats.select(
            "doc",
            _bucket(F.col("f"), num_buckets, bucket_hash).alias("bucket"),
        )
        .groupBy("doc", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def bucket_distribution(
    bucket_counts: DataFrame, num_buckets: int
) -> DataFrame:
    """(bucket, logp): add-one-smoothed log probability per bucket.
    Unseen buckets get the smoothed floor via the caller's outer join —
    the frame itself only carries observed buckets (≤ B rows)."""
    tot = bucket_counts.groupBy().agg(F.sum("c").alias("n"))
    return (
        bucket_counts.groupBy("bucket")
        .agg(F.sum("c").alias("cb"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.log((F.col("cb") + 1.0) / (F.col("n") + float(num_buckets)))
            .alias("logp"),
            F.log(1.0 / (F.col("n") + float(num_buckets))).alias("log_floor"),
        )
    )


def dsir_log_weights(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 8192,
    target_subset: bool = False,
    release_cache: bool = False,
) -> DataFrame:
    """(doc_id, log_w): per-document log importance weight
    log p_target(x) − log p_raw(x) under the hashed n-gram models.
    ``release_cache=True`` eagerly materializes the (doc-sized,
    two-column) result and unpersists the internal feature cache
    before returning — the minhash/similarity release contract
    (VERDICT r10 nit #3).

    `target` is the slice defining what "good" looks like (a quality
    domain, a curated corpus...). Distribution frames are ≤ B rows, so
    the per-doc scoring join broadcasts them; corpus cost is the
    feature scan + one (doc,bucket) aggregation.

    ``target_subset=True`` declares that `target`'s rows are a subset
    of `docs` (same ids): target features are then a semi-join slice of
    the raw feature frame instead of a SECOND tokenize scan of the
    target text — one corpus pass instead of 1+fraction. The slice path
    persists the corpus feature frame, so it wins only when the corpus
    scan dominates that materialization (large corpora / large
    targets); at small scale the extra tokenize is cheaper (A/B at
    sf0.1: 2.4 s two-scan vs 3.8 s subset)."""
    # raw_counts feeds at least two consumers (the raw distribution
    # and the scoring join; three with target_subset) and each
    # recomputation re-pays the corpus tokenize+hash scan — persist the
    # fixed-width (doc, bucket, c) frame, same rationale as the LSH
    # band-rows persist in operators/minhash.py
    with CacheScope(release_cache) as scope:
        raw_counts = scope.persist(
            hashed_ngram_buckets(docs, id_col, text_col, num_buckets)
        )
        if target_subset:
            tgt_counts = raw_counts.join(
                target.select(F.col(id_col).alias("doc")).distinct(),
                "doc",
                "left_semi",
            )
        else:
            tgt_counts = hashed_ngram_buckets(
                target, id_col, text_col, num_buckets
            )
        p_raw = bucket_distribution(raw_counts, num_buckets)
        p_tgt = bucket_distribution(tgt_counts, num_buckets)
        # one weight row per OBSERVED bucket of either model; missing side
        # falls back to its smoothing floor. The floors are constants per
        # model — carried on every row so the join below needs no second
        # lookup.
        weights = (
            p_tgt.select(
                "bucket",
                F.col("logp").alias("lt"),
                F.col("log_floor").alias("ft"),
            )
            .join(
                p_raw.select(
                    "bucket",
                    F.col("logp").alias("lr"),
                    F.col("log_floor").alias("fr"),
                ),
                "bucket",
                "full_outer",
            )
        )
        # fill per-side floors: max() over the constant column is the
        # constant itself (the floor never varies within a model)
        floors = weights.agg(
            F.max("ft").alias("ft"), F.max("fr").alias("fr")
        )
        weights = weights.crossJoin(F.broadcast(floors.select(
            F.col("ft").alias("__ft"), F.col("fr").alias("__fr")
        ))).select(
            "bucket",
            (F.coalesce(F.col("lt"), F.col("__ft"))
             - F.coalesce(F.col("lr"), F.col("__fr"))).alias("dlog"),
        )
        result = (
            raw_counts.join(F.broadcast(weights), "bucket")
            .groupBy("doc")
            .agg(F.sum(F.col("c") * F.col("dlog")).alias("log_w"))
            .select(F.col("doc").alias(id_col), "log_w")
        )
        return scope.result(result)


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 8192,
    seed: int = 42,
    temperature: float = 1.0,
    target_subset: bool = False,
    release_cache: bool = False,
) -> DataFrame:
    """Gumbel top-k resampling: keep the k docs with the largest
    `log_w/T + Gumbel(doc)` — an exact sample (without replacement)
    from softmax(log_w/T), computed with an ordered LIMIT instead of a
    global materialized sort. Deterministic via hash-derived uniforms.
    Returns (doc_id, log_w, gumbel_key) for the selected docs.
    ``release_cache`` flows through to dsir_log_weights."""
    lw = dsir_log_weights(
        docs, target, id_col, text_col, num_buckets,
        target_subset=target_subset, release_cache=release_cache,
    )
    # u in (0,1]: top 63 hash bits scaled (shiftrightunsigned, not abs —
    # abs(Long.MIN_VALUE) overflows); +1 keeps u away from 0 so log(u)
    # is finite
    h = F.shiftrightunsigned(F.xxhash64(F.col(id_col), F.lit(seed)), 1)
    u = (h.cast("double") + 1.0) / float(1 << 63)
    gumbel = -F.log(-F.log(u))
    return (
        lw.withColumn(
            "gumbel_key", F.col("log_w") / F.lit(temperature) + gumbel
        )
        .orderBy(F.desc("gumbel_key"), F.asc(id_col))
        .limit(k)
    )


def dsir_bucket_stats(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 8192,
    bucket_hash: str = "md5",
) -> DataFrame:
    """(id, n_feats, dot_target, dot_raw): the INTEGER core of the
    DSIR importance weight — per-document feature count and the
    count-weighted dot products against the target/raw bucket models
    (the c·cb sums whose logs dsir_log_weights takes).  Fixed-point
    end to end with the md5 bucket hash, so a DuckDB oracle recomputes
    the full path; only the log smoothing stays under the
    transcendental exemption (r6 verdict item 4).

    Same broadcast shape as the weight join: the two ≤num_buckets-row
    distributions ship to the corpus scan; one (doc,bucket) shuffle.
    """
    check_bucket_bound(num_buckets)
    raw_counts = hashed_ngram_buckets(
        docs, id_col, text_col, num_buckets, bucket_hash
    )
    tgt_counts = hashed_ngram_buckets(
        target, id_col, text_col, num_buckets, bucket_hash
    )
    tgt_b = tgt_counts.groupBy("bucket").agg(
        F.sum("c").cast("long").alias("__ct")
    )
    raw_b = raw_counts.groupBy("bucket").agg(
        F.sum("c").cast("long").alias("__cr")
    )
    per_doc = (
        raw_counts.join(F.broadcast(tgt_b), "bucket", "left")
        .join(F.broadcast(raw_b), "bucket")
        .groupBy("doc")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.sum(F.col("c") * F.coalesce(F.col("__ct"), F.lit(0)))
            .cast("long")
            .alias("dot_target"),
            F.sum(F.col("c") * F.col("__cr"))
            .cast("long")
            .alias("dot_raw"),
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(
            per_doc.withColumnRenamed("doc", id_col), id_col, "left"
        )
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("dot_target", F.lit(0)).alias("dot_target"),
            F.coalesce("dot_raw", F.lit(0)).alias("dot_raw"),
        )
    )
