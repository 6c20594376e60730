"""Session-lifetime cache soak (VERDICT r7 #7).

The r6 ADVICE leak class: an operator that persists intermediates and
releases them on the happy path can still accumulate blocks across
REPEATED calls in one long-lived session (the star path leaked its
band/docset caches until minhash.py:507's unpersist). This regression
runs the full star-backend curation funnel several times in one
session and asserts storage returns to baseline — the property a
streaming/foreachBatch deployment depends on, where "per call" means
"per micro-batch, forever". The same holds for every operator's
`release_cache=True` path on plan-distinct frames, and for every
caching operator's failure path (operators/materialize.CacheScope).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"
N_CALLS = 4


def _blocks(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _settle(spark, target: int, tries: int = 120) -> int:
    """localCheckpoint blocks are freed by the ContextCleaner when the
    JVM GCs the RDD (weak references) — after the python frames are
    gone, nudge GC and poll until the count settles or tries run out."""
    import gc

    n = _blocks(spark)
    for _ in range(tries):
        if n <= target:
            return n
        # python first: py4j holds JVM references for every DataFrame
        # the test loop created — the JVM can't collect (and the
        # ContextCleaner can't release) checkpoint RDDs that python
        # still pins
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        try:
            spark.sparkContext._jvm.System.runFinalization()
        except Exception:
            pass
        time.sleep(0.5)
        n = _blocks(spark)
    return n


def test_star_curation_soak_storage_returns_to_baseline(spark):
    spark.catalog.clearCache()
    baseline = _settle(spark, 0)

    per_call = []
    for _ in range(N_CALLS):
        QUERIES["q_corpus_curated_star"](spark, SF).write.format(
            "noop"
        ).mode("overwrite").save()
        per_call.append(_blocks(spark))

    # steady state, not monotone growth: whatever residual one call
    # leaves (GC-pinned checkpoint labels), call N must not stack N of
    # them (the r6 leak added band+docset blocks EVERY call). The raw
    # post-call reading races the ContextCleaner — identical commits
    # measured [4,7,7,10] and [4,5,6,6] on consecutive runs while BOTH
    # settled to 1 block — so the growth assertion reads a SETTLED
    # count (the r6 leak class pins GC-proof blocks that no settle can
    # drain: +3-4/call is still far outside the tolerance).
    steady = _settle(spark, per_call[0] + 2, tries=30)
    assert steady <= per_call[0] + 2, (
        f"storage grows per call: {per_call} (settled {steady})"
    )

    # and after the frames are dead, storage must come back down to
    # the pre-soak baseline (nothing session-pinned)
    spark.catalog.clearCache()
    final = _settle(spark, baseline)
    # +2: the ContextCleaner drains its queue asynchronously and a
    # shared-session run can leave a couple of blocks mid-queue past
    # the settle window; the leak class adds 3-4 blocks PER CALL
    # (12-16 over the soak), still far outside this tolerance
    assert final <= baseline + 2, (
        f"soak left {final - baseline} blocks pinned "
        f"(baseline {baseline}, per-call {per_call})"
    )


def test_cdc_pipeline_soak_storage_returns_to_baseline(spark):
    """Same property for the CDC ingest path (the other heavyweight
    repeated-call surface: one process_batch per micro-batch). Reuses
    bench.bench_cdc_ingest — the REAL two-batch create+merge pipeline
    over proper Debezium envelopes — as the unit of repetition."""
    from bench import bench_cdc_ingest

    spark.catalog.clearCache()
    baseline = _settle(spark, 0)

    per_call = []
    for _ in range(N_CALLS):
        bench_cdc_ingest(spark, SF)
        per_call.append(_blocks(spark))

    steady = _settle(spark, per_call[0] + 2, tries=30)
    assert steady <= per_call[0] + 2, (  # settled reading, see above
        f"storage grows per call: {per_call} (settled {steady})"
    )
    spark.catalog.clearCache()
    final = _settle(spark, baseline)
    assert final <= baseline + 2, (  # same tolerance rationale as above
        f"CDC soak left blocks pinned: {final} vs baseline {baseline}"
    )


def _docs(spark, k=None):
    """The fixture corpus; with `k`, a per-call slice that makes each
    call's frame plan-distinct — distinct frames defeat the
    session-carry cache-key reuse, the leak mode `release_cache=True`
    exists for."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs if k is None else docs.filter(F.col("doc_id") % 7 != k)


def _vectors(spark, k):
    emb = load_table(spark, SF, "embeddings")
    return emb.filter(F.col("vec_id") % 7 != k)


# small explicit banding + a bucket cap so the LSH joins take the tiled
# path, the one that persists the banded frame
_LSH = dict(num_bands=16, planes_per_band=5, max_bucket_rows=8)


def _minhash_near_dup_pairs(spark, k):
    from data_engineering_spark.operators.minhash import (
        minhash_near_dup_pairs,
    )

    return minhash_near_dup_pairs(_docs(spark, k), release_cache=True)


def _minhash_incremental_pairs(spark, k):
    from data_engineering_spark.operators.minhash import (
        minhash_band_index,
        minhash_incremental_pairs,
    )

    docs = _docs(spark, k)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    return minhash_incremental_pairs(
        docs.filter(F.col("doc_id") % 2 == 1),
        corpus,
        minhash_band_index(corpus),
        release_cache=True,
    )


def _ngram_jaccard_pairs(spark, k):
    from data_engineering_spark.operators.text import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, k), release_cache=True)


def _span_dedup(spark, k):
    from data_engineering_spark.operators.text import span_dedup

    return span_dedup(_docs(spark, k), block=4, release_cache=True)


def _dsir_select(spark, k):
    from data_engineering_spark.operators.dsir import dsir_select

    target = _docs(spark).filter(F.col("lang") == "en").limit(20)
    return dsir_select(
        _docs(spark, k), target, k=10, num_buckets=512, release_cache=True
    )


def _conversation_dedup(spark, k):
    from data_engineering_spark.operators.sft import (
        conversation_dedup,
        synthesize_turns,
    )

    return conversation_dedup(
        synthesize_turns(_docs(spark, k)), release_cache=True
    )


def _turn_token_counts(spark, k):
    from data_engineering_spark.operators.sft import (
        synthesize_turns,
        turn_token_counts,
    )

    return turn_token_counts(
        synthesize_turns(_docs(spark, k)),
        [("a", "b"), ("ab", "c")],
        release_cache=True,
    )


def _lsh_bucketed_similarity_join(spark, k):
    from data_engineering_spark.operators.similarity import (
        lsh_bucketed_similarity_join,
    )

    return lsh_bucketed_similarity_join(
        _vectors(spark, k), 0.4, release_cache=True, **_LSH
    )


def _embedding_incremental_pairs(spark, k):
    from data_engineering_spark.operators.similarity import (
        embedding_incremental_pairs,
        embedding_lsh_index,
    )

    vecs = _vectors(spark, k)
    index = embedding_lsh_index(
        vecs.filter(F.col("vec_id") % 5 != 0),
        num_bands=_LSH["num_bands"],
        planes_per_band=_LSH["planes_per_band"],
    )
    return embedding_incremental_pairs(
        vecs.filter(F.col("vec_id") % 5 == 0),
        index,
        0.4,
        release_cache=True,
        **_LSH,
    )


RELEASE_CACHE_CALLS = {
    f.__name__.lstrip("_"): f
    for f in (
        _minhash_near_dup_pairs,
        _minhash_incremental_pairs,
        _ngram_jaccard_pairs,
        _span_dedup,
        _dsir_select,
        _conversation_dedup,
        _turn_token_counts,
        _lsh_bucketed_similarity_join,
        _embedding_incremental_pairs,
    )
}


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("op", list(RELEASE_CACHE_CALLS))
def test_release_cache_soak_on_distinct_frames(spark, op):
    """`release_cache=True` must not pin an operator's internal caches
    across repeated calls on plan-distinct frames: every catalog
    persist is gone after each call, and block storage stays flat."""
    call = RELEASE_CACHE_CALLS[op]
    spark.catalog.clearCache()
    baseline = _settle(spark, 0)

    per_call = []
    for k in range(N_CALLS):
        call(spark, k).write.format("noop").mode("overwrite").save()
        assert _cache_manager_empty(spark), f"{op} call {k} kept a persist"
        per_call.append(_blocks(spark))

    steady = _settle(spark, per_call[0] + 2, tries=30)
    assert steady <= per_call[0] + 2, (  # settled reading, see above
        f"storage grows per call: {per_call} (settled {steady})"
    )
    spark.catalog.clearCache()
    final = _settle(spark, baseline)
    assert final <= baseline + 2, (
        f"{op} soak left blocks pinned: {final} vs {baseline}"
    )


def _poisoned_docs(spark):
    """Documents whose text raises when evaluated: the operator's first
    action inside the call fails mid-plan."""
    docs = _docs(spark)
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.raise_error(F.lit("poisoned doc"))
        ).otherwise(F.col("text")),
    )


def _path_edges(spark):
    # a 12-vertex path graph needs ~4 pointer-jumping rounds
    return spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )


def _cc_not_converged(spark):
    from data_engineering_spark.operators.graph import (
        connected_components,
    )

    # capped at 1 round, the loop raises mid-flight with a materialized
    # round frame, the lazily marked init labels and the edge caches
    connected_components(_path_edges(spark), max_iter=1)


def _pagerank_poisoned(spark):
    from data_engineering_spark.operators.graph import pagerank

    edges = _path_edges(spark).withColumn(
        "doc_b",
        F.when(
            F.col("doc_a") == 3, F.raise_error(F.lit("poisoned edge"))
        ).otherwise(F.col("doc_b")),
    )
    pagerank(edges, "doc_a", "doc_b")


def _star_clusters_poisoned(spark):
    from data_engineering_spark.operators.minhash import (
        minhash_star_clusters,
    )

    minhash_star_clusters(_poisoned_docs(spark))


def _curate_poisoned(near_dup):
    def run(spark):
        from data_engineering_spark.operators.curation import curate_corpus

        curate_corpus(_poisoned_docs(spark), near_dup=near_dup)

    return run


FAILING_CALLS = {
    "connected_components": (_cc_not_converged, "did not converge"),
    "pagerank": (_pagerank_poisoned, "poisoned edge"),
    "minhash_star_clusters": (_star_clusters_poisoned, "poisoned doc"),
    "curate_corpus_ppjoin": (_curate_poisoned("ppjoin"), "poisoned doc"),
    "curate_corpus_star": (_curate_poisoned("star"), "poisoned doc"),
}


@pytest.mark.parametrize("case", list(FAILING_CALLS))
def test_failure_path_releases_everything(spark, case):
    """A call that raises mid-flight must release EVERY persist and
    checkpoint mark it made, nested operators' included: no catalog
    entry survives without clearCache, and block storage settles back
    to the pre-call baseline."""
    call, message = FAILING_CALLS[case]
    spark.catalog.clearCache()
    baseline = _settle(spark, 0)

    with pytest.raises(Exception, match=message):
        call(spark)

    assert _cache_manager_empty(spark), f"{case} kept a persist"
    final = _settle(spark, baseline)
    assert final <= baseline, (
        f"{case} failure path left blocks pinned: {final} vs {baseline}"
    )
