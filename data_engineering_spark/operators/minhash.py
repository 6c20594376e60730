"""MinHash + banded LSH near-duplicate detection (SURVEY.md §2.11).

The 100 TB near-dup path: instead of the exact prefix-filter join
(text.ngram_jaccard_pairs), each document is reduced to `num_hashes`
minhash values (min over its shingles of k seeded xxhash64 functions);
bands of consecutive signature values are hashed to buckets and
candidate pairs are doc pairs sharing any band bucket. Candidates are
then verified with the EXACT Jaccard (shingle-set intersection), so the
operator can only miss pairs (banding recall), never invent them.

Default banding (64 hashes → 32 bands × 2 rows) detects
P(candidate | jaccard=j) = 1 - (1 - j²)³²:
    j=0.4 → 0.996    j=0.6 → ~1 - 1e-6    j=0.8 → 1 - 7e-15
so recall at the 0.6 threshold is effectively 1, while pairs with
j ≈ 0.05 survive banding only ~8% of the time and are then discarded
by the exact verify.

Everything is JVM builtins: xxhash64 for the hash family (seed column
varies the function), one groupBy for signatures, one explode+equi-join
for banding. No Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.materialize import CacheScope
from data_engineering_spark.operators.text import tokens


def shingle_rows(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct (doc, shingle) rows, row-built for linear cost (see
    text.ngram_jaccard_pairs for why arrays-under-explode are avoided)."""
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    )
    wspec = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(wspec) for j in range(1, n)]
    return (
        tok.select(
            "doc",
            F.concat_ws(" ", *parts).alias("g"),
            F.lead("w", n - 1).over(wspec).alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select("doc", "g")
        .distinct()
    )


def minhash_signatures(
    shingle_df: DataFrame, num_hashes: int = 64
) -> DataFrame:
    """(doc, h0..h{k-1}) minhash signature per document — one shuffle.

    hash_i(g) = xxhash64(g, i): the seed literal varies the function;
    xxhash64 is a well-mixed 64-bit hash, so the k functions are
    effectively independent."""
    aggs = [
        F.min(F.xxhash64(F.col("g"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingle_df.groupBy("doc").agg(*aggs)


def band_rows(
    sigs: DataFrame, num_hashes: int, num_bands: int
) -> DataFrame:
    """(doc, band, bucket) LSH band rows from a signature frame: each
    band's `num_hashes/num_bands` consecutive signature values hash to
    one bucket id. 3 longs per (doc, band) regardless of document size
    — this is the storable representation (see minhash_band_index)."""
    rows_per_band = num_hashes // num_bands
    return (
        sigs.select(
            "doc",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[
                            F.col(f"h{b * rows_per_band + j}")
                            for j in range(rows_per_band)
                        ]).alias("bucket"),
                    )
                    for b in range(num_bands)
                ])
            ).alias("bb"),
        ).select(
            "doc",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


def minhash_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 32,
) -> DataFrame:
    """Build the persistent LSH index of a corpus: (doc, band, bucket),
    `num_bands` fixed-width rows per document. Write it out as a normal
    parquet table (partition/bucket by `band` for co-located probe
    joins); incremental ingest then near-dup-checks each new batch
    against 100 TB of corpus WITHOUT touching corpus text again
    (minhash_incremental_pairs). Deterministic: same seeds, same
    banding as minhash_near_dup_pairs, so index entries are stable
    across runs and Spark versions."""
    assert num_hashes % num_bands == 0
    sh = shingle_rows(docs, id_col, text_col, n)
    return band_rows(
        minhash_signatures(sh, num_hashes), num_hashes, num_bands
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 64,
    num_bands: int = 32,
    release_cache: bool = False,
) -> DataFrame:
    """Near-duplicate pairs of an incoming batch against an INDEXED
    corpus (plus within-batch pairs) — the daily-ingest shape of the
    100 TB dedup path.

    `corpus_index` is (doc, band, bucket) from `minhash_band_index`
    (typically read back from its parquet table). The corpus text
    (`corpus_docs`) is touched exactly once, through a semi-join
    pruned scan that shingles ONLY candidate docs for the exact
    verify; everything else about the corpus flows through the
    fixed-width index. New/corpus doc ids must be disjoint.

    Output matches minhash_near_dup_pairs: (doc_a, doc_b, common,
    jaccard_r) exact-verified at `threshold`, where each pair has at
    least one new doc (corpus-internal pairs were the index build's
    job). Pair orientation: doc_a < doc_b, same as the full operator.
    """
    assert num_hashes % num_bands == 0
    with CacheScope(release_cache) as scope:
        sh_new = scope.persist(shingle_rows(new_docs, id_col, text_col, n))
        bands_new = scope.persist(
            band_rows(
                minhash_signatures(sh_new, num_hashes), num_hashes, num_bands
            )
        )

        nn_a = bands_new.select(F.col("doc").alias("doc_a"), "band", "bucket")
        nn_b = bands_new.select(F.col("doc").alias("doc_b"), "band", "bucket")
        within = (
            nn_a.join(nn_b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        cross = (
            bands_new.select(F.col("doc").alias("new_doc"), "band", "bucket")
            .join(
                corpus_index.select(
                    F.col("doc").alias("corpus_doc"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .select(
                F.least("new_doc", "corpus_doc").alias("doc_a"),
                F.greatest("new_doc", "corpus_doc").alias("doc_b"),
            )
        )
        cands = scope.persist(within.union(cross).distinct())

        cand_ids = (
            cands.select(F.col("doc_a").alias("doc"))
            .union(cands.select(F.col("doc_b").alias("doc")))
            .distinct()
        )
        # corpus text scanned once, pruned to candidate docs before the
        # expensive shingle/collect stage
        sh_corpus_cands = shingle_rows(
            corpus_docs.join(
                cand_ids.withColumnRenamed("doc", id_col), id_col, "left_semi"
            ),
            id_col,
            text_col,
            n,
        )
        sets = (
            sh_new.join(cand_ids, "doc", "left_semi")
            .union(sh_corpus_cands)
            .groupBy("doc")
            .agg(F.collect_list("g").alias("sh"))
        )
        sa = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
        sb = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
        result = (
            cands.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select(
                "doc_a",
                "doc_b",
                F.col("common").cast("long").alias("common"),
                F.col("jaccard").alias("jaccard_r"),
            )
        )
        return scope.result(result)


def _shingle_sets_and_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    num_bands: int,
):
    """(persisted (doc, sh) shingle-set frame, (doc, band, bucket) band
    rows derived from it) — the shared front half of the LSH operators.

    ONE aggregation (collect_set right after the window's doc shuffle,
    so it adds no exchange) produces the per-doc shingle SET;
    signatures re-derive from it by explode + min-per-seed — still
    doc-partitioned, still shuffle-free (min over the multiset equals
    min over the set, so distinct rows were never needed for minhash in
    the first place) — and the SAME persisted frame is the verify side.
    The old shape paid a (doc,g) distinct shuffle, a signature groupBy
    shuffle, and a second collect_list aggregation behind a semi-join
    prune. Both persists pass to the enclosing CacheScope (the caller
    owns them when there is none)."""
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    )
    wspec = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(wspec) for j in range(1, n)]
    grams = (
        tok.select(
            "doc",
            F.concat_ws(" ", *parts).alias("g"),
            F.lead("w", n - 1).over(wspec).alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select("doc", "g")
    )
    with CacheScope() as scope:
        docsets = scope.persist(
            grams.groupBy("doc").agg(F.collect_set("g").alias("sh"))
        )
        inv = docsets.select("doc", F.explode("sh").alias("g"))
        sigs = inv.groupBy("doc").agg(
            *[
                F.min(F.xxhash64(F.col("g"), F.lit(i))).alias(f"h{i}")
                for i in range(num_hashes)
            ]
        )
        # band rows are consumed 2-4x downstream (both sides of the
        # candidate self-join; star_edges' agg AND join-back; the verify
        # path re-reads through them) and each recomputation re-pays the
        # num_hashes-string-hash signature stage (~0.5 s/scan at sf0.1,
        # measured) — while the frame itself is num_bands fixed-width
        # rows per doc, trivially cacheable.
        bands = scope.persist(band_rows(sigs, num_hashes, num_bands))
    return docsets, bands


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 64,
    num_bands: int = 32,
    release_cache: bool = False,
) -> DataFrame:
    """Near-duplicate pairs with exact-verified Jaccard >= threshold,
    candidates via banded MinHash-LSH. Output matches
    text.ngram_jaccard_pairs: (doc_a, doc_b, common, jaccard_r).

    ``release_cache=True``: eagerly materialize the (small) verified
    pairs and unpersist the shingle/candidate caches before returning —
    for long-lived sessions that must not accumulate cached blocks.
    Default False keeps the plan lazy (the eager pass costs real time;
    LRU eviction handles one-shot pipelines fine)."""
    assert num_hashes % num_bands == 0
    with CacheScope(release_cache) as scope:
        docsets, bands = _shingle_sets_and_bands(
            docs, id_col, text_col, n, num_hashes, num_bands
        )
        a = bands.select(F.col("doc").alias("doc_a"), "band", "bucket")
        b = bands.select(F.col("doc").alias("doc_b"), "band", "bucket")
        # feeds the two verify joins
        cands = scope.persist(
            a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )

        # exact verify against the persisted sets — two hash joins, no
        # re-aggregation (AQE broadcasts the small side)
        sa = docsets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
        sb = docsets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
        result = (
            cands.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select(
                "doc_a",
                "doc_b",
                F.col("common").cast("long").alias("common"),
                # raw int/int division is bit-identical across engines;
                # re-rounding it would reintroduce boundary divergence
                F.col("jaccard").alias("jaccard_r"),
            )
        )
        return scope.result(result)


def star_edges(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) star edges from (doc, band, bucket) band
    rows: each bucket links its members to the bucket's minimum doc —
    <= num_bands edges per document, whatever the bucket sizes, and the
    star graph's connected components equal the bucket-clique graph's.
    agg+join rather than a window so AQE skew-join splitting applies to
    monster buckets (the boilerplate-clique case this path exists for).
    """
    reps = bands.groupBy("band", "bucket").agg(F.min("doc").alias("rep"))
    return (
        bands.join(reps, ["band", "bucket"])
        .filter(F.col("doc") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc").alias("doc_b"))
        .distinct()
    )


def minhash_star_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 64,
    num_bands: int = 32,
    verify: bool = True,
) -> DataFrame:
    """Near-dup CLUSTER assignment with linear edge output — the
    duplicate-heavy-corpus scale path.

    Every pair-emitting near-dup operator (`minhash_near_dup_pairs`,
    `text.ngram_jaccard_pairs`) pays an inherent O(sum cluster^2)
    output term: a boilerplate page copied a million times is a
    10^12-pair clique. tools/scale_curve.py `SCALE_MODE=dupes` measures
    exactly this (alpha -> 2 as clique size grows with corpus size).
    When the goal is CLUSTERS rather than the pair list, the cliques
    are never needed: within each LSH band bucket it is enough to link
    every member to the bucket's minimum doc id (a star), which
    preserves bucket-graph connectivity exactly while emitting
    <= num_bands edges per document — linear, whatever the duplicate
    profile. This is the standard trick of large-scale LSH dedup
    pipelines (one representative edge per bucket instead of the
    bucket clique).

    `verify=True` re-checks each star edge with the EXACT shingle
    Jaccard and drops edges below `threshold`. Semantics note: the
    verified-star graph is a SUBGRAPH of the verified full-pairs graph
    restricted to star edges — it can only split clusters relative to
    exact transitive closure (never merges documents the full graph
    would keep apart), and the split requires a bucket whose
    representative is a banding false positive to a member while other
    members are true pairs — a <~1e-6-probability event per bucket at
    the default banding (see module docstring). `verify=False` gives
    exact bucket-graph components (pure LSH semantics, zero text
    re-reads after signatures).

    Returns (id_col, cluster_id) for EVERY input document; singletons
    are their own cluster. cluster_id is the component's minimum doc
    id — canonical and engine-independent.

    Plan: shingle-set aggregation (one doc shuffle), band rows, a
    (band, bucket) min aggregation joined back to the band rows (two
    shuffles on bucket keys — agg+join rather than a window so AQE
    skew-join splitting applies to the monster buckets this operator
    exists for), edge distinct, the usual exact-verify hash joins
    against the persisted shingle sets, then pointer-jumping connected
    components over a linear-size edge list.
    """
    assert num_hashes % num_bands == 0
    from data_engineering_spark.operators.graph import connected_components

    with CacheScope() as scope:
        docsets, bands = _shingle_sets_and_bands(
            docs, id_col, text_col, n, num_hashes, num_bands
        )
        star = star_edges(bands)
        if verify:
            sa = docsets.select(
                F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")
            )
            sb = docsets.select(
                F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")
            )
            common = F.size(F.array_intersect("sh_a", "sh_b"))
            star = (
                star.join(sa, "doc_a")
                .join(sb, "doc_b")
                .withColumn(
                    "__j",
                    common / (F.size("sh_a") + F.size("sh_b") - common),
                )
                .filter(F.col("__j") >= threshold)
                .select("doc_a", "doc_b")
            )
        # star_edges emits a DISTINCT canonical pair list (rep < member by
        # construction, .distinct() inside; verify only filters rows) —
        # skip CC's union+distinct shuffle
        comp = connected_components(
            star, "doc_a", "doc_b", edges_unique=True
        )
        # connected_components materializes its edge input EAGERLY (the
        # persist+count at graph.py's entry) and returns checkpointed
        # labels, so the bands/docsets caches are fully consumed by this
        # point and nothing in the returned plan re-reads them — release
        # unconditionally (the r6 ADVICE leak: repeated star-path calls in
        # a long-lived session accumulated cached band blocks forever)
        scope.release(bands)
        scope.release(docsets)
    return (
        docs.select(F.col(id_col))
        .join(
            comp.select(
                F.col("vertex").alias(id_col),
                F.col("component").alias("cluster_id"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )
