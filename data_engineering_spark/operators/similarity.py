"""Vector similarity operators over `array<float>` embedding columns.

Extension surface required by the north star (SURVEY.md §2.11): the
reference has no vector ops; these are designed Spark-first for the
100 TB case:

- all arithmetic stays in JVM builtins (`zip_with` + `aggregate`) — no
  Python UDF in the hot path;
- the query side of a top-k search is broadcast, so the big side is a
  single scan with no shuffle;
- the exact pair join (`cosine_similarity_join`) is quadratic by nature —
  it exists as the correctness baseline and for modest candidate sets;
  the scale path is `lsh_bucketed_similarity_join`, which blocks by
  random-hyperplane sign-buckets and only scores within buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.materialize import CacheScope
from data_engineering_spark.types.frames import local_frame


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def dot_flat(a: Column, b: Column, dim: int) -> Column:
    """Dot product as a flat `Σ a[i]·b[i]` expression over a known
    dimension — unlike the zip_with/aggregate fold this allocates no
    intermediate array per row and stays a straight-line codegen
    expression (measured ~20× on a 2M-pair similarity join)."""
    total = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, dim + 1):
        total = total + F.element_at(a, i) * F.element_at(b, i)
    return total


def vector_dim(vectors: DataFrame, vec_col: str) -> int | None:
    row = vectors.select(F.size(vec_col).alias("d")).first()
    return None if row is None else int(row["d"])


def with_unit_vector(
    vectors: DataFrame, vec_col: str, out_col: str = "__uv"
) -> DataFrame:
    """Normalize each vector ONCE (O(n)); pair scoring then reduces to a
    plain dot product instead of recomputing two norms per pair (O(n²)
    norm work eliminated)."""
    v = as_double_vec(vec_col)
    df = vectors.withColumn("__norm", l2_norm(v))
    return df.withColumn(
        out_col,
        F.transform(v, lambda x: x / F.col("__norm")),
    ).drop("__norm")


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for each query vector.

    `queries` (small: the things being searched for) is broadcast; the
    corpus side streams through one scan — per-partition top-k then a
    final k·|queries| merge, no full shuffle of the corpus. Output:
    (query_id, rank, neighbor_id, cosine).

    At 100 TB this is the baseline/oracle path; use
    `lsh_bucketed_similarity_join` when |queries| is large.
    """
    from pyspark.sql import Window

    # pair count here is |corpus|·|queries| with a SMALL query side —
    # the zip_with cosine is fine and avoids the dim-probe job + the
    # one-time codegen cost of the flat-dot expression (use dot_flat /
    # GEMM only where pairs number in the millions)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        as_double_vec(vec_col).alias("__qv"),
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(vec_col).alias("__cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col(query_id_col))
        .withColumn("cosine", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("cosine", 6).alias("cosine_r"),
        )
    )


def cosine_similarity_join(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "gemm",
    tile_target_bytes: int = 128 << 20,
    # 6 tiles → 21 blocks: measured best on local[32] at sf0.1 (1.20 s
    # vs 1.29/1.36 for 4/8 tiles); memory bound takes over beyond
    # tile_target_bytes so large corpora get more tiles automatically
    min_tiles: int = 6,
    n_rows: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — exact, O(n²) scoring.

    impl='gemm' (default): a fully distributed block-grid GEMM. The
    corpus is hashed into T tiles (T sized so one tile's matrix stays
    under `tile_target_bytes` on an executor); each row is replicated to
    the T blocks {(min(t,u), max(t,u)) : u < T} of the upper-triangular
    tile grid, and each block scores its two tiles with one BLAS matmul
    inside `applyInPandas`. Nothing is ever collected to the driver and
    nothing is broadcast — the only driver actions are two metadata
    probes (dim, count). Shuffle volume is n·T vector rows; executor
    memory per task is ≤ 2·tile_target_bytes; FLOPs are the same n²·d/2
    as any exact formulation. This replaces the round-2 implementation
    that built the right-hand matrix from a full-corpus `toPandas()` —
    correct and fast locally, but a driver-side materialization that
    dies at 100 TB (VERDICT r2, "What's wrong" #1).

    A pure-expression pair join would materialize two d-dim arrays per
    PAIR row — 4 GB of row payload at n=2000, d=64 — while the block
    grid moves each vector T times (measured 58 s → ~2 s in round 1).
    This is the textbook case for dropping to a Pandas UDF: builtins
    can't express "don't carry the vectors through the join".

    impl='expr': the declarative unit-vector + flat-dot join; kept as
    the pure-JVM reference implementation.

    Output: (id_a, id_b, cosine_r).
    """
    dim = vector_dim(vectors, vec_col)
    if dim is None:
        return local_frame(
            vectors.sparkSession, [], "id_a long, id_b long, cosine_r double"
        )
    u = with_unit_vector(vectors, vec_col)

    if impl == "expr":
        a = u.select(F.col(id_col).alias("id_a"), F.col("__uv").alias("__va"))
        b = u.select(F.col(id_col).alias("id_b"), F.col("__uv").alias("__vb"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", dot_flat(F.col("__va"), F.col("__vb"), dim))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine_r"))
        )

    import math

    import numpy as np
    import pandas as pd

    if n_rows is None:
        n_rows = vectors.count()
    mem_tiles = math.ceil(max(n_rows, 1) * dim * 8 / tile_target_bytes)
    num_tiles = max(min_tiles, mem_tiles)

    src = u.select(
        F.col(id_col).alias("id"),
        F.col("__uv").alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_tiles))
        .cast("int")
        .alias("__t"),
    )
    # replicate each row into every upper-triangular block its tile
    # belongs to: tile t → blocks (min(t,u), max(t,u)) for u in [0, T).
    # The explode child is a cheap array of int structs (no generator
    # re-eval hazard); the d-dim vector rides along once per block.
    blocks = F.array(*[
        F.struct(
            F.least(F.col("__t"), F.lit(other)).alias("bi"),
            F.greatest(F.col("__t"), F.lit(other)).alias("bj"),
        )
        for other in range(num_tiles)
    ])
    exploded = src.select(
        "id", "__v", "__t", F.explode(blocks).alias("__blk")
    ).select(
        "id", "__v", "__t",
        F.col("__blk.bi").alias("__bi"),
        F.col("__blk.bj").alias("__bj"),
    )

    def score_block(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        empty = pd.DataFrame({
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
            "cosine_r": pd.Series(dtype="float64"),
        })
        if not len(pdf):
            return empty
        if bi == bj:
            ids = pdf["id"].to_numpy()
            M = np.stack(pdf["__v"].to_numpy())
            S = M @ M.T
            ii, jj = np.nonzero(S >= threshold)
            keep = ids[ii] < ids[jj]
            ii, jj = ii[keep], jj[keep]
            return pd.DataFrame({
                "id_a": ids[ii],
                "id_b": ids[jj],
                "cosine_r": np.round(S[ii, jj], 6),
            })
        a_side = pdf[pdf["__t"] == bi]
        b_side = pdf[pdf["__t"] == bj]
        if not len(a_side) or not len(b_side):
            return empty
        ida = a_side["id"].to_numpy()
        idb = b_side["id"].to_numpy()
        A = np.stack(a_side["__v"].to_numpy())
        B = np.stack(b_side["__v"].to_numpy())
        S = A @ B.T
        ii, jj = np.nonzero(S >= threshold)
        la, lb = ida[ii], idb[jj]
        return pd.DataFrame({
            "id_a": np.minimum(la, lb),
            "id_b": np.maximum(la, lb),
            "cosine_r": np.round(S[ii, jj], 6),
        })

    return exploded.groupBy("__bi", "__bj").applyInPandas(
        score_block, "id_a long, id_b long, cosine_r double"
    )


def assign_nearest_seed(
    vectors: DataFrame,
    seed_ids: Sequence[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id, seed_id, __dot): nearest-seed assignment by inner product —
    the coarse quantizer shared by SemDeDup bucketing and
    prototypicality pruning. The dot product is an explicit
    left-associated term chain, so the double result (and therefore
    the argmax) is bit-identical across engines; ties break on the
    lower seed_id. Seeds are broadcast; one corpus scan."""
    from pyspark.sql import Window

    if dim is None:
        dim = vector_dim(vectors, vec_col)
    seeds = vectors.filter(F.col(id_col).isin(*seed_ids)).select(
        F.col(id_col).alias("seed_id"), F.col(vec_col).alias("__s")
    )
    raw = vectors.select(F.col(id_col).alias("id"), F.col(vec_col))
    dot = None
    for i in range(1, dim + 1):
        term = F.element_at(vec_col, i).cast("double") * F.element_at(
            "__s", i
        ).cast("double")
        dot = term if dot is None else dot + term
    scored = raw.crossJoin(F.broadcast(seeds)).select(
        "id", "seed_id", dot.alias("__dot")
    )
    w = Window.partitionBy("id").orderBy(F.desc("__dot"), F.asc("seed_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "seed_id", "__dot")
    )


def prototype_prune(
    vectors: DataFrame,
    seed_ids: Sequence[int],
    prune_frac: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Density-based data pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws", arXiv:2206.14486 — SSL-prototypes metric): the most
    PROTOTYPICAL examples of each cluster (highest inner product with
    their assigned centroid) are the most redundant, so drop the top
    `prune_frac` of every cluster and keep the hard remainder.

    Output: (id, seed_id, rank, n_cluster, pruned) for every vector —
    rank 1 = most prototypical; pruned = rank <= floor(frac ·
    n_cluster). Full membership, not just survivors, so downstream
    accounting (and the oracle) sees both sides of the cut.

    Determinism: assignment and ranking order by the bit-stable dot
    chain with id tiebreakers; `floor(n · frac)` is exact for dyadic
    fractions (0.25, 0.5). Scale: one broadcast-seed corpus scan + two
    windows over the same (seed_id) partitioning — no all-pairs stage
    anywhere, unlike SemDeDup's within-bucket matmul.
    """
    from pyspark.sql import Window

    if not 0.0 <= prune_frac < 1.0:
        raise ValueError(f"prune_frac must be in [0, 1): {prune_frac}")
    assigned = assign_nearest_seed(
        vectors, seed_ids, id_col=id_col, vec_col=vec_col
    )
    wr = Window.partitionBy("seed_id").orderBy(
        F.desc("__dot"), F.asc("id")
    )
    wc = Window.partitionBy("seed_id")
    return (
        assigned.withColumn("rank", F.row_number().over(wr).cast("int"))
        .withColumn("n_cluster", F.count(F.lit(1)).over(wc).cast("long"))
        .withColumn(
            "pruned",
            F.col("rank")
            <= F.floor(F.col("n_cluster") * F.lit(prune_frac)),
        )
        .select("id", "seed_id", "rank", "n_cluster", "pruned")
    )


def semdedup_pairs(
    vectors: DataFrame,
    seed_ids: Sequence[int],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style embedding near-duplication (Abbas et al. 2023,
    public): assign every vector to its nearest seed by inner product
    (the coarse quantizer), then find exact cosine pairs ONLY within
    each bucket — n²/k work instead of n², the same blocking idea as
    IVF applied to dedup.

    Assignment is the explicit left-associated dot chain (bit-identical
    across engines — see queries/similarity.q_embedding_centroid_assign);
    bucket scoring is one BLAS matmul per bucket inside applyInPandas,
    vectors re-attached by a hash join so the argmax window never
    carries them. Output: (id_a, id_b, bucket, cosine_r), pairs a < b
    within the same bucket at cosine >= threshold.

    Scale: one corpus scan for assignment (seeds broadcast), one
    shuffle keyed on the bucket; per-bucket matrices are n/k × dim —
    executor-bounded by choosing enough seeds. Pairs across buckets are
    deliberately not scored (that is SemDeDup's accepted recall trade;
    the exact join is the correctness baseline).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    dim = vector_dim(vectors, vec_col)
    if dim is None:
        return local_frame(
            vectors.sparkSession,
            [], "id_a long, id_b long, bucket long, cosine_r double"
        )

    assigned = assign_nearest_seed(
        vectors, seed_ids, id_col=id_col, vec_col=vec_col, dim=dim
    ).select("id", "seed_id")

    u = with_unit_vector(vectors, vec_col).select(
        F.col(id_col).alias("id"), F.col("__uv")
    )
    bucketed = assigned.join(u, "id")

    def score_bucket(key, pdf):
        if len(pdf) < 2:
            return pd.DataFrame({
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "bucket": pd.Series(dtype="int64"),
                "cosine_r": pd.Series(dtype="float64"),
            })
        ids = pdf["id"].to_numpy()
        M = np.stack(pdf["__uv"].to_numpy())
        S = M @ M.T
        ii, jj = np.nonzero(S >= threshold)
        keep = ids[ii] < ids[jj]
        ii, jj = ii[keep], jj[keep]
        return pd.DataFrame({
            "id_a": ids[ii],
            "id_b": ids[jj],
            "bucket": np.full(len(ii), int(key[0]), dtype="int64"),
            "cosine_r": np.round(S[ii, jj], 6),
        })

    return bucketed.groupBy("seed_id").applyInPandas(
        score_bucket, "id_a long, id_b long, bucket long, cosine_r double"
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v_i|,
    q_i = floor(v_i / scale * levels + 0.5) in [-levels, levels].

    The storage/bandwidth lever for embedding tables: 4x smaller than
    float32, and the dequantized dot product (scale_a * scale_b / L² *
    <q_a, q_b>) is exact integer arithmetic until the final two
    multiplies. Pure JVM transform/aggregate in the scan stage.

    Rounding is floor(x + 0.5) — NOT a library round(): half-up-toward
    +inf has identical semantics in every engine, while round() is
    HALF_UP BigDecimal in Spark and a libm rounding in others (the
    cross-engine determinism rule in registry.py). Zero vectors emit
    scale 0 and all-zero codes.
    """
    v = as_double_vec(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x / scale * levels + F.lit(0.5)).cast("int"),
        )
    )
    return vectors.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q"),
    )


def cosine_pandas_udf():
    """Arrow-vectorized cosine as a scalar pandas_udf — the alternate
    implementation path for when similarity math outgrows builtin
    expressions (e.g. swapping in a model's fused scoring kernel).

    The builtin `cosine()` (zip_with/aggregate) is preferred in the hot
    path — it stays in whole-stage codegen with zero Python boundary;
    this exists to document and test the Arrow-batched alternative the
    brief's UDF guidance describes (~10-100× over row-at-a-time UDFs).
    Tested equal to the builtin in tests/test_similarity_paths.py.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(a, b):
        va = np.stack(a.to_numpy())
        vb = np.stack(b.to_numpy())
        dots = np.einsum("ij,ij->i", va, vb)
        na = np.sqrt(np.einsum("ij,ij->i", va, va))
        nb = np.sqrt(np.einsum("ij,ij->i", vb, vb))
        return pd.Series(dots / (na * nb))

    # explicit returnType (not type hints): hints are resolved in module
    # globals, which would force module-level pandas imports everywhere
    return pandas_udf(_cos, "double")


def centroid_matrix(centroids_df: DataFrame):
    """Cluster-ordered (k, d) numpy centroid matrix from a (cluster,
    centroid) frame. When the frame was built driver-side in this
    process (build_ivf_index's KMeans branch, the deterministic
    fixture path in queries/similarity.py), the matrix is pinned on
    the frame and the Spark re-collect round-trip is skipped — serving
    plans otherwise pay one scheduler round per consumer for rows this
    process just created. Frames read from parquet collect as before
    (metadata-sized: n_clusters rows)."""
    import numpy as np

    local = getattr(centroids_df, "_ivf_local_matrix", None)
    if local is not None:
        return local
    cent_rows = sorted(
        centroids_df.collect(), key=lambda r: r["cluster"]
    )
    return np.stack([np.asarray(r["centroid"]) for r in cent_rows])


def _assign_probes_distributed(
    qframe: DataFrame,
    centroids,
    n_probe: int,
    query_id_col: str,
    probe_schema: str,
) -> DataFrame:
    """Executor-side query→cluster assignment: the n_clusters·dim
    centroid matrix (tiny) is broadcast into an Arrow-batched
    mapInPandas over the query frame; each batch does one numpy matmul
    and explodes to (query, probed cluster) rows. No query data ever
    reaches the driver."""
    import numpy as np
    import pandas as pd

    bc = qframe.sparkSession.sparkContext.broadcast(np.asarray(centroids))

    def assign(batches):
        cents = bc.value
        c2 = (cents**2).sum(1)
        for pdf in batches:
            if not len(pdf):
                continue
            qmat = np.stack(pdf["__qv"].to_numpy())
            d2 = (
                (qmat**2).sum(1)[:, None] - 2 * qmat @ cents.T + c2[None, :]
            )
            # stable sort: identical tie-breaking to the driver path
            idx = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(
                        pdf[query_id_col].to_numpy(), n_probe
                    ),
                    "__qv": np.repeat(pdf["__qv"].to_numpy(), n_probe),
                    "__cluster": idx.reshape(-1).astype("int32"),
                }
            )

    return qframe.mapInPandas(assign, probe_schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 8,
    seed: int = 42,
    quantized: bool = False,
    levels: int = 127,
    driver_assign_limit: int = 65536,
) -> DataFrame:
    """IVF approximate top-k: KMeans-partition the corpus, search only
    each query's `n_probe` nearest clusters.

    The 10⁹-corpus ANN path: the corpus is scanned/shuffled ONCE at
    index-build time (cluster assignment); each query then touches
    n_probe/n_clusters of the data. Centroids live on the driver
    (n_clusters·dim doubles — tiny). Query-to-cluster assignment is
    two-mode: up to `driver_assign_limit` queries (interactive lookups)
    are assigned driver-side with one numpy matmul and the probe frame
    is broadcast into the join; beyond it ("find neighbors for every
    new document this hour" — query side at corpus scale) the centroid
    matrix is broadcast into a mapInPandas over the query frame, so
    assignment is executor-parallel, nothing query-sized ever reaches
    the driver, and the probe join shuffles on __cluster instead of
    broadcasting. Recall/latency trades via (n_clusters, n_probe);
    pytest bounds recall against the exact top-k and asserts the two
    assignment paths agree.

    `quantized=True` scores probes against symmetric int8 codes
    instead of the float vectors (IVF-SQ8): the probe stage reads 4×
    less data — the memory-bandwidth lever at 10⁹ vectors. Scoring is
    asymmetric (int codes × float query); the per-vector scale cancels
    out of cosine (cos ≈ <q,query>/(|q||query|)), so no dequantize
    multiply is needed and the plan stays pure JVM. Adds quantization
    error on top of probe misses; tests/test_properties.py bounds the
    combined recall.

    This convenience form REBUILDS the index per call; production
    pipelines build once with `build_ivf_index`, persist both frames
    as parquet (partition assignments by __cluster), and serve every
    query batch through `ivf_topk_from_index`.
    """
    centroids_df, assigned = build_ivf_index(
        vectors, id_col, vec_col, n_clusters, seed, quantized, levels
    )
    return ivf_topk_from_index(
        centroids_df,
        assigned,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        k=k,
        n_probe=n_probe,
        driver_assign_limit=driver_assign_limit,
    )


def build_ivf_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    quantized: bool = False,
    levels: int = 127,
    centroids_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistent IVF index: one corpus scan + KMeans.

    Returns (centroids, assignments):
    - centroids: (cluster int, centroid array<double>) — n_clusters
      rows, the coarse quantizer. Tiny; collected per query batch.
    - assignments: (neighbor_id, __cluster, __cv) — or (…, __q) int8
      codes when ``quantized`` (codes are computed at BUILD time, so
      the stored index is the 4×-smaller artifact, not a runtime
      projection).

    Both are plain DataFrames: write them as parquet (partition
    assignments by __cluster so a probe touches only its clusters'
    files) and read them back for `ivf_topk_from_index` — the corpus
    is never re-scanned or re-clustered per query batch.
    `centroids_df` supplies a pre-trained coarse quantizer (cluster,
    centroid) instead of fitting ml.KMeans — the path for externally
    trained/deterministic quantizers; assignment then runs as the same
    broadcast-GEMM mapInPandas the query side uses (nearest centroid,
    ties to the lowest cluster id).
    """
    import numpy as np

    spark = vectors.sparkSession
    feat = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(vec_col).alias("__cv"),
    )
    if centroids_df is not None:
        centroids = centroid_matrix(centroids_df)
        assigned = _assign_probes_distributed(
            feat.withColumnRenamed("__cv", "__qv"),
            centroids,
            1,
            "neighbor_id",
            "neighbor_id long, __qv array<double>, __cluster int",
        ).withColumnRenamed("__qv", "__cv")
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat_v = feat.withColumn("__fv", array_to_vector(F.col("__cv")))
        model = KMeans(
            k=n_clusters, seed=seed, featuresCol="__fv",
            predictionCol="__cluster",
        ).fit(feat_v)
        assigned = model.transform(feat_v).drop("__fv")
        centroids = np.stack([c for c in model.clusterCenters()])
        centroids_df = local_frame(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cluster int, centroid array<double>",
        )
        # driver-local matrix: same-run consumers skip the re-collect
        centroids_df._ivf_local_matrix = centroids
    if quantized:
        # floor(x+0.5) rounding per the cross-engine rule in
        # quantize_embeddings; per-vector scale cancels out of cosine
        scale = F.array_max(F.transform(F.col("__cv"), lambda x: F.abs(x)))
        codes = F.when(
            scale == 0, F.transform(F.col("__cv"), lambda x: F.lit(0.0))
        ).otherwise(
            F.transform(
                F.col("__cv"),
                lambda x: F.floor(x / scale * levels + F.lit(0.5)).cast(
                    "double"
                ),
            )
        )
        assigned = assigned.withColumn("__q", codes).drop("__cv")
    return centroids_df, assigned


def ivf_topk_from_index(
    centroids_df: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 8,
    driver_assign_limit: int = 65536,
) -> DataFrame:
    """Serve an IVF top-k query batch from a prebuilt index (see
    build_ivf_index) — no KMeans, no corpus scan beyond the probed
    clusters. Detects the SQ8 variant by the stored ``__q`` column.
    Assignment-path selection and plan shape are identical to
    ivf_topk's documentation."""
    import numpy as np

    centroids = centroid_matrix(centroids_df)

    qframe = queries.select(
        F.col(id_col).alias(query_id_col),
        as_double_vec(vec_col).alias("__qv"),
    )
    probe_schema = f"{query_id_col} long, __qv array<double>, __cluster int"
    # ONE bounded action decides the path AND collects the small case:
    # at most N+1 rows reach the driver (limit short-circuits the scan
    # for a corpus-scale query side), and when the side is small the
    # collected frame IS the broadcast payload — previously a separate
    # count probe plus a second full collect of the same rows
    qpdf = qframe.limit(driver_assign_limit + 1).toPandas()
    broadcast_probes = len(qpdf) <= driver_assign_limit
    if broadcast_probes:
        if not len(qpdf):
            return local_frame(
                queries.sparkSession,
                [],
                f"{query_id_col} long, rank int, neighbor_id long, "
                "cosine_r double",
            )
        qmat = np.stack(qpdf["__qv"].to_numpy())
        # nearest clusters by euclidean distance to centroid (KMeans
        # metric); stable sort so tie-breaking matches the distributed
        # path exactly
        d2 = (
            (qmat**2).sum(1)[:, None]
            - 2 * qmat @ centroids.T
            + (centroids**2).sum(1)[None, :]
        )
        probe_rows = [
            (
                int(qpdf[query_id_col][i]),
                [float(x) for x in qpdf["__qv"][i]],
                int(c),
            )
            for i in range(len(qpdf))
            for c in np.argsort(d2[i], kind="stable")[:n_probe]
        ]
        probes = local_frame(queries.sparkSession, probe_rows, probe_schema)
    else:
        probes = _assign_probes_distributed(
            qframe, centroids, n_probe, query_id_col, probe_schema
        )

    from pyspark.sql import Window

    # the stored index carries either float vectors (__cv) or int8
    # codes (__q, the SQ8 build) — scoring switches on what was built
    if "__q" in assignments.columns:
        score = cosine(F.col("__q"), F.col("__qv"))
    else:
        score = cosine(F.col("__qv"), F.col("__cv"))
    # small query side: broadcast the probe frame (corpus never moves);
    # corpus-scale query side: shuffle join on __cluster — AQE splits a
    # hot cluster, and n_clusters should be sized >= target parallelism
    probe_side = F.broadcast(probes) if broadcast_probes else probes
    scored = (
        assignments.join(probe_side, "__cluster")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .withColumn("cosine", score)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("cosine", 6).alias("cosine_r"),
        )
    )


def _lsh_banded(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_bands: int,
    planes_per_band: int,
    seed: int,
) -> DataFrame:
    """(id, __v unit vector, band, bucket) band rows for sign-LSH —
    `num_bands` rows per vector. Shared by the batch similarity join,
    the persistent index build, and the incremental ingest probe, so
    bucket assignment is identical in all three (same plane draw:
    `rng(seed).standard_normal((bands, planes, dim))` — the order the
    oracle fixture replays, see queries/_fixtures.lsh_planes_fixture).

    Bucket assignment is a (batch × dim) @ (dim × planes) sign matrix —
    numpy GEMM over Arrow batches. The expression alternatives both
    lose: higher-order-function dots allocate arrays per plane
    evaluation (~30 µs each × b·r planes), and exploding raw bucket
    expressions re-evaluates them per output row (generator child
    re-eval). Same rationale as the GEMM similarity join."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_bands, planes_per_band, dim))

    v = with_unit_vector(vectors, vec_col, "__v").select(
        F.col(id_col).alias("id"), "__v"
    )
    flat_planes = planes.reshape(num_bands * planes_per_band, dim)
    pow2 = 2 ** np.arange(planes_per_band)
    out_schema = "id long, __v array<double>, " + ", ".join(
        f"__b{b} int" for b in range(num_bands)
    )

    def assign(batches):
        for batch in batches:
            if not len(batch):
                continue
            V = np.stack(batch["__v"].to_numpy())
            bits = (V @ flat_planes.T >= 0).reshape(
                len(batch), num_bands, planes_per_band
            )
            buckets = (bits * pow2).sum(axis=2)
            out = {"id": batch["id"], "__v": batch["__v"]}
            for b in range(num_bands):
                out[f"__b{b}"] = buckets[:, b].astype("int32")
            yield pd.DataFrame(out)

    with_buckets = v.mapInPandas(assign, out_schema)
    return with_buckets.select(
        "id",
        "__v",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bnd).alias("band"),
                    F.col(f"__b{bnd}").alias("bucket"),
                )
                for bnd in range(num_bands)
            ])
        ).alias("bb"),
    ).select("id", "__v", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def lsh_params_for(
    threshold: float,
    target_recall: float = 0.9,
    max_bands: int = 64,
    max_planes: int = 24,
) -> tuple[int, int]:
    """Pick (num_bands, planes_per_band) for sign-LSH at a cosine
    threshold: the most selective banding that still detects a pair AT
    the threshold with probability >= target_recall.

    Sign-LSH math: two vectors at angle θ agree on one hyperplane sign
    with p = 1 - θ/π; a pair survives a band iff all r planes agree
    (p^r) and is a candidate if any of b bands fires —
    recall(c) = 1 - (1 - p^r)^b. Candidate mass falls ~2^r per extra
    plane (bucket width doubles), so the planner maximizes r first,
    then takes the smallest b that clears the recall bar. Pairs ABOVE
    the threshold have higher p, hence strictly higher detection — the
    bar binds at the threshold exactly.

    Raises ValueError when no (b <= max_bands, r >= 1) clears the bar
    (thresholds near 0 need intractably many bands — that regime
    belongs to the exact GEMM join, see cosine_similarity_join)."""
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}"
        )
    p = 1.0 - math.acos(threshold) / math.pi
    for r in range(max_planes, 0, -1):
        miss = 1.0 - p**r
        if miss >= 1.0:
            continue
        b = (
            1
            if miss <= 0.0
            else math.ceil(math.log(1.0 - target_recall) / math.log(miss))
        )
        if b <= max_bands:
            return b, r
    raise ValueError(
        f"no banding within {max_bands} bands x {max_planes} planes "
        f"reaches recall {target_recall} at cosine {threshold}; use the "
        "exact join for this regime"
    )


def lsh_bucketed_similarity_join(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bands: int | None = None,
    planes_per_band: int | None = None,
    seed: int = 42,
    max_bucket_rows: int | None = None,
    release_cache: bool = False,
) -> DataFrame:
    """Approximate similarity join: multi-band random-hyperplane LSH.

    Banding is what makes sign-LSH usable below cosine ~0.9: a pair is a
    candidate if ALL `planes_per_band` sign bits agree in ANY of the
    `num_bands` bands — detection probability
    1 - (1 - (1 - θ/π)^r)^b. When banding is not given it is planned
    from the threshold by `lsh_params_for` (most selective banding
    that keeps >= 0.9 detection AT the threshold). Candidates are then
    scored exactly, so false positives cost time, never correctness.

    Scale shape: each vector emits `num_bands` (band, bucket) rows, and
    candidates are scored INSIDE their bucket with a chunked GEMM
    (`applyInPandas` per (band, bucket) group) — candidate pairs never
    materialize as shuffle rows. The earlier shape (self-join on
    (band, bucket) → distinct pairs → two vector re-attach joins) was
    measured 112 s on a 32 k-vector clustered corpus where buckets
    clique (19.2 M candidate rows through three shuffles); bucket-local
    GEMM does the same 19.2 M dot products as ~2.5 GFLOP of numpy and
    ships only surviving pairs. Work follows Σ bucket², not n², and the
    only post-bucket shuffle is output-sized (band dedup).

    Skew: a mega-bucket lands on one task; the GEMM is chunked so
    memory stays bounded (block × block scores), and the remedy for
    pathological cliques is more planes per band (halves bucket
    population per extra plane) with more bands to hold recall.
    Hyperplanes are seeded numpy constants — no data collect.
    """
    import numpy as np

    if num_bands is None or planes_per_band is None:
        planned_b, planned_r = lsh_params_for(threshold)
        num_bands = planned_b if num_bands is None else num_bands
        planes_per_band = (
            planned_r if planes_per_band is None else planes_per_band
        )
    dim = vector_dim(vectors, vec_col)
    if dim is None:
        return local_frame(
            vectors.sparkSession, [], "id_a long, id_b long, cosine_r double"
        )
    banded = _lsh_banded(
        vectors, id_col, vec_col, dim, num_bands, planes_per_band, seed
    )
    with CacheScope(release_cache) as scope:
        survivors = _score_buckets(
            banded, threshold, max_bucket_rows=max_bucket_rows
        )
        # a pair found in several bands reappears with the bitwise-same
        # cosine (same vectors, same GEMM); max is the safe dedup reducer
        return scope.result(
            survivors.groupBy("id_a", "id_b")
            .agg(F.round(F.max("cosine"), 6).alias("cosine_r"))
        )


def _score_buckets(
    banded: DataFrame,
    threshold: float,
    mixed: bool = False,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Bucket-local exact scoring: each (band, bucket) group GEMMs its
    own members and emits only pairs at/above threshold — candidate
    pairs exist as numpy flops, never as shuffle rows. A bucket of m
    rows costs m²·dim flops (m_new·m with `mixed`) — ~100× cheaper per
    candidate than shuffling (id_a, id_b) rows through distinct +
    re-attach joins. Chunked so a skewed bucket never allocates an
    m×m matrix.

    `mixed=False`: all i<j pairs. `mixed=True`: `banded` carries a
    boolean `__new` column and only pairs with >= 1 new member are
    scored/emitted (each exactly once per group: a new row claims the
    pair when its id is smaller OR the partner is old).

    `max_bucket_rows` caps the rows any ONE task scores: buckets over
    the cap are triangle-tiled — each row hashes to one of
    B = ceil(m / cap) blocks and is replicated to the B tiles
    (min(blk, c), max(blk, c)); tile (bi, bj) scores only
    block-bi × block-bj products, so every unordered pair meets in
    exactly one tile and semantics are unchanged while the mega-bucket
    fans out to B(B+1)/2 parallel tasks of ~2·cap rows.

    Cost discipline (measured: a shuffle-join formulation was 5× the
    untiled path at x16 on the clique corpus): bucket sizes reduce to
    a fixed-width aggregate, only OVER-cap buckets survive the filter,
    and that near-empty frame broadcast-joins back onto the banded
    rows — under-cap buckets take nb=1, explode one tile, and pay
    nothing but the broadcast probe; replication and extra shuffle
    volume exist only for the skewed buckets themselves."""
    import numpy as np
    import pandas as pd

    block = 2048
    tiled = max_bucket_rows is not None
    group_cols = ["band", "bucket"]
    if tiled:
        cap = int(max_bucket_rows)
        if cap < 2:
            raise ValueError(f"max_bucket_rows must be >= 2, got {cap}")
        keep_cols = ["id", "__v", "band", "bucket"] + (
            ["__new"] if mixed else []
        )
        # the size probe is a SECOND consumer of the banding sign-GEMM;
        # persist so the Arrow banding pass runs once, not twice
        # (measured 2x on the clique curve without this). Lazy persist,
        # passed on to the calling operator's scope (release_cache).
        with CacheScope() as scope:
            banded = scope.persist(banded)
        fat = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__m"))
            .filter(F.col("__m") > cap)
        )
        banded = (
            banded.join(F.broadcast(fat), ["band", "bucket"], "left")
            .withColumn(
                "__nb",
                F.coalesce(
                    F.ceil(F.col("__m") / F.lit(cap)).cast("int"),
                    F.lit(1),
                ),
            )
            .withColumn(
                "__blk",
                F.pmod(F.xxhash64("id"), F.col("__nb")).cast("int"),
            )
            .withColumn(
                "__tile",
                F.explode(
                    F.expr(
                        "transform(sequence(0, __nb - 1), c -> struct("
                        "least(__blk, c) AS bi, greatest(__blk, c) AS bj))"
                    )
                ),
            )
            .select(
                *keep_cols,
                "__blk",
                F.col("__tile.bi").alias("__bi"),
                F.col("__tile.bj").alias("__bj"),
            )
        )
        group_cols = ["band", "bucket", "__bi", "__bj"]

    def _empty():
        return pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"),
             "id_b": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )

    def _frame(out_a, out_b, out_c):
        if not out_a:
            return _empty()
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a),
             "id_b": np.concatenate(out_b),
             "cosine": np.concatenate(out_c)}
        )

    def _score_cross(ids, V, a_idx, b_idx, newmask):
        # block-bi × block-bj products; each pair meets exactly once,
        # orientation by id
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, len(a_idx), block):
            ai = a_idx[i0:i0 + block]
            A = V[ai]
            for j0 in range(0, len(b_idx), block):
                bj = b_idx[j0:j0 + block]
                G = A @ V[bj].T
                ii, jj = np.nonzero(G >= threshold)
                gi, gj = ai[ii], bj[jj]
                if newmask is not None:
                    keep = newmask[gi] | newmask[gj]
                    gi, gj = gi[keep], gj[keep]
                    vals = G[ii[keep], jj[keep]]
                else:
                    vals = G[ii, jj]
                if len(gi):
                    ia, ib = ids[gi], ids[gj]
                    out_a.append(np.minimum(ia, ib))
                    out_b.append(np.maximum(ia, ib))
                    out_c.append(vals)
        return _frame(out_a, out_b, out_c)

    def _score_triangular(ids, V, newmask):
        # ids must be sorted ascending: index comparisons ARE id
        # comparisons
        m = len(ids)
        out_a, out_b, out_c = [], [], []
        if newmask is not None:
            nidx = np.flatnonzero(newmask)
            if not len(nidx):
                return _empty()
            for i0 in range(0, len(nidx), block):
                rows = nidx[i0:i0 + block]
                A = V[rows]
                for j0 in range(0, m, block):
                    G = A @ V[j0:j0 + block].T
                    ii, jj = np.nonzero(G >= threshold)
                    gi, gj = rows[ii], jj + j0
                    keep = (gi < gj) | ((gj < gi) & ~newmask[gj])
                    if keep.any():
                        gik, gjk = gi[keep], gj[keep]
                        out_a.append(ids[np.minimum(gik, gjk)])
                        out_b.append(ids[np.maximum(gik, gjk)])
                        out_c.append(G[ii[keep], jj[keep]])
        else:
            for i0 in range(0, m, block):
                A = V[i0:i0 + block]
                for j0 in range(i0, m, block):
                    G = A @ V[j0:j0 + block].T
                    ii, jj = np.nonzero(G >= threshold)
                    gi, gj = ii + i0, jj + j0
                    keep = gi < gj
                    if keep.any():
                        out_a.append(ids[gi[keep]])
                        out_b.append(ids[gj[keep]])
                        out_c.append(G[ii[keep], jj[keep]])
        return _frame(out_a, out_b, out_c)

    def score_bucket(pdf):
        m = len(pdf)
        if m < 2:
            return _empty()
        if tiled and pdf["__bi"].iat[0] != pdf["__bj"].iat[0]:
            ids = pdf["id"].to_numpy()
            V = np.stack(pdf["__v"].to_numpy())
            newmask = pdf["__new"].to_numpy() if mixed else None
            blk = pdf["__blk"].to_numpy()
            a_idx = np.flatnonzero(blk == pdf["__bi"].iat[0])
            b_idx = np.flatnonzero(blk != pdf["__bi"].iat[0])
            if not len(a_idx) or not len(b_idx):
                return _empty()
            return _score_cross(ids, V, a_idx, b_idx, newmask)
        order = pdf["id"].to_numpy().argsort(kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.stack(pdf["__v"].to_numpy()[order])
        newmask = pdf["__new"].to_numpy()[order] if mixed else None
        return _score_triangular(ids, V, newmask)

    return banded.groupBy(*group_cols).applyInPandas(
        score_bucket, "id_a long, id_b long, cosine double"
    )


def embedding_lsh_index(
    vectors: DataFrame,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bands: int | None = None,
    planes_per_band: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Persistent sign-LSH index of an embedding corpus: (id, band,
    bucket, __v unit vector) — `num_bands` fixed-width rows per
    vector, the embedding-space twin of minhash_band_index
    (minhash.py:102). Write it out as a normal parquet table
    (partition by `band`, cluster by `bucket` for listing-level probe
    pruning); incremental ingest then near-dup-checks each new batch
    against the full corpus WITHOUT touching the corpus table at all
    (embedding_incremental_pairs reads ONLY index rows in buckets the
    batch occupies).

    The index carries the unit vector (dim × 8 bytes per band row) so
    probes can GEMM-score inside buckets instead of exploding
    candidate pairs into shuffle rows — measured 5.6× cheaper at 32 k
    corpus vectors and growing with corpus size (SCALE.md). That
    storage is the classic LSH space/time trade (an IVF/PQ-style
    compressed variant would store SQ8 codes instead); band count
    controls it linearly.

    Banding must match the later probes — pass the same explicit
    (num_bands, planes_per_band, seed) to both, or the same threshold
    so both sides plan identically via lsh_params_for."""
    if num_bands is None or planes_per_band is None:
        if threshold is None:
            raise ValueError(
                "give either threshold (to plan banding) or explicit "
                "num_bands + planes_per_band"
            )
        planned_b, planned_r = lsh_params_for(threshold)
        num_bands = planned_b if num_bands is None else num_bands
        planes_per_band = (
            planned_r if planes_per_band is None else planes_per_band
        )
    dim = vector_dim(vectors, vec_col)
    if dim is None:
        return local_frame(
            vectors.sparkSession,
            [], "id long, band int, bucket int, __v array<double>"
        )
    return _lsh_banded(
        vectors, id_col, vec_col, dim, num_bands, planes_per_band, seed
    ).select("id", "band", "bucket", "__v")


def embedding_incremental_pairs(
    new_vecs: DataFrame,
    corpus_index: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bands: int | None = None,
    planes_per_band: int | None = None,
    seed: int = 42,
    max_bucket_rows: int | None = None,
    release_cache: bool = False,
) -> DataFrame:
    """Near-duplicate pairs of an incoming embedding batch against an
    INDEXED corpus (plus within-batch pairs) — the daily-ingest shape
    of the embedding dedup path, mirroring minhash_incremental_pairs.

    `corpus_index` is (id, band, bucket, __v) from embedding_lsh_index
    (typically read back from parquet). The corpus table itself is
    never touched: the probe semi-joins the index down to buckets the
    BATCH occupies, unions those rows with the batch's band rows, and
    GEMM-scores inside each bucket (`_score_buckets(mixed=True)` —
    only new×all products are computed and only pairs with >= 1 new
    member emitted). Candidate pairs therefore exist as numpy flops,
    never as shuffle rows — the earlier pair-join probe melted at
    exactly that point (probe cost tracked corpus size: 20.6 s →
    115.5 s from 2 k to 32 k corpus vectors; see SCALE.md).
    New/corpus ids must be disjoint.

    Output matches lsh_bucketed_similarity_join: (id_a, id_b,
    cosine_r), id_a < id_b, exact cosine >= threshold, each pair
    containing at least one new id (corpus-internal pairs were the
    index build's job)."""
    if num_bands is None or planes_per_band is None:
        planned_b, planned_r = lsh_params_for(threshold)
        num_bands = planned_b if num_bands is None else num_bands
        planes_per_band = (
            planned_r if planes_per_band is None else planes_per_band
        )
    dim = vector_dim(new_vecs, vec_col)
    if dim is None:
        return local_frame(
            new_vecs.sparkSession, [], "id_a long, id_b long, cosine_r double"
        )
    banded_new = _lsh_banded(
        new_vecs, id_col, vec_col, dim, num_bands, planes_per_band, seed
    )
    touched = banded_new.select("band", "bucket").distinct()
    # listing/row-group pruning does the heavy lifting when the index
    # is stored partitioned by band: only touched buckets are read
    corpus_rows = corpus_index.join(
        touched, ["band", "bucket"], "left_semi"
    )
    union = corpus_rows.select(
        "id", "__v", "band", "bucket", F.lit(False).alias("__new")
    ).unionByName(
        banded_new.select(
            "id", "__v", "band", "bucket", F.lit(True).alias("__new")
        )
    )
    with CacheScope(release_cache) as scope:
        survivors = _score_buckets(
            union, threshold, mixed=True, max_bucket_rows=max_bucket_rows
        )
        return scope.result(
            survivors.groupBy("id_a", "id_b")
            .agg(F.round(F.max("cosine"), 6).alias("cosine_r"))
        )


def mmr_topk(
    corpus: DataFrame,
    query_vec,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple]:
    """Maximal Marginal Relevance: diversified top-k retrieval.

    Plain top-k returns near-duplicates of the best hit; MMR greedily
    picks argmax over  lam*sim(q,d) - (1-lam)*max_sim(d, selected) —
    relevance traded against redundancy. k distributed argmax rounds:
    each iteration broadcasts the selected set (at most k vectors —
    constant-size) into a JVM expression and reduces with a total-order
    max (score desc, id asc), so the corpus shuffles nothing and the
    driver only ever holds k winners. Returns
    [(id, relevance, mmr_score), ...] in selection order.

    For very large k move the argmax loop into a per-partition
    pre-top-k first; at the retrieval k (10-100) this shape is already
    the right one."""
    uv = with_unit_vector(
        corpus.select(id_col, vec_col), vec_col, "__uv"
    ).select(F.col(id_col).alias("__id"), "__uv")
    uv = uv.persist()
    try:
        import numpy as np

        q = np.asarray(query_vec, dtype=np.float64)
        q = q / np.linalg.norm(q)
        dim = len(q)
        q_arr = F.array(*[F.lit(float(x)) for x in q])
        rel = dot_flat(F.col("__uv"), q_arr, dim).alias("__rel")
        scored = uv.select("__id", "__uv", rel).persist()
        scored.count()
        selected: list[tuple] = []
        sel_vecs: list[list[float]] = []
        for _ in range(k):
            cand = scored
            if sel_vecs:
                red = None
                for sv in sel_vecs:
                    s_arr = F.array(*[F.lit(float(x)) for x in sv])
                    d = dot_flat(F.col("__uv"), s_arr, dim)
                    red = d if red is None else F.greatest(red, d)
                mmr = F.lit(lam) * F.col("__rel") - F.lit(1 - lam) * red
            else:
                mmr = F.lit(lam) * F.col("__rel")
            if selected:
                cand = cand.filter(
                    ~F.col("__id").isin([s[0] for s in selected])
                )
            row = (
                cand.select("__id", "__uv", "__rel", mmr.alias("__mmr"))
                .orderBy(F.desc("__mmr"), F.asc("__id"))
                .first()
            )
            if row is None:
                break
            selected.append(
                (row["__id"], float(row["__rel"]), float(row["__mmr"]))
            )
            sel_vecs.append([float(x) for x in row["__uv"]])
        return selected
    finally:
        uv.unpersist()
        try:
            scored.unpersist()
        except Exception:
            pass


def ivf_add(
    centroids_df: DataFrame,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized: bool = False,
    levels: int = 127,
) -> DataFrame:
    """Incremental IVF index maintenance: assign NEW vectors to the
    EXISTING coarse centroids — no re-clustering, no touch of the
    already-indexed corpus. Union the result with the stored
    assignments frame (append the parquet partition files) and
    `ivf_topk_from_index` serves the grown index unchanged.

    This is what "index the documents ingested this hour" costs at
    10^9 scale: one scan of the DELTA through the same executor-side
    mapInPandas assignment as the query path (centroid matrix
    broadcast, one GEMM per Arrow batch). Centroid drift from unseen
    distribution shift is the documented trade — rebuild cadence is an
    operational knob, same as any IVF deployment.

    Emits the index schema of build_ivf_index: (neighbor_id,
    __cluster, __cv) or (…, __q) when ``quantized`` matches the stored
    index's SQ8 build.
    """
    import numpy as np

    centroids = centroid_matrix(centroids_df)
    src = new_vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(vec_col).alias("__cv"),
    )
    assigned = _assign_probes_distributed(
        src.withColumnRenamed("__cv", "__qv").withColumnRenamed(
            "neighbor_id", "neighbor_id"
        ),
        centroids,
        1,
        "neighbor_id",
        "neighbor_id long, __qv array<double>, __cluster int",
    ).select(
        "neighbor_id", F.col("__qv").alias("__cv"), "__cluster"
    )
    if quantized:
        scale = F.array_max(F.transform(F.col("__cv"), lambda x: F.abs(x)))
        codes = F.when(
            scale == 0, F.transform(F.col("__cv"), lambda x: F.lit(0.0))
        ).otherwise(
            F.transform(
                F.col("__cv"),
                lambda x: F.floor(x / scale * levels + F.lit(0.5)).cast(
                    "double"
                ),
            )
        )
        assigned = assigned.withColumn("__q", codes).drop("__cv")
    return assigned
