"""Product quantization (PQ) for billion-scale similarity search.

Completes the ANN compression family next to IVF and IVF-SQ8
(operators/similarity.py): where SQ8 shrinks each float to one byte
(4x), PQ shrinks each D-dim vector to M sub-space code bytes —
64 floats (256 B) become M=8 codes (8 B), a 32x reduction — while
asymmetric-distance scoring (ADC) keeps the query side in full
precision. This is the compression that makes 10^9-vector indexes fit
in cluster memory (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public literature, not the reference,
which has no ANN surface).

Design for Spark:

- `pq_train` fits M independent k-means codebooks, one per D/M-dim
  sub-space, on a BOUNDED sample of the corpus (PQ codebooks need
  ~100k vectors regardless of corpus size — training cost is constant,
  not corpus-linear). Lloyd's iterations run in numpy on the driver
  over the sample; the resulting codebooks are metadata
  (m·k_codes·(D/M) doubles, a few hundred KB at realistic settings).
- `pq_encode` broadcasts the codebooks into an Arrow-batched
  mapInPandas over the corpus: one (batch x k) distance matrix per
  sub-space, argmin -> code. One corpus scan, nothing corpus-sized on
  the driver; the encoded index is the artifact to persist.
- `pq_topk` scores queries against codes with ADC: per query and
  sub-space, a k_codes-entry lookup table of <q_m, centroid> dots;
  a corpus row's approximate dot is M table lookups (numpy fancy
  indexing over Arrow batches — no decode, no per-row Python). Each
  executor partition emits only its local top-k; a final window
  keeps the global top-k per query (identical shape to cosine_topk:
  the corpus is scanned once and never shuffled — only
  (query, candidate) rows move).

Approximation contract: neighbor ids come from quantized scores
(recall bounded in tests/test_pq.py against the exact top-k); the
reported `cosine_r` is the quantized estimate, rounded like the IVF
family's output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.similarity import as_double_vec
from data_engineering_spark.types.frames import local_frame


def _lloyd(X, k: int, iters: int, rng):
    """Deterministic numpy k-means (k-means++ seeding, Lloyd updates).
    Small inputs only (training samples).

    Shapes matter even driver-side: seeding keeps a RUNNING min of the
    per-center distances (O(n·k·d) total, bit-identical to the naive
    re-scan which was O(n·k²·d)), and Lloyd uses the expanded GEMM
    distance ‖x‖² − 2x·Cᵀ + ‖C‖² — BLAS over an (n,k) temp instead of
    materializing an (n,k,d) difference tensor per iteration
    (measured 6× on 147k×4, k=64). The whole routine runs under a
    single-thread BLAS scope: these GEMMs are small enough that the
    default all-core OpenBLAS pool costs more in fan-out/sync than the
    math (and stalls for seconds when executors hold the cores) —
    measured 16× on the PQ training step, output bit-identical
    (operators/_blas.py)."""
    import numpy as np

    from data_engineering_spark.operators._blas import single_thread_blas

    with single_thread_blas():
        return _lloyd_impl(X, k, iters, rng, np)


def _lloyd_impl(X, k: int, iters: int, rng, np):
    n = len(X)
    k = min(k, n)
    # k-means++ init (incremental min — same floats as a full re-scan,
    # since elementwise min is exact)
    centers = [X[rng.integers(n)]]
    d2 = ((X - centers[0]) ** 2).sum(1)
    for _ in range(1, k):
        total = d2.sum()
        if total == 0:  # fewer distinct points than k
            centers.append(X[rng.integers(n)])
            continue
        # clamp: float rounding can leave cumsum[-1] < 1.0 and the draw
        # above it, which would index one past the end
        idx = min(np.searchsorted(np.cumsum(d2 / total), rng.random()), n - 1)
        centers.append(X[idx])
        d2 = np.minimum(d2, ((X - X[idx]) ** 2).sum(1))
    C = np.stack(centers)
    x2 = (X**2).sum(1)
    for _ in range(iters):
        dd = x2[:, None] - 2.0 * (X @ C.T) + (C**2).sum(1)[None, :]
        assign = dd.argmin(1)
        counts = np.bincount(assign, minlength=len(C))
        sums = np.empty_like(C)
        for j in range(C.shape[1]):  # d bincounts beat add.at by ~10x
            sums[:, j] = np.bincount(
                assign, weights=X[:, j], minlength=len(C)
            )
        newC = C.copy()
        nz = counts > 0
        newC[nz] = sums[nz] / counts[nz, None]
        if np.allclose(newC, C):
            break
        C = newC
    return C


def pq_train(
    vectors: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 32,
    seed: int = 42,
    sample_fraction: float = 1.0,
    iters: int = 15,
) -> DataFrame:
    """Train per-sub-space codebooks; returns a persistable frame
    (m int, code int, centroid array<double>) of m·k_codes rows.

    `sample_fraction` bounds what reaches the driver: at 10^9 vectors
    pass ~1e-4 — codebook quality saturates around 100k samples (the
    training set is a sample by design, so this is not a scale
    compromise; the full corpus is only ever touched by `pq_encode`).
    """
    import numpy as np

    sample = vectors.select(as_double_vec(vec_col).alias("__v"))
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    X = np.stack(sample.toPandas()["__v"].to_numpy())
    cb = pq_train_matrix(X, m, k_codes, seed, iters)
    return codebook_frame(vectors.sparkSession, cb)


def pq_train_matrix(X, m: int, k_codes: int, seed: int, iters: int = 15):
    """Codebook tensor (m, k_codes, dsub) from a local sample matrix —
    deterministic given (X row order, seed): one shared RNG is drawn
    sequentially across sub-spaces. Factored out so fixture seeding can
    reproduce a query's codebooks bit-for-bit from the same sample."""
    import numpy as np

    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    return np.stack(
        [
            _pad_codebook(
                _lloyd(X[:, s * dsub : (s + 1) * dsub], k_codes, iters, rng),
                k_codes,
            )
            for s in range(m)
        ]
    )


def _pad_codebook(C, k_codes: int):
    """k = min(k, n) in _lloyd can return fewer rows on tiny samples;
    pad by repeating the last centroid so the tensor stays (k, dsub)
    (duplicate codes are harmless — argmin picks the lowest index)."""
    import numpy as np

    if len(C) == k_codes:
        return C
    return np.vstack([C, np.repeat(C[-1:], k_codes - len(C), axis=0)])


def codebook_frame(spark, cb) -> DataFrame:
    rows = [
        (sub, j, [float(x) for x in cb[sub, j]])
        for sub in range(cb.shape[0])
        for j in range(cb.shape[1])
    ]
    frame = local_frame(spark, rows, "m int, code int, centroid array<double>")
    # the tensor is already driver-local — pin it on the frame so
    # same-run consumers (_codebook_matrix) skip the Spark round-trip
    # re-collect of rows this process just created (each such collect
    # is a full scheduler round; serving plans pay several). Downstream
    # frames built from parquet/persisted codebooks don't carry the
    # attribute and collect as before.
    frame._pq_local_matrix = cb
    return frame


def _codebook_matrix(codebooks: DataFrame):
    """(m, k, dsub) numpy tensor from the persisted codebook frame.
    Metadata-sized collect (m·k rows) — skipped entirely when the
    frame was built by codebook_frame in this process (the tensor is
    pinned on it)."""
    import numpy as np

    local = getattr(codebooks, "_pq_local_matrix", None)
    if local is not None:
        return local
    rows = codebooks.collect()
    m = 1 + max(r["m"] for r in rows)
    k = 1 + max(r["code"] for r in rows)
    dsub = len(rows[0]["centroid"])
    cb = np.zeros((m, k, dsub))
    for r in rows:
        cb[r["m"], r["code"]] = r["centroid"]
    return cb


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple = (),
) -> DataFrame:
    """Encode the corpus: (neighbor_id long, __codes array<int>).
    One scan; each Arrow batch does m (batch x k_codes) GEMM-backed
    argmin assignments. Persist the result partitioned however the
    serving layer shards (e.g. by IVF cluster for a combined index).

    `carry`: ((column, ddl_type), ...) — extra input columns passed
    through the Arrow batches untouched and appended to the output
    schema. This is how a combined IVF-PQ build keeps the coarse
    cluster id WITH the codes in the same scan: at 10^9 vectors a
    "join the codes back to the assignments" alternative is a full
    corpus shuffle that exists only to reunite columns this scan
    already had.
    """
    import numpy as np
    import pandas as pd

    cb = _codebook_matrix(codebooks)
    m, _, dsub = cb.shape
    bc = vectors.sparkSession.sparkContext.broadcast(cb)

    carry_names = [c for c, _ in carry]
    reserved = {"neighbor_id", "__codes", "__v"}
    bad = [c for c in carry_names if c in reserved]
    if bad or len(set(carry_names)) != len(carry_names):
        raise ValueError(
            "pq_encode carry columns collide with the fixed output "
            f"schema {sorted(reserved)} or repeat: {carry_names!r}. "
            "Rename the carried column before encoding."
        )
    src = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(vec_col).alias("__v"),
        *[F.col(c) for c in carry_names],
    )

    def encode(batches):
        t = bc.value
        cn2 = (t**2).sum(2)  # (m, k)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__v"].to_numpy())
            codes = np.empty((len(X), m), dtype="int32")
            for sub in range(m):
                Xs = X[:, sub * dsub : (sub + 1) * dsub]
                # argmin ||x-c||^2 = argmin (|c|^2 - 2<x,c>)
                d = cn2[sub][None, :] - 2 * Xs @ t[sub].T
                codes[:, sub] = d.argmin(1)
            out = {
                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                "__codes": list(codes),
            }
            for c in carry_names:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    schema = "neighbor_id long, __codes array<int>" + "".join(
        f", {c} {t}" for c, t in carry
    )
    return src.mapInPandas(encode, schema)


def pq_topk(
    encoded: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    max_query_rows: int = 65536,
) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus: (query_id, rank,
    neighbor_id, cosine_r). Queries are the interactive side (same
    bounded contract as ivf_topk's driver path): the (nq x m x k_codes)
    lookup-table tensor is broadcast; the corpus side streams through
    one mapInPandas emitting per-partition top-k only.

    The contract is ENFORCED, not assumed: more than `max_query_rows`
    queries raises instead of silently materializing a corpus-scale
    frame on the driver (the LUT tensor grows ~nq·m·k_codes·8 B — at
    10^6 queries x 16x64 that is already 8 GB of broadcast). For
    corpus x corpus similarity use the block-grid GEMM join
    (operators/similarity.similarity_join) or SemDeDup — all-pairs
    over codes wants a different plan, not a bigger driver.
    """
    import numpy as np
    import pandas as pd

    cb = _codebook_matrix(codebooks)
    m, _, dsub = cb.shape
    qsel = queries.select(
        F.col(id_col).alias(query_id_col),
        as_double_vec(vec_col).alias("__qv"),
    )
    # ONE bounded action: collect at most N+1 rows and fail on
    # overflow — the size probe and the query collect were previously
    # two scans of the query side; limit() keeps the driver transfer
    # capped either way, so fusing them changes cost, not safety
    qpdf = qsel.limit(max_query_rows + 1).toPandas()
    if len(qpdf) > max_query_rows:
        raise ValueError(
            f"pq_topk: query side exceeds max_query_rows="
            f"{max_query_rows}; ADC serving broadcasts per-query "
            "lookup tables and is for bounded query batches. For "
            "corpus-scale sides use the block-grid similarity join."
        )
    if not len(qpdf):
        return local_frame(
            encoded.sparkSession,
            [], f"{query_id_col} long, rank int, neighbor_id long, cosine_r double"
        )
    Q = np.stack(qpdf["__qv"].to_numpy())
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qu = Q / qn[:, None]
    # LUT[i, sub, code] = <q_i_sub, centroid>; corpus norm^2 from codes
    lut = np.einsum(
        "qmd,mkd->qmk", Qu.reshape(len(Qu), m, dsub), cb
    )
    cn2 = (cb**2).sum(2)  # (m, k)
    qids = qpdf[query_id_col].to_numpy()
    sc = encoded.sparkSession.sparkContext
    bc = sc.broadcast((lut, cn2, qids))

    def score(batches):
        lut_, cn2_, qids_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["__codes"].to_numpy())  # (n, m)
            n = len(codes)
            # dot[i, q] = sum_m lut[q, m, codes[i, m]]
            dots = np.zeros((n, nq))
            norm2 = np.zeros(n)
            for sub in range(m):
                dots += lut_[:, sub, codes[:, sub]].T
                norm2 += cn2_[sub, codes[:, sub]]
            norm = np.sqrt(norm2)
            norm[norm == 0] = 1.0
            cos = dots / norm[:, None]  # (n, nq)
            ids = pdf["neighbor_id"].to_numpy()
            # rows id-ascending + STABLE sort => local ties resolve by
            # (cosine desc, id asc), exactly the global window's order —
            # argpartition picked arbitrary survivors among equal
            # cosines (identical codes => exactly equal values), which
            # could drop the id the final top-k should keep
            byid = np.argsort(ids, kind="stable")
            ids, cos = ids[byid], cos[byid]
            # k+1: the self-match (cos 1.0) may occupy one local slot
            # before being dropped below
            top = min(k + 1, n)
            idx = np.argsort(-cos, axis=0, kind="stable")[:top]  # (top, nq)
            out_q = np.repeat(qids_[None, :], top, 0).reshape(-1)
            out_id = ids[idx].reshape(-1)
            out_cos = np.take_along_axis(cos, idx, axis=0).reshape(-1)
            keep = out_id != out_q  # self-match dropped like the IVF family
            yield pd.DataFrame(
                {
                    query_id_col: out_q[keep],
                    "neighbor_id": out_id[keep],
                    "cosine": out_cos[keep],
                }
            )

    from pyspark.sql import Window

    cands = encoded.mapInPandas(
        score, f"{query_id_col} long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("cosine", 6).alias("cosine_r"),
        )
    )


def build_ivf_pq_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    m: int = 16,
    k_codes: int = 64,
    seed: int = 42,
    sample_fraction: float = 1.0,
    centroids_df: DataFrame | None = None,
    codebooks: DataFrame | None = None,
):
    """IVF-PQ: THE billion-vector index shape (coarse inverted lists
    for probe pruning x product-quantized codes for memory) — what
    FAISS calls IVFxx,PQyy. Returns (coarse centroids, codebooks,
    encoded corpus (neighbor_id, __cluster, __codes)).

    Build cost: one KMeans over the corpus (coarse), codebooks from a
    bounded sample, one encode scan. Persist `encoded` partitioned by
    __cluster so a probe touches only its clusters' files; both
    centroid frames are metadata. Pre-trained `centroids_df` /
    `codebooks` frames skip the respective training (externally or
    deterministically trained quantizers).
    """
    from data_engineering_spark.operators.similarity import (
        build_ivf_index,
    )

    cents, assigned = build_ivf_index(
        vectors, id_col, vec_col, n_clusters, seed,
        centroids_df=centroids_df,
    )
    cb = (
        codebooks
        if codebooks is not None
        else pq_train(vectors, vec_col, m, k_codes, seed, sample_fraction)
    )
    # the coarse cluster rides through the encode scan (`carry`) —
    # joining the codes back to the assignments would be a corpus
    # shuffle that exists only to reunite columns one scan already had
    encoded = pq_encode(
        assigned.select(
            F.col("neighbor_id").alias("__vid"),
            F.col("__cv").alias("__vec"),
            "__cluster",
        ),
        cb,
        id_col="__vid",
        vec_col="__vec",
        carry=(("__cluster", "int"),),
    )
    return cents, cb, encoded


def ivf_pq_topk(
    centroids_df: DataFrame,
    codebooks: DataFrame,
    encoded: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 8,
    max_query_rows: int = 65536,
    refine: DataFrame | None = None,
    refine_factor: int = 4,
) -> DataFrame:
    """Serve ADC top-k over an IVF-PQ index: each query scores ONLY the
    codes in its n_probe nearest coarse clusters. Combines the IVF
    probe pruning (read n_probe/n_clusters of the index) with PQ's
    16-32x compression: at 10^9 vectors the probed working set is a
    few hundred MB of codes per query batch.

    Implementation: queries are the bounded interactive side —
    per-query probe sets and LUT tensors are broadcast; the encoded
    corpus streams through one mapInPandas that masks each batch's
    rows by cluster membership per query and emits local top-k; a
    final window keeps the global top-k. The corpus is never shuffled,
    never decoded. The bound is ENFORCED like pq_topk's (loud error
    over a silent driver materialization); corpus x corpus work
    belongs to the block-grid similarity join, not ADC serving.

    ``refine``: the standard exact re-rank stage (FAISS `Refine` /
    DiskANN re-rank; r6 verdict item 6).  Pass the ORIGINAL vector
    frame (id_col, vec_col): the ADC stage then over-fetches
    ``k · refine_factor`` candidates per query, their TRUE vectors are
    looked up with one broadcast join of the bounded candidate list
    against the vector table (one scan, no shuffle of the corpus, no
    Python — zip_with/aggregate cosine), and the exact scores pick the
    final top-k.  Measured on the sf0.001 recall suite
    (tests/test_pq.py): refine removes the ENTIRE PQ-quantization
    error — recall@5 0.575 bare → 0.825 refined at n_probe=8, which
    IS that budget's probe ceiling (near-random embeddings spread
    true neighbors uniformly over clusters, IVF's worst case; the
    remaining misses sit in unprobed clusters, which no re-rank can
    recover) — and 1.0 at n_probe=n_clusters.  Cost: the candidate
    lookup scan; the ADC pass itself is unchanged.
    """
    import numpy as np
    import pandas as pd

    if refine is not None and refine_factor < 1:
        raise ValueError(f"refine_factor must be >= 1: {refine_factor}")
    n_cand = k if refine is None else k * refine_factor
    cb = _codebook_matrix(codebooks)
    m, _, dsub = cb.shape
    from data_engineering_spark.operators.similarity import (
        centroid_matrix,
    )

    cents = centroid_matrix(centroids_df)
    n_clusters = len(cents)

    qsel = queries.select(
        F.col(id_col).alias(query_id_col),
        as_double_vec(vec_col).alias("__qv"),
    )
    # one bounded action — probe and collect fused (see pq_topk)
    qpdf = qsel.limit(max_query_rows + 1).toPandas()
    if len(qpdf) > max_query_rows:
        raise ValueError(
            f"ivf_pq_topk: query side exceeds max_query_rows="
            f"{max_query_rows}; see pq_topk's contract note."
        )
    if not len(qpdf):
        return local_frame(
            encoded.sparkSession,
            [],
            f"{query_id_col} long, rank int, neighbor_id long, "
            "cosine_r double",
        )
    Q = np.stack(qpdf["__qv"].to_numpy())
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qu = Q / qn[:, None]
    d2 = (
        (Q**2).sum(1)[:, None] - 2 * Q @ cents.T + (cents**2).sum(1)[None, :]
    )
    probed = np.zeros((len(Q), n_clusters), dtype=bool)
    for i in range(len(Q)):
        probed[i, np.argsort(d2[i], kind="stable")[:n_probe]] = True
    lut = np.einsum("qmd,mkd->qmk", Qu.reshape(len(Qu), m, dsub), cb)
    cn2 = (cb**2).sum(2)
    qids = qpdf[query_id_col].to_numpy()
    bc = encoded.sparkSession.sparkContext.broadcast(
        (lut, cn2, qids, probed)
    )

    def score(batches):
        lut_, cn2_, qids_, probed_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["__codes"].to_numpy())
            clusters = pdf["__cluster"].to_numpy()
            n = len(codes)
            dots = np.zeros((n, nq))
            norm2 = np.zeros(n)
            for sub in range(m):
                dots += lut_[:, sub, codes[:, sub]].T
                norm2 += cn2_[sub, codes[:, sub]]
            norm = np.sqrt(norm2)
            norm[norm == 0] = 1.0
            cos = dots / norm[:, None]
            mask = probed_[:, clusters].T  # (n, nq)
            cos = np.where(mask, cos, -np.inf)
            ids = pdf["neighbor_id"].to_numpy()
            # deterministic tie-break: see pq_topk's selection note
            byid = np.argsort(ids, kind="stable")
            ids, cos = ids[byid], cos[byid]
            top = min(n_cand + 1, n)
            idx = np.argsort(-cos, axis=0, kind="stable")[:top]
            out_q = np.repeat(qids_[None, :], top, 0).reshape(-1)
            out_id = ids[idx].reshape(-1)
            out_cos = np.take_along_axis(cos, idx, axis=0).reshape(-1)
            keep = (out_id != out_q) & np.isfinite(out_cos)
            yield pd.DataFrame(
                {
                    query_id_col: out_q[keep],
                    "neighbor_id": out_id[keep],
                    "cosine": out_cos[keep],
                }
            )

    from pyspark.sql import Window

    cands = encoded.mapInPandas(
        score, f"{query_id_col} long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    ranked = cands.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= n_cand
    )
    if refine is None:
        return ranked.select(
            query_id_col,
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("cosine", 6).alias("cosine_r"),
        )

    # exact re-rank: true vectors for the bounded candidate set only.
    # The candidate list (≤ nq·k·refine_factor rows) broadcasts to the
    # vector table's scan — one pass, no corpus shuffle; query unit
    # vectors are already driver-side (Qu), shipped as a literal-sized
    # frame. Cosine is the JVM zip_with/aggregate used everywhere else.
    from data_engineering_spark.operators.similarity import cosine

    spark = encoded.sparkSession
    # RAW query vectors (not the unit-normalized Qu): cosine()
    # normalizes internally, and the raw form keeps the expression
    # tree identical to the DuckDB oracle's dot/(|q|·|v|)
    qvec_df = local_frame(
        spark,
        [
            (int(qid), [float(x) for x in qv])
            for qid, qv in zip(qids, Q)
        ],
        f"{query_id_col} long, __qu array<double>",
    )
    cand_ids = ranked.select(query_id_col, "neighbor_id")
    true_vecs = refine.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(vec_col).alias("__tv"),
    )
    exact = (
        true_vecs.join(F.broadcast(cand_ids), "neighbor_id")
        .join(F.broadcast(qvec_df), query_id_col)
        .withColumn("__exact", cosine(F.col("__qu"), F.col("__tv")))
    )
    wx = Window.partitionBy(query_id_col).orderBy(
        F.desc("__exact"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(wx))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("__exact", 6).alias("cosine_r"),
        )
    )
