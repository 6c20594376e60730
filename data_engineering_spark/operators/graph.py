"""Distributed connected components — dedup-cluster assignment.

Near-duplicate detection (minhash/jaccard) emits PAIRS; a training
pipeline needs CLUSTERS (keep one document per component). This is the
classic iterative min-label propagation over the pair graph:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until no label changes. Converges in O(diameter) rounds;
near-dup components are dense (diameter 2-3 in practice), so the loop
is short. Each round is one join + one aggregation — shuffle keyed on
vertex ids, nothing driver-side except the per-round convergence count
(a metadata-sized action, the standard shape for iterative algorithms
on Spark — same as GraphX/GraphFrames' own CC).

At 100 TB the edge set is the near-dup PAIR list — orders of magnitude
smaller than the corpus — so the loop runs over a small frame while
the corpus is touched only by the final label join.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_spark.operators.materialize import (
    CacheScope,
    eager_checkpoint,
)


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
    edges_unique: bool = False,
) -> DataFrame:
    """Component label per vertex of the undirected edge set.

    Returns (vertex, component) where `component` is the MINIMUM vertex
    id in the connected component — a canonical, engine-independent
    cluster id. Only vertices that appear in at least one edge are
    returned (isolated documents are their own trivial cluster and
    don't need a join to find out).

    `edges_unique=True` declares the input a DISTINCT canonical pair
    list (every edge appears once, one orientation — what star_edges
    and ngram_jaccard_pairs emit by construction) and skips the
    union+distinct shuffle: the checkpointed one-direction frame is
    mirrored lazily instead. Purely a shuffle-count optimization —
    duplicate edges never change CC labels (every per-round operator
    is a min aggregate), so a caller mis-declaring uniqueness loses
    only the loop-size reduction, never correctness.

    Raises RuntimeError if not converged after `max_iter` rounds —
    near-dup graphs converge in a handful; hitting the cap means the
    input is not the expected pair list.
    """
    # undirected: keep both directions so one join propagates both ways.
    # localCheckpoint rather than persist: an iterative loop's lineage
    # otherwise grows by one join+agg per round and each convergence
    # action replans the whole history — measured driver heap OOM at
    # sf0.01 without truncation. Checkpointing each round's labels
    # keeps the plan depth constant.
    # materialize ONE direction first: unioning two selects over an
    # expensive, uncached edge source would execute its whole subtree
    # twice inside a single job (both union branches scan before any
    # persist block exists — measured 2x the pair-pipeline cost). The
    # checkpointed one-direction frame is then mirrored for free.
    # persist + count, NOT a direct eager localCheckpoint: the direct
    # RDD path re-executes an expensive edge pipeline un-optimized
    # (measured 143.7 s vs 62 s total at 16x scale — see
    # operators/materialize.py).
    with CacheScope() as scope:
        e1 = scope.persist(
            edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
        e1.count()
        # base/labels checkpoints are LAZY: each one still truncates
        # lineage to an RDD scan immediately, but materialization
        # happens inside round 0's convergence-count job instead of
        # paying one serialized driver action per frame — 3 fewer
        # scheduler round-trips per CC call (guide §5: the driver should
        # do almost no work; serialized metadata-sized jobs are pure
        # driver latency). base computes from e1's CACHE (the count
        # above populated it), so the RDD-path penalty documented in
        # operators/materialize.py does not apply; e1 stays persisted
        # until round 0 materializes base.
        if edges_unique:
            # one-direction blocks only; the mirror is a narrow map over
            # the checkpoint, re-derived per consumer for free — no
            # distinct exchange, half the checkpointed bytes
            base = scope.checkpoint(e1)
            e = base.union(
                base.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
        else:
            base = e = scope.checkpoint(
                e1.union(
                    e1.select(F.col("v").alias("u"), F.col("u").alias("v"))
                ).distinct()
            )
        # seed with min(self, min(neighbor)) — the first propagation
        # round comes free inside the init aggregate (one round fewer in
        # the loop)
        labels = scope.checkpoint(
            e.groupBy("u")
            .agg(F.least(F.col("u"), F.min("v")).alias("component"))
            .select(F.col("u").alias("vertex"), "component")
        )

        # checkpoint hygiene: localCheckpoint blocks are NOT
        # catalog-tracked (clearCache can't free them) and a loop that
        # leaves one per round accumulates block-manager pressure across
        # calls — measured as multi-second degradation on repeated runs
        # in one session. Superseded checkpoints are released as soon as
        # the next round is materialized; only the returned labels frame
        # stays alive. Any raise (non-convergence included) releases
        # every frame still registered with the scope.
        prev_ckpt = labels
        for rnd in range(max_iter):
            # step 1 — edge propagation: for each vertex, min label
            # among its neighbors, then min(own, incoming)
            incoming = (
                e.join(labels, e["u"] == labels["vertex"])
                .select(F.col("v").alias("vertex"), "component")
                .groupBy("vertex")
                .agg(F.min("component").alias("__inc"))
            )
            # carry the pre-round label as __old: the convergence check
            # then reads it straight off the checkpointed result instead
            # of re-joining against the previous labels frame (2 fewer
            # stages per round)
            prop = labels.join(incoming, "vertex", "left").select(
                "vertex",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"),
                    F.coalesce("__inc", F.col("component")),
                ).alias("component"),
            )
            # step 2 — pointer jumping: component <- component[component].
            # Plain propagation moves a label ONE hop per round (a
            # k-vertex chain needs k rounds); the shortcut halves chain
            # depth every round, giving the textbook O(log n) convergence
            # that 100 TB pair graphs need.
            a, b = prop.alias("a"), prop.alias("b")
            jumped = scope.checkpoint(
                a.join(
                    b, F.col("a.component") == F.col("b.vertex"), "left"
                ).select(
                    F.col("a.vertex").alias("vertex"),
                    F.col("a.__old").alias("__old"),
                    F.least(
                        F.col("a.component"),
                        F.coalesce(
                            F.col("b.component"), F.col("a.component")
                        ),
                    ).alias("component"),
                )
            )
            # fused convergence probe: the count is the round's ONE
            # action — it computes the round's joins, materializes the
            # lazy checkpoint blocks (jumped, and on round 0 base + the
            # init labels, all in this job's lineage), and returns the
            # changed count, where the eager shape paid a separate
            # checkpoint job per frame first (guide §5: serialized driver
            # actions are the cost on metadata-sized frames)
            changed = jumped.filter(
                F.col("component") != F.col("__old")
            ).count()
            if rnd == 0:
                # base is materialized now — the edge-pipeline cache has
                # no further consumer
                scope.release(e1)
            # the previous round's checkpoint (and, first round, the init
            # labels) are superseded now that `jumped` is materialized
            scope.release(prev_ckpt)
            prev_ckpt = jumped
            labels = jumped.select("vertex", "component")
            if changed == 0:
                scope.release(base)
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )


def dedup_clusters(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    edges_unique: bool = False,
) -> DataFrame:
    """Near-dup pairs → cluster assignment: (doc_id, cluster_id,
    cluster_size, is_canonical). `cluster_id` = min doc id in the
    component; `is_canonical` marks the single document per cluster a
    dedup pass would keep. `edges_unique` as in
    connected_components (skip the dedup shuffle for pair lists that
    are distinct + canonical by construction)."""
    cc = connected_components(
        pairs, src_col, dst_col, edges_unique=edges_unique
    )
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        cc.join(sizes, "component")
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("vertex") == F.col("component")).alias("is_canonical"),
        )
    )


def degrees(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Undirected degree per vertex: (vertex, degree) of the SIMPLE
    graph — edges normalize to unordered pairs and dedup first, and
    self-loops are ignored, matching connected_components' and
    triangle_count's normalization (a pair list carrying both (a,b)
    and (b,a), or the same pair from two LSH bands, must not
    double-count hub degrees)."""
    uniq = (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    ends = uniq.select(F.col("u").alias("vertex")).unionAll(
        uniq.select(F.col("v").alias("vertex"))
    )
    return ends.groupBy("vertex").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Total triangle count of the undirected simple graph.

    Classic oriented-wedge plan: orient every edge small->large, join
    wedges (u<v<w with u-v, v-w) against the edge set to close them.
    Each triangle is counted exactly once because its three vertices
    admit exactly one increasing orientation. Two shuffles on vertex
    ids; wedge volume is Σ out_degree² — the orientation caps
    out-degree by total degree order, the standard skew bound
    (high-degree hubs get LOW out-degree), which is what makes this
    survive power-law graphs at scale.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    w = e.select(F.col("u").alias("a"), F.col("v").alias("b")).join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")), "b"
    )
    closed = w.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    return closed.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """Weighted PageRank with a fixed iteration count.

    Returns (vertex, rank); ranks sum to 1 (dangling + teleport mass
    is redistributed uniformly each round). Fixed n_iter rather than a
    convergence probe — and because the iteration count is fixed, NO
    per-round driver action is needed at all: every round's checkpoint
    is a lazy mark (lineage truncates to an RDD scan at creation,
    keeping plan depth constant), and ONE count after the loop
    materializes the whole chain in a single job (the §9/§10
    lazy-checkpoint fusion from OPTIMIZATION_r11, extended from
    1-deep to n_iter-deep — VERDICT r11 #4). The global residual
    scalar rides into the update as a broadcast one-row cross join,
    never a driver collect. Superseded round blocks release only
    AFTER the final count materializes them (releasing an
    unmaterialized localCheckpoint mark clears its storage level
    before materialization — the unpersist-ordering hazard r11
    documented); each round's blocks are vertex-sized and
    disk-spillable, so holding n_iter of them until the end is
    bounded by the vertex set, not the edge set.

    Cross-engine determinism: the per-source weight totals accumulate
    in DECIMAL and the per-vertex contributions in FIXED-POINT BIGINT
    (floor(x·1e12 + 0.5) — the same portable rounding as
    quantize_embeddings; double→decimal casts are NOT portable at fine
    scales because Spark rounds the shortest decimal representation
    while DuckDB rounds the binary value). For a given edge set the
    returned ranks are therefore bit-identical across engines and runs
    — which is what lets q_events_pagerank carry a full DuckDB oracle
    of 10 unrolled iterations. Precision trade: each contribution is
    truncated at 1e-12 (deterministically); the BIGINT accumulator
    caps at ~9e6 full-magnitude terms per vertex, far above any real
    in-degree mass (contributions sum to <= 1 per vertex).
    """
    wcol = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    with CacheScope() as scope:
        # checkpoint the edge projection ONCE through the optimized action
        # path (materialize.py); verts/out then derive from the cheap
        # checkpointed frame instead of re-running the caller's edge
        # pipeline twice on the slow RDD path
        ed = scope.own(
            eager_checkpoint(
                edges.select(
                    F.col(src_col).alias("src"),
                    F.col(dst_col).alias("dst"),
                    wcol.alias("w"),
                )
            )
        )
        # lazy mark + count: the count job materializes the checkpoint
        # through the optimized path AND returns n — one action, not two
        # (the §10 eager_checkpoint fusion)
        verts = scope.checkpoint(
            ed.select(F.col("src").alias("vertex"))
            .union(ed.select(F.col("dst").alias("vertex")))
            .distinct()
        )
        n = verts.count()
        out = scope.own(
            ed
            .withColumn(
                "w_tot",
                F.sum(F.col("w").cast("decimal(18,6)")).over(
                    Window.partitionBy("src")
                ),
            )
            .withColumn(
                "frac", F.col("w") / F.col("w_tot").cast("double")
            )
            .select("src", "dst", "frac")
            .localCheckpoint(eager=True)
        )
        scope.release(ed)
        # init ranks: a narrow constant projection over the verts
        # checkpoint — nothing to truncate, no checkpoint needed
        ranks = verts.select(
            "vertex", (F.lit(1.0) / F.lit(float(n))).alias("rank")
        )
        # superseded round frames, released ONLY after the final count
        # materializes the chain (see docstring)
        pending: list[DataFrame] = []
        for _ in range(n_iter):
            contrib = (
                out.join(ranks, out["src"] == ranks["vertex"])
                .select(
                    F.col("dst").alias("vertex"),
                    # per-row double product (identical IEEE everywhere),
                    # then portable fixed-point quantization + exact long
                    # accumulation — order-independent AND engine-exact
                    F.floor(
                        F.col("rank") * F.col("frac") * F.lit(1e12)
                        + F.lit(0.5)
                    )
                    .cast("long")
                    .alias("ci"),
                )
                .groupBy("vertex")
                .agg(F.sum("ci").alias("ci"))
                .withColumn(
                    "c", F.col("ci").cast("double") / F.lit(1e12)
                )
            )
            # dangling + teleport mass: (1 - damping*flowed)/n, carried as
            # a broadcast one-row frame so the whole round is ONE job
            residual = contrib.agg(
                (
                    (
                        F.lit(1.0)
                        - F.lit(damping)
                        * F.coalesce(
                            F.sum("ci").cast("double") / F.lit(1e12),
                            F.lit(0.0),
                        )
                    )
                    / F.lit(float(n))
                ).alias("__res")
            )
            ranks = scope.checkpoint(
                verts.join(contrib.select("vertex", "c"), "vertex", "left")
                .crossJoin(F.broadcast(residual))
                .select(
                    "vertex",
                    (
                        F.lit(damping) * F.coalesce("c", F.lit(0.0))
                        + F.col("__res")
                    ).alias("rank"),
                )
            )
            pending.append(ranks)
        # ONE action materializes all n_iter lazily-chained rounds (round
        # k's RDD computes round k-1's as a side effect), then the
        # superseded rounds' blocks are safe to drop — only the returned
        # frame keeps its checkpoint
        ranks.count()
        for frame in pending[:-1]:
            scope.release(frame)
        scope.release(out)
        # verts' checkpoint blocks fed every round but the returned ranks
        # no longer reference them — keeping them alive per call is the
        # exact leak the loop hygiene exists to prevent
        scope.release(verts)
    return ranks
