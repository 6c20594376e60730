"""The end-to-end "make the training mix" query (VERDICT r10 #7).

Composes the already-oracled funnel stages into ONE curated-export
report — the table a data lead actually reviews before committing to a
training run: per-stage document AND real-BPE-token attrition through

    raw → exact dedup → Gopher quality band → near-dup
    canonicalization (star backend) → domain cap → eval-set
    decontamination → classifier gate → token-budget mix
    (max-min-fair water-fill over per-source demands) → 2048-token
    packed bins.

Every stage is integer/hash-exact already (each has its own
oracle-green query; reference files cited there), so the COMPOSITION
is hash-oracle-able end to end: the DuckDB twin replays all nine
stages — recursive-CTE transitive closure, n-gram decontamination,
md5 classifier inference, water-fill rationing, closed-form packing —
and the per-stage (n_docs, n_tokens) rows must match bit-exactly.

Scale: one corpus BPE-count pass (Heaps-bounded encode fold) feeds
every stage's token sum; the funnel persists its survivor set once
(operators/curation.py); the mix windows per SOURCE and the packer per
(lang, source) — the same bounded-partition contracts as
q_doc_token_budget_mix / q_doc_packed_examples. Nothing here adds a
shuffle the standalone stages don't already pay.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.registry import query
from data_engineering_spark.types.frames import local_frame

_MIX_BUDGET = 5_000  # token budget for the mix stage: below the
# curated corpus's demand at every test sf, so water-fill rationing
# genuinely bites (10k — the standalone mix query's budget — would
# fund every source of the much-smaller curated survivor set)
_PACK = 2048  # packed-example token budget (q_doc_packed_examples)


def _rename_ctes(sql: str, mapping: dict[str, str]) -> str:
    """Word-boundary CTE renames so two parameterized CTE blocks can
    share one WITH clause without name collisions. The '\\s+' regex
    literal inside tokenizer CTEs contains a bare `s` that \\bs\\b
    would corrupt — shield string literals with a placeholder first."""
    shield = "\x00SPLITRE\x00"
    out = sql.replace(r"'\s+'", shield)
    for old, new in mapping.items():
        out = re.sub(rf"\b{re.escape(old)}\b", new, out)
    return out.replace(shield, r"'\s+'")


def _materialize_ctes(sql: str, names: tuple[str, ...]) -> str:
    """Add DuckDB MATERIALIZED hints to the named CTEs. The composed
    twin references the funnel chain from up to six downstream stage
    rows; inlined, DuckDB re-evaluates the recursive transitive
    closure per reference (measured: minutes at sf0.01) — materialized
    once, the whole report costs about one funnel evaluation."""
    for n in names:
        sql = sql.replace(f"    {n} AS (", f"    {n} AS MATERIALIZED (")
    return sql


def _mix_oracle() -> str:
    from data_engineering_spark.queries.classifier import (
        _bpe_oracle_cte,
        classifier_score_cte,
    )
    from data_engineering_spark.queries.curation import _FUNNEL_CTE
    from data_engineering_spark.queries.decontaminate import _DECON_CTE

    decon = _rename_ctes(
        _DECON_CTE,
        {
            "tok": "dxtok",
            "sh": "dxsh",
            "eg": "dxeg",
            "inv": "dxinv",
            "hits": "dxhits",
            "decon": "dxdecon",
        },
    )
    clf = _rename_ctes(
        classifier_score_cte("s5t"),
        {
            "tok": "cxtok",
            "uni": "cxuni",
            "bi": "cxbi",
            "feats": "cxfeats",
            "fc": "cxfc",
            "w": "cxw",
            "s": "cxs",
            "scored": "cxscored",
        },
    )
    return _materialize_ctes(
        f"""
    WITH RECURSIVE {_FUNNEL_CTE},
    {_bpe_oracle_cte().lstrip()},
    {decon.lstrip()},
    s5 AS (
      SELECT c.doc_id, c.source, c.lang FROM capped c
      JOIN dxdecon x USING (doc_id) WHERE NOT x.contaminated),
    s5t AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN s5 USING (doc_id)),
    {clf.lstrip()},
    s6 AS (
      SELECT s5.doc_id, s5.source, s5.lang FROM s5
      JOIN cxscored USING (doc_id) WHERE cxscored.logit > 0),
    mdem AS (
      SELECT s6.source,
             SUM(e.n_bpe_tokens) AS demand
      FROM s6 JOIN enc_docs e USING (doc_id) GROUP BY 1),
    mr AS (
      SELECT source, demand,
             ROW_NUMBER() OVER (ORDER BY demand, source) AS k,
             SUM(demand) OVER (ORDER BY demand, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
             COUNT(*) OVER () AS n
      FROM mdem),
    mf AS (
      SELECT *, demand * (n - k + 1) <= {_MIX_BUDGET} - (pfx - demand)
               AS funded
      FROM mr),
    mbp AS (
      SELECT COALESCE(MAX(k), 0) AS bk, COALESCE(MAX(pfx), 0) AS bpfx
      FROM mf WHERE funded),
    malloc AS (
      SELECT source, demand,
             CASE WHEN k <= bk THEN CAST(demand AS DOUBLE)
                  ELSE CAST({_MIX_BUDGET} - bpfx AS DOUBLE)
                       / CAST(n - bk AS DOUBLE) END AS alloc
      FROM mf, mbp),
    mcum AS (
      SELECT s6.source, s6.lang, e.doc_id, e.n_bpe_tokens,
             SUM(e.n_bpe_tokens) OVER (
               PARTITION BY s6.source ORDER BY e.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS c
      FROM s6 JOIN enc_docs e USING (doc_id)),
    msel AS (
      SELECT mcum.source, mcum.lang, mcum.doc_id, mcum.n_bpe_tokens
      FROM mcum JOIN malloc USING (source)
      WHERE mcum.c <= malloc.alloc),
    ppw AS (
      SELECT lang, source, doc_id, n_bpe_tokens,
             COALESCE(SUM(n_bpe_tokens) OVER (
               PARTITION BY lang, source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // {_PACK} AS pack_id
      FROM msel),
    ppk AS (
      SELECT lang, source, pack_id,
             COUNT(*) AS nd, SUM(n_bpe_tokens) AS nt
      FROM ppw GROUP BY 1, 2, 3)
    SELECT 0 AS seq, 'raw' AS stage,
           (SELECT COUNT(*) FROM documents) AS n_docs,
           CAST((SELECT COALESCE(SUM(n_bpe_tokens), 0) FROM enc_docs)
                AS BIGINT) AS n_tokens
    UNION ALL SELECT 1, 'exact_dedup', (SELECT COUNT(*) FROM e),
      CAST((SELECT COALESCE(SUM(t.n_bpe_tokens), 0)
            FROM e JOIN enc_docs t USING (doc_id)) AS BIGINT)
    UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM q),
      CAST((SELECT COALESCE(SUM(t.n_bpe_tokens), 0)
            FROM q JOIN enc_docs t USING (doc_id)) AS BIGINT)
    UNION ALL SELECT 3, 'near_dedup', (SELECT COUNT(*) FROM canon),
      CAST((SELECT COALESCE(SUM(t.n_bpe_tokens), 0)
            FROM canon JOIN enc_docs t USING (doc_id)) AS BIGINT)
    UNION ALL SELECT 4, 'domain_cap', (SELECT COUNT(*) FROM capped),
      CAST((SELECT COALESCE(SUM(t.n_bpe_tokens), 0)
            FROM capped JOIN enc_docs t USING (doc_id)) AS BIGINT)
    UNION ALL SELECT 5, 'decontaminated', (SELECT COUNT(*) FROM s5),
      CAST((SELECT COALESCE(SUM(t.n_bpe_tokens), 0)
            FROM s5 JOIN enc_docs t USING (doc_id)) AS BIGINT)
    UNION ALL SELECT 6, 'classifier', (SELECT COUNT(*) FROM s6),
      CAST((SELECT COALESCE(SUM(t.n_bpe_tokens), 0)
            FROM s6 JOIN enc_docs t USING (doc_id)) AS BIGINT)
    UNION ALL SELECT 7, 'token_mix', (SELECT COUNT(*) FROM msel),
      CAST((SELECT COALESCE(SUM(n_bpe_tokens), 0) FROM msel)
           AS BIGINT)
    UNION ALL SELECT 8, 'packed', (SELECT COUNT(*) FROM ppk),
      CAST((SELECT COALESCE(SUM(nt), 0) FROM ppk) AS BIGINT)
    """,
        (
            "e",
            "q",
            "canon",
            "capped",
            "enc_docs",
            "s5",
            "s6",
            "msel",
            "ppk",
        ),
    )


@query("q_corpus_training_mix", oracle=_mix_oracle())
def q_corpus_training_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full training-data pipeline composed into one report:
    (seq, stage, n_docs, n_tokens) for every stage from the raw crawl
    to the packed 2048-token shards. Stage operators are the already-
    oracled ones — curate_corpus (star backend), decontaminate,
    linear_classifier_score, water_fill + greedy per-source selection,
    pack_chunks — driven off ONE corpus BPE-count pass."""
    from data_engineering_spark.operators.bpe import (
        bpe_doc_token_counts,
    )
    from data_engineering_spark.operators.materialize import (
        eager_checkpoint,
    )
    from data_engineering_spark.operators.classifier import (
        linear_classifier_score,
        synthetic_weights,
    )
    from data_engineering_spark.operators.curation import curate_corpus
    from data_engineering_spark.operators.decontaminate import (
        decontaminate,
    )
    from data_engineering_spark.operators.filters import water_fill
    from data_engineering_spark.operators.text import pack_chunks
    from data_engineering_spark.queries.classifier import (
        _B,
        _BIAS,
        _SCALE,
        _SEED,
        _bpe_merges,
    )
    from data_engineering_spark.queries.decontaminate import (
        _N,
        _eval_slice,
    )

    d = load_table(spark, sf_dir, "documents")
    # one corpus encode pass feeds all nine stage token sums; the
    # nine-branch union would otherwise replicate the encode-fold
    # subtree per stage row — eager-checkpoint the fixed-width
    # (doc_id, n_bpe_tokens) frame once (materialize.py: persist →
    # count → checkpoint from cache → release) so every branch reads
    # the checkpoint and nothing stays session-pinned.
    # OVERLAPPED with the funnel (guide: Spark's scheduler runs
    # independent jobs concurrently; actions submitted from separate
    # threads interleave): the encode fold shares no input with the
    # star-CC funnel below, whose loop leaves most cores idle between
    # its metadata-sized rounds — running both at once hides the
    # whole encode pass behind the funnel wall time. Joined (.result())
    # before the first consumer, so failure/ordering semantics are
    # unchanged.
    from concurrent.futures import ThreadPoolExecutor

    from data_engineering_spark.operators.decontaminate import (
        eval_gram_set,
    )

    with ThreadPoolExecutor(max_workers=2) as pool:
        counts_fut = pool.submit(
            lambda: eager_checkpoint(
                bpe_doc_token_counts(
                    d, _bpe_merges(spark, sf_dir)
                ).select("doc_id", "n_bpe_tokens")
            )
        )
        # the eval-gram set depends only on `d` — warm its persist
        # concurrently too (eval_gram_set's bound probe materializes
        # the cache; decontaminate() below builds the IDENTICAL plan,
        # so the cache manager serves it the seeded blocks)
        grams_fut = pool.submit(
            lambda: eval_gram_set(_eval_slice(d), n=_N)
        )
        capped, stages = curate_corpus(
            d, score_col="n_chars", near_dup="star"
        )
        # capped / s5 / s6 are each referenced by EVERY downstream
        # branch (their stage rows, the mix demands, the cumulative-
        # window selection, the packer) — left un-marked, the union
        # action re-executed the decontamination n-gram scan and the
        # classifier scoring subtree once per consumer (measured ~5x
        # at sf0.1: 22 s in r11). All three are attrition survivors of
        # the already-tiny cap stage (≤ cap_n × |source×lang| rows), so
        # the checkpoints are metadata-sized. r12 fusion (guide §5 —
        # serialized driver actions are the cost on metadata-sized
        # frames): instead of THREE serialized eager_checkpoint counts,
        # all three are LAZY marks and ONE count on s6 materializes the
        # chain in a single job (capped's inputs — the star-CC labels
        # checkpoint and the funnel's quality persist — are already
        # materialized by the CC loop's own actions, so nothing
        # expensive re-executes on the RDD path; decontaminate and the
        # classifier broadcast their small sides EXPLICITLY, so the
        # plan shape does not depend on AQE runtime stats).
        capped = capped.localCheckpoint(eager=False)
        grams_fut.result()  # warm done (it races decontaminate's own
        # probe otherwise — same result, duplicated work)
        s5 = decontaminate(
            capped, _eval_slice(d), n=_N
        ).localCheckpoint(eager=False)
        w = synthetic_weights(spark, _B, seed=_SEED, scale=_SCALE)
        gate = linear_classifier_score(
            s5, w, num_buckets=_B, bias=_BIAS, bucket_hash="md5"
        ).filter(F.col("label")).select("doc_id")
        s6 = s5.join(gate, "doc_id", "left_semi").localCheckpoint(
            eager=False
        )
        counts = counts_fut.result()
        # per6 (the classifier survivors with their token counts) rides
        # the same lazy chain: it is the frame BOTH mix-tail consumers
        # (the water-fill demands and the cumulative-window selection)
        # read, and checkpointing it means they scan ~|s6| rows instead
        # of re-joining the corpus-sized counts checkpoint twice
        per6 = (
            s6.select("doc_id", "source", "lang")
            .join(counts, "doc_id")
            .localCheckpoint(eager=False)
        )
        per6.count()  # the ONE materializing action for all four marks

    demands = per6.groupBy("source").agg(
        F.sum("n_bpe_tokens").cast("long").alias("demand")
    )
    # per-source allocation rides in the final action as a broadcast
    # build instead of a serialized driver collect + re-literalize:
    # the water-fill window runs over the per-source aggregate (8
    # rows), its subtree reads the s6/counts checkpoints, and the
    # broadcast-exchange job overlaps the union's other stages (r12 —
    # one fewer driver round-trip; values identical, the allocation
    # arithmetic is unchanged)
    alloc = water_fill(
        demands, "source", "demand", budget=_MIX_BUDGET
    )
    cw = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s7 = (
        per6.withColumn("__c", F.sum("n_bpe_tokens").over(cw))
        .join(F.broadcast(alloc.select("source", "alloc")), "source")
        .filter(F.col("__c") <= F.col("alloc"))
        .select("doc_id", "source", "lang", "n_bpe_tokens")
    )
    bins = (
        pack_chunks(
            s7,
            budget_tokens=_PACK,
            partition_cols=("lang", "source"),
            order_cols=("doc_id",),
            tokens_col="n_bpe_tokens",
        )
        .groupBy("lang", "source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("n_bpe_tokens").alias("nt"),
        )
    )

    # Stage rows 0-7 as ONE join + ONE aggregation instead of eight
    # independent join+agg branches: each survivor set contributes its
    # doc_ids tagged with the stage seq, the stack joins `counts` once,
    # and a single groupBy produces every row (guide §2.4 — operations
    # keyed the same way share one exchange; measured 7.4 s → ~2 s for
    # the report tail at sf0.1). A literal 8-row spine left-joined back
    # keeps the oracle's row-per-stage contract even for a stage that
    # goes empty at tiny scale (the stacked groupBy alone would drop
    # it; the oracle's UNION ALL emits 0-count rows).
    stage_sets: list[tuple[int, str, DataFrame]] = [
        # raw = the counts checkpoint itself: bpe_doc_token_counts
        # carries a never-drop doc spine, so its doc set IS the raw
        # corpus — the branch reads the checkpoint instead of paying
        # another documents parquet scan + join leg (guide §1.2:
        # don't compute things you throw away)
        (0, "raw", counts),
        (1, "exact_dedup", dict(stages)["exact_dedup"]),
        (2, "quality", dict(stages)["quality"]),
        (3, "near_dedup", dict(stages)["near_dedup"]),
        (4, "domain_cap", capped),
        (5, "decontaminated", s5),
        (6, "classifier", s6),
        (7, "token_mix", s7),
    ]
    tagged = reduce(
        lambda a, b: a.unionByName(b),
        [
            frame.select(
                "doc_id", F.lit(seq).cast("int").alias("seq")
            )
            for seq, _, frame in stage_sets
        ],
    )
    per_stage = (
        tagged.join(counts, "doc_id")
        .groupBy("seq")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_bpe_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    spine = local_frame(
        spark,
        [(seq, name) for seq, name, _ in stage_sets],
        "seq int, stage string",
    )
    rows07 = spine.join(per_stage, "seq", "left").select(
        "seq",
        "stage",
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
    )
    packed_row = bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("n_tokens"),
    ).select(
        F.lit(8).cast("int").alias("seq"),
        F.lit("packed").alias("stage"),
        "n_docs",
        "n_tokens",
    )
    return rows07.unionByName(packed_row)
