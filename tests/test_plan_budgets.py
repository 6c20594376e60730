"""Shuffle-budget regression guard for every headline query.

The bench guard catches runtime regressions; this catches PLAN
regressions directly (a lost broadcast, a new shuffle, Python sneaking
into a JVM path) even when sf0.01 timing noise would hide them.
Budgets are the current Exchange-node counts (broadcast exchanges and
AQE reuse nodes included, so they are upper bounds on data shuffles)
with zero headroom — a plan that grows a shuffle must either be fixed
or consciously re-budgeted in this file.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bench import HEADLINE
from data_engineering_spark.plans.explain import (
    plan_string,
    scale_violations,
)
from data_engineering_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

EXCHANGE_BUDGET = {
    "q01_pricing_summary": 2,
    "q03_shipping_priority": 6,
    "q05_region_revenue": 14,
    "q18_large_orders": 6,
    "q_customer_order_counts": 4,
    "q_events_keep_last_per_user": 2,
    "q_events_sessionize": 2,
    "q_doc_dedup_exact": 6,
    # r5 PPJoin/collect_set rewrites: 145 -> 27 and 43 -> 15
    "q_doc_ngram_jaccard_pairs": 27,
    # 15 -> 16 in r6: the band-rows persist adds one InMemoryRelation
    # whose embedded build plan the textual count double-counts —
    # EXECUTED shuffles went down (the persist exists to stop 2-4
    # recomputations of the signature stage; isolated A/B in the
    # r6 commit log)
    "q_doc_minhash_neardup": 16,
    # 4 -> 6 in r10: the broadcast query side carries a plan-visible
    # limit (the cartesian-gate boundedness proof) — a GlobalLimit
    # single-partition exchange of <= 8 rows, constant whatever the
    # corpus; the corpus-side plan is unchanged
    "q_cosine_topk": 6,
    "q_embedding_similarity_join": 2,
    "q_events_tumbling_window": 4,
    "q07_nation_trade_flows": 12,
    "q_doc_gopher_filters": 0,
    "q_doc_dedup_clusters": 4,
    "q_semi_reduced_revenue": 10,
    "q_reconcile_drift": 4,
    "q_doc_span_dedup": 12,
    "q_doc_cdc_chunks": 2,
    "q_quality_checks": 10,
    "q_events_skew_profile": 4,
    "q_events_hybrid_join": 16,
    "q_orders_change_feed": 6,
    # ADC serving: window top-k over the mapInPandas candidates
    "q_embedding_pq_topk": 2,
    # IVF-PQ + exact re-rank: candidate window + the two broadcast
    # joins of the refine lookup and the final exact-rank window (the
    # ADC corpus pass itself is exchange-free Arrow batches)
    "q_embedding_ivfpq_refine_topk": 10,
    # round-8 decontamination: eval-slice gram aggregation (bounded,
    # broadcasts) + the corpus-side per-doc agg; the broadcast join
    # itself counts as exchanges in the textual plan. 6 -> 8 in r11:
    # eval_gram_set now persists the gram set (one materialization
    # instead of probe + broadcast-build re-execution), and the
    # textual plan renders the InMemoryRelation's STORED build plan —
    # its two eval-side exchanges — alongside the scan; at runtime the
    # eval subtree executes once and the cache is read back (fewer
    # shuffles executed, two more printed)
    "q_doc_decontamination_stats": 8,
    # round-8 WordPiece encode: (doc, word) count shuffle + the
    # distinct-word aggregate feeding the greedy fold + the word join
    # back + per-doc agg + the left join to the doc spine; the occ
    # subtree feeds two consumers so the textual count repeats it
    # (runtime dedups via ReusedExchange, same as q_doc_bpe_encode);
    # pure JVM
    "q_doc_wordpiece_encode": 10,
    # round-9 unigram-LM encode: identical plan skeleton to the
    # WordPiece twin — (doc, word) count shuffle + distinct-word agg
    # feeding the Viterbi fold + word join back + per-doc agg + doc
    # spine left join; occ feeds two consumers so the textual count
    # repeats it; pure JVM
    "q_doc_unigram_encode": 10,
    # round-8 serving split: the ADC window over the prebuilt-index
    # scan (the encode pipeline is GONE from the plan — that is the
    # point)
    "q_embedding_pq_serving": 2,
    # probe-pruned index scan + candidate window + refine broadcast
    # joins + final exact-rank window
    "q_embedding_ivfpq_refine_serving": 8,
    # two hashed-ngram count pipelines (raw + target) + broadcast
    # scoring join; the textual count repeats shared subtrees
    "q_doc_dsir_select": 48,
    # composed curation funnel (dedup window + PPJoin machinery +
    # cluster/cap windows); pure JVM end to end
    "q_corpus_curated": 34,
    # star clusters: the CC loop's localCheckpoint truncates lineage,
    # so the final plan is just the label join over checkpointed labels
    "q_doc_star_dedup_clusters": 4,
    # star-backend funnel: dedup/cap windows + the LSH band machinery
    # reappearing in the verify branch of the textual plan
    "q_corpus_curated_star": 49,
    # batch banding (×2: touched-buckets probe + union branch) + the
    # index semi-join + grouped GEMM + band dedup
    "q_embedding_incremental_neardup": 8,
    # round-6 classifier scoring: feature count shuffle + broadcast
    # weight join + doc-sum + the left join back to the id spine;
    # pure JVM end to end
    "q_doc_quality_classifier": 6,
    # round-8 hybrid RRF: lexical tf shuffle + query-term join +
    # (query, doc) agg + per-query windows on both legs + the fusion
    # full-outer join and window; the tokenize subtree feeds tf AND
    # qterms so the textual count repeats it; fusion itself is over
    # <= 2 * leg_k rows per query
    # 20 -> 22 in r10: the vector leg's query side carries the same
    # plan-visible limit as q_cosine_topk (<= 4 rows, constant)
    "q_doc_hybrid_rrf": 22,
    # round-10 SFT token counts: the composite (conv, turn) word
    # shuffle + distinct-word agg feeding the BPE fold + the word join
    # back + per-turn agg + role join + conv rollup; the occ subtree
    # feeds two consumers so the textual count repeats it (the
    # q_doc_bpe_encode pattern); turn synthesis itself is
    # exchange-free; pure JVM
    "q_conv_token_counts": 14,
    # round-11 training-mix composition: nine stage-row branches over
    # the funnel — the heavy shared frames (BPE counts, the post-
    # funnel `capped` set) are eager-checkpointed so their subtrees
    # appear ONCE; what remains is the per-branch dedup/quality/star
    # machinery the textual count repeats (executed plan reads the
    # curate_corpus persists) plus the decon/classifier/mix/pack tail
    # over the tiny curated set. Calibrated 184 at sf0.001.
    "q_corpus_training_mix": 200,
}


@pytest.fixture(scope="module")
def plans(spark):
    """Every registered query built ONCE: name -> (formatted plan text,
    scale_violations).  Each build starts on a cold catalog — budgets
    are calibrated that way: cached intermediates from earlier builds
    embed their build plans (InMemoryRelation), and the textual
    Exchange count would double-count those children.  Only strings
    are kept; holding the frames would pin their operators' persists
    and checkpoints for the rest of the session."""
    out = {}
    for name in sorted(QUERIES):
        spark.catalog.clearCache()
        df = QUERIES[name](spark, SF)
        out[name] = (plan_string(df), scale_violations(df))
    spark.catalog.clearCache()
    return out


@pytest.mark.parametrize(
    "name", [n for n in HEADLINE if n in EXCHANGE_BUDGET]
)
def test_headline_exchange_budget(plans, name):
    got = plans[name][0].count("Exchange")
    assert got <= EXCHANGE_BUDGET[name], (
        f"{name}: {got} Exchange nodes > budget "
        f"{EXCHANGE_BUDGET[name]} — a shuffle crept in"
    )


def test_budget_covers_every_headline_query():
    missing = [n for n in HEADLINE if n not in EXCHANGE_BUDGET]
    assert not missing, f"add budgets for: {missing}"


# round-4 session additions: not in the bench HEADLINE (kept stable for
# round-over-round comparability) but plan-guarded all the same
EXTRA_BUDGET = {
    # round-8 WordPiece piece frequencies: word-count shuffle + the
    # piece agg (the TakeOrdered head adds none); pure JVM
    "q_doc_wordpiece_piece_freq": 4,
    # round-9 unigram-LM piece frequencies: same skeleton
    "q_doc_unigram_piece_freq": 4,
    "q_lineitem_weighted_median": 4,
    # 4 since the duplicates-only count-join rewrite: count aggregate +
    # the join's two sides + the query's own output agg (AQE broadcasts
    # the dup table at runtime, so the executed plan is cheaper than
    # the textual count suggests) — the trade that removed the
    # full-row window shuffle of the whole corpus
    "q_doc_debiased_sample": 4,
    "q_doc_source_budget": 10,
    "q_join_size_estimate": 4,
    # round-6 additions (not in HEADLINE except the classifier)
    "q_doc_classifier_lang_stats": 10,
    "q_doc_bpe_top_pairs": 4,
    "q_embedding_prototype_prune": 6,
    # classifier-gated funnel: same machinery as q_corpus_curated with
    # the Gopher scan swapped for the classifier's count shuffle +
    # broadcast weight join; pure JVM end to end. 34 → 36 in r12: the
    # exact-dedup persist (operators/curation.py) renders its stored
    # build plan inside the InMemoryRelation — textual Exchange count
    # rises while the executed exchanges FALL (the stage-report branch
    # now reads cache; same rendering effect r11 recalibrated for
    # q_doc_decontamination_stats)
    "q_corpus_curated_classifier": 36,
    # round-7 BPE encode: (doc,word) count shuffle + distinct-vocab
    # agg + the word join back + doc re-agg + the id-spine left join;
    # the encode fold itself is expression-only (zero exchanges)
    "q_doc_bpe_encode": 10,
    # encode plan + the (lang,source) pack window + final agg
    "q_doc_bpe_pack_bins": 14,
    # unigram twin: encode pipeline + per-shard pack window + final agg
    "q_doc_unigram_pack_bins": 14,
    # round-7 integer cores (the oracled fixed-point halves of the
    # perplexity/DSIR pipelines): feature shuffles for docs + target,
    # two broadcast model joins, doc re-agg, id-spine left join
    "q_doc_lm_bigram_stats": 16,
    "q_doc_dsir_bucket_stats": 16,
    # token-id stream: (doc,word) explode + distinct-vocab encode +
    # broadcast id join + the word join back
    "q_doc_bpe_token_ids": 6,
    # unigram twin: same skeleton (Viterbi fold on the distinct side)
    "q_doc_unigram_token_ids": 6,
    # round-9 export prep: the shuffle-shard assignment is ONE
    # shard-keyed exchange (textual 2 = AQE initial+final); FIM is
    # scan+project, zero exchanges — asserted exactly
    "q_corpus_shuffle_shards": 2,
    "q_doc_fim_transform": 0,
    # token-budget mix: the encode pipeline + per-source demand agg +
    # selection window + final agg; the water-fill allocation itself
    # is collected and re-literalized (LocalRelation), so its windows
    # and the duplicated demands subtree stay out of this plan
    # (86 -> 18 textual exchanges measured)
    "q_doc_token_budget_mix": 18,
    # packed examples: the encode pipeline appears in BOTH consumers
    # (pack assignment via counts, token stream via ids) — the textual
    # count doubles the shared subtrees; executed shuffles reuse via
    # ReusedExchange
    "q_doc_packed_examples": 42,
}


# Unpartitioned-window ban (r6 verdict item 1): a Window with an empty
# partition spec over unbounded input plans as "move every row to one
# partition and sort in one task" — the single-task straggler that
# killed q_doc_bm25_linear and q_events_equidepth_histogram before
# their r7 rewrites (TakeOrdered + bounded rank-join; range-id +
# broadcast prefix offsets).  The detector walks the optimized logical
# plan and already exempts provably bounded inputs (Limit subtrees,
# grouping-less aggregates, literal relations).  Everything else needs
# an entry here WITH a size argument.
UNPARTITIONED_WINDOW_OK = {
    # water-fill allocation: input is one row per SOURCE (an aggregate
    # of the corpus) — operators/filters.py:374 documents the bound
    "q_doc_source_budget",
    # epoch_allocation = the same water-fill window over the same
    # one-row-per-SOURCE aggregate (capacity = demand*max_epochs)
    "q_doc_epoch_mix",
    # CDF over the per-length histogram: one row per distinct doc
    # length (≤ the Gopher max-length cap) — llm_filters.py length
    # outliers
    "q_doc_length_outliers",
    # vocabulary ranks: one row per distinct word, Heaps-bounded
    # (queries/text.py vocab-coverage)
    "q_doc_vocab_coverage",
    # one row per order YEAR — calendar-bounded (diagnostics.py yoy);
    # lag-with-gap semantics genuinely needs the total order, unlike
    # q_nation_revenue_share's global sum, which was rewritten r7 as a
    # grouping-less aggregate crossJoin and left this list
    "q_orders_yoy_growth",
}


def _offenders(plans, kind: str, whitelist: set[str]) -> dict[str, str]:
    """First offending node of violation class `kind` per query, for
    every query outside `whitelist`."""
    offenders = {}
    for name, (_, found) in plans.items():
        hits = getattr(found, kind)
        if hits and name not in whitelist:
            offenders[name] = hits[0][:120]
    return offenders


def test_no_unpartitioned_windows_anywhere(plans):
    """Every registered query (not just headline) must be free of
    single-partition windows over unbounded input."""
    offenders = _offenders(plans, "windows", UNPARTITIONED_WINDOW_OK)
    assert not offenders, (
        "single-partition window over unbounded input crept into: "
        f"{offenders} — fix the plan (TakeOrdered / partitioned rank) "
        "or whitelist WITH a size argument"
    )


def test_unpartitioned_window_whitelist_is_tight():
    """Whitelisted names must still exist — a renamed query must not
    leave a stale exemption behind."""
    stale = UNPARTITIONED_WINDOW_OK - set(QUERIES)
    assert not stale, f"stale whitelist entries: {stale}"


@pytest.mark.parametrize("name", sorted(EXTRA_BUDGET))
def test_extra_exchange_budget(plans, name):
    n = plans[name][0].count("Exchange")
    assert n <= EXTRA_BUDGET[name], (
        f"{name}: {n} Exchange nodes (budget {EXTRA_BUDGET[name]})"
    )


# Relational/CDC/dedup/similarity queries must be pure JVM plans —
# Python (even Arrow-vectorized) only appears where an entry here
# says why.
ARROW_BATCH_OK = {
    # mapInPandas is the point there (documented Arrow-batch ops)
    "q_multimodal_histogram",
    "q_multimodal_frame_sample",
    "q_multimodal_decode",
    # exact GEMM similarity join: BLAS matmul beats carrying vectors
    # through a pair join (see operators/similarity.py)
    "q_embedding_similarity_join",
    # SemDeDup: per-bucket GEMM via applyInPandas, same rationale
    "q_embedding_semdedup",
    # LSH bucket assignment is a sign-GEMM over Arrow batches
    "q_embedding_lsh_join",
    # incremental probe reuses the same banding + bucket GEMM
    "q_embedding_incremental_neardup",
    # the prebuilt-index serving twins run the same Arrow ADC scorers
    "q_embedding_pq_serving",
    "q_embedding_ivfpq_refine_serving",
    # IVF probes are assigned driver-side/numpy by design; since r5
    # the deterministic-quantizer corpus assignment is the
    # broadcast-GEMM mapInPandas (both variants)
    "q_embedding_ivf_topk",
    "q_embedding_ivf_topk_sq8",
    # WAV decode is an Arrow-batched binary parser (mapInPandas) —
    # the payload build around it stays JVM
    "q_multimodal_wav",
    # framed-FFT features are numpy by nature (same slot)
    "q_multimodal_audio_features",
    # Misra-Gries candidate pass is a per-partition bounded-counter
    # scan (mapInPandas) — the exact-count phase stays JVM
    "q_doc_heavy_hitter_terms",
    # perceptual dHash decodes pixels in Arrow batches; the banded
    # near-dup join over the 64-bit hashes stays JVM
    "q_multimodal_dhash_neardup",
    # PCA's Gram partials are an Arrow batch pass at FIT time; the
    # projection itself is pure codegen
    "q_embedding_pca_project",
    # PQ encode/ADC scoring are numpy-over-Arrow by design (code
    # argmin + LUT gathers have no builtin-expression equivalent)
    "q_embedding_pq_topk",
    "q_embedding_ivf_pq_topk",
    # refine variant: same ADC mapInPandas candidate pass; the
    # exact re-rank stage itself is pure JVM
    "q_embedding_ivfpq_refine_topk",
}


def test_no_python_in_relational_hot_path(plans):
    for name, (plan, _) in plans.items():
        if name in ARROW_BATCH_OK:
            continue
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, f"{name} contains {node}"


# Global-sort ban (VERDICT r7 #6): a global orderBy materialized
# without a limit is the sibling scale-killer of the unpartitioned
# window — a full range exchange + total sort whose only effect in a
# pipeline is imposing an order the next operator (or the driver's
# own row-sorting compare) doesn't need. Limit(Sort) is exempt by
# construction (plans as TakeOrderedAndProject), as are sorts over
# provably bounded subtrees. r8 removed all 13 cosmetic final sorts
# the walker found, so the whitelist starts EMPTY; additions need a
# size argument, same contract as the window gate.
UNBOUNDED_SORT_OK: set[str] = set()


def test_no_unbounded_global_sorts_anywhere(plans):
    offenders = _offenders(plans, "sorts", UNBOUNDED_SORT_OK)
    assert not offenders, (
        "global sort over unbounded input without a limit crept "
        f"into: {offenders} — drop the sort (the driver compare "
        "sorts rows itself), push a limit, or whitelist WITH a size "
        "argument"
    )


# Cartesian/nested-loop ban (VERDICT r8 #6): an equality-free join
# where neither side is row-bounded is O(|L|·|R|) at scale whatever
# physical strategy the optimizer picks. The r8 audit found the repo
# clean (crossJoins are broadcast-of-scalar only) — the gate keeps it
# clean; additions need a size argument, same contract as the window
# and sort gates.
# Whitelist WITH size arguments (the gate's contract). Every entry's
# nested-loop side is bounded by something the PLAN cannot prove but
# the data model does:
# - q_cross_join_matrix: region (fixed 5-row dimension) × DISTINCT
#   o_orderstatus (3 values) — a deliberate small×small cross demo.
# - q_embedding_centroid_assign / _prototype_prune / _semdedup: the
#   cross side is the IVF coarse-quantizer centroid fixture — k=16
#   rows (IVF_CLUSTERS) read from parquet and broadcast; corpus size
#   never changes k.
# - q_events_kmv_set_algebra: (set_a < set_b) over the distinct
#   event-type universe (5 values) — all-pairs of sketches, not rows.
# (q_events_dau_wau_mau / q_events_kmv_rolling_wau were rewritten off
# the whitelist: their trailing windows are bounded-explode equi-joins
# now — window·|rows| fan-out hash-joined on the day, no nested loop.)
CARTESIAN_OK: set[str] = {
    "q_cross_join_matrix",
    "q_embedding_centroid_assign",
    "q_embedding_prototype_prune",
    "q_embedding_semdedup",
    "q_events_kmv_set_algebra",
}


def test_no_unbounded_cartesian_joins_anywhere(plans):
    offenders = _offenders(plans, "cartesian", CARTESIAN_OK)
    assert not offenders, (
        "equality-free join over two unbounded inputs crept into: "
        f"{offenders} — add an equi predicate, bound one side, or "
        "whitelist WITH a size argument"
    )


def test_cartesian_whitelist_is_tight():
    stale = CARTESIAN_OK - set(QUERIES)
    assert not stale, f"stale whitelist entries: {stale}"


def test_cartesian_walker_semantics(spark):
    """The walker's verdicts on hand-built plans: unbounded crossJoin =
    flagged; non-equi theta join = flagged; crossJoin against a
    grouping-less aggregate or a limit = exempt; equi join = exempt
    (even with extra non-equi conjuncts)."""

    def cartesian(df):
        return scale_violations(df).cartesian

    a = spark.range(100).toDF("x")
    b = spark.range(100).toDF("y")
    assert cartesian(a.crossJoin(b))
    assert cartesian(a.join(b, F.col("x") < F.col("y")))
    # broadcast-of-scalar: the audited-legitimate pattern
    assert not cartesian(a.crossJoin(b.groupBy().agg(F.max("y").alias("m"))))
    assert not cartesian(a.crossJoin(b.limit(1)))
    assert not cartesian(a.join(b, F.col("x") == F.col("y")))
    assert not cartesian(
        a.join(b, (F.col("x") == F.col("y")) & (F.col("x") > 3))
    )
    # r9 ADVICE false negatives, now caught: an equality under OR does
    # NOT make the join hash-partitionable (ExtractEquiJoinKeys splits
    # top-level AND conjuncts only) ...
    assert cartesian(
        a.join(b, (F.col("x") == F.col("y")) | (F.col("x") < F.col("y")))
    )
    # ... nor does an inequality wrapping one (self-pair exclusion)
    assert cartesian(a.join(b, F.col("x") != F.col("y")))
    # ... nor a same-side equality (both operands from one input)
    c = spark.range(100).select(
        F.col("id").alias("p"), (F.col("id") % 2).alias("q")
    )
    assert cartesian(
        c.join(b, (F.col("p") == F.col("q")) & (F.col("p") < F.col("y")))
    )
    # expression keys still count (x = y + 1 references both sides)
    assert not cartesian(a.join(b, F.col("x") == F.col("y") + 1))
    # literal comparand is a filter, not a join key
    assert cartesian(
        a.join(b, (F.col("x") == 5) & (F.col("y") > F.col("x")))
    )


def test_unbounded_sort_walker_semantics(spark):
    """The walker's three verdicts on hand-built plans: bare global
    sort = flagged; sort under limit = TakeOrdered, exempt; sort over
    a grouping-less aggregate = bounded, exempt."""

    def sorts(df):
        return scale_violations(df).sorts

    df = spark.range(100).toDF("id")
    assert sorts(df.orderBy("id"))
    assert not sorts(df.orderBy("id").limit(5))
    assert not sorts(
        df.orderBy("id").limit(5).select((F.col("id") + 1).alias("x"))
    )
    one = df.groupBy().count()
    assert not sorts(one.orderBy("count"))
    # sortWithinPartitions is local, never flagged
    assert not sorts(df.sortWithinPartitions("id"))


def test_one_walk_reports_every_class(spark):
    """One plan holding all three scale-killers — an unbounded cross
    join, an empty-partition-spec window over it and a global sort on
    top — yields exactly one offender per class from a single walk."""
    from pyspark.sql import Window

    a = spark.range(100).toDF("x")
    b = spark.range(100).toDF("y")
    df = (
        a.crossJoin(b)
        .withColumn("r", F.row_number().over(Window.orderBy("x")))
        .orderBy("y")
    )
    found = scale_violations(df)
    assert [len(v) for v in found] == [1, 1, 1], found
