"""Unigram-LM tokenizer — EM-trained piece probabilities and Viterbi
encoding (Kudo 2018; the SentencePiece unigram model), Spark-first.
The third tokenizer family next to BPE (operators/bpe.py) and
WordPiece (operators/wordpiece.py).

Algorithmic shape vs the siblings:

1. TRAINING fits a unigram language model over a substring-seeded
   piece inventory by EM: the E-step runs forward-backward over each
   word's segmentation lattice (expected piece counts, weighted by
   word frequency), the M-step renormalizes, and a pruning step keeps
   the pieces carrying the most expected mass (single characters are
   never pruned — every word must stay segmentable). EM is float
   arithmetic BY NATURE (posterior probabilities, log-sum-exp): this
   is the one tokenizer whose trainer cannot be integer-exact. The
   repo's oracle policy survives anyway — see (2).
2. The trained model is published as (piece, score) where score is
   the final log-probability QUANTIZED TO INTEGER NANO-NATS
   (round(log p · 1e9)). ENCODING is Viterbi: the segmentation
   maximizing the sum of piece scores — from the integer scores on,
   everything is exact int64 arithmetic, so the encode DP is
   hash-oracle-able cross-engine (DuckDB replays the identical DP as
   a recursive CTE). Ties break to the LONGER piece at each DP cell
   (struct-lexicographic (score, length) max in both engines).

Where exactness is achievable it is used (integer Viterbi, integer
per-doc score sums); where float EM forces shared-parameter trust,
the sharing is the same contract every model fixture in this repo
uses (queries/_fixtures.py): the seeder and `unigram_train` run the
SAME pure-python `unigram_em_loop` on the SAME sorted vocabulary, so
both sides read bit-identical parameters regardless of which wrote
first. tests/test_unigram.py additionally pins the EM numerics
(likelihood must not decrease across iterations; expected counts
match a from-scratch lattice recount).

Scale architecture is the family's: the corpus pays ONE word-count
shuffle; EM runs driver-side over the Heaps-bounded vocabulary
(enforced `bounded_vocabulary` probe + auto-doubling min_freq floor);
encoding is a single JVM `aggregate` fold (the Viterbi DP) over
DISTINCT words, joined back by word. Zero Python in the distributed
plan. Per distinct word the fold costs O(max_word_len ·
max_piece_len) map probes against a broadcast-literal score map —
with a production-sized (32k+) vocabulary, swap the literal map for a
broadcast join of (word, position, piece-candidate) against the piece
table; the DP shape is unchanged.

Beyond-reference surface (the reference engine has no text
operators); same extension family as operators/bpe.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.bpe import (
    _ASCII_WORD,
    bounded_vocabulary,
)
from data_engineering_spark.operators.text import tokens
from data_engineering_spark.types.frames import local_frame

UG_UNK = "[UNK]"
UG_MAX_WORD_LEN = 32  # same cap + [UNK] convention as WordPiece
UG_SCORE_SCALE = 1_000_000_000  # log-prob quantum: one nano-nat

# "unreachable" DP sentinel. NOT a NULL: Spark's higher-order
# `aggregate` coerces the accumulator to the zero expression's type,
# and a NULL element appended to the accumulator array inside the fold
# reads back as 0 through element_at (measured on 4.1: the null bit is
# lost in the accumulator exchange — tests/test_unigram.py pins the
# non-null contract instead). Reachable totals are bounded below by
# max_word_len · min_score ≈ -32·2e10 ≈ -6.4e11, eleven orders of
# magnitude above the -2^61 threshold, so no legitimate path can ever
# be mistaken for unreachable.
UG_NEG = -(1 << 62)
UG_NEG_THRESHOLD = -(1 << 61)


# ---------------------------------------------------------------------------
# Training (driver-side EM over the collected vocabulary)
# ---------------------------------------------------------------------------


def _logaddexp(a: float, b: float) -> float:
    if a == float("-inf"):
        return b
    if b == float("-inf"):
        return a
    hi, lo = (a, b) if a >= b else (b, a)
    return hi + math.log1p(math.exp(lo - hi))


def _lattice_estep(
    wf: list[tuple[str, int]],
    logp: dict[str, float],
    max_piece_len: int,
) -> tuple[dict[str, float], float]:
    """Forward-backward over every word's segmentation lattice:
    (expected piece counts weighted by word freq, total corpus
    log-likelihood). Deterministic: `wf` is sorted, positions and
    piece lengths iterate ascending, so float accumulation order is
    fixed."""
    exp: dict[str, float] = {p: 0.0 for p in logp}
    total_ll = 0.0
    neg_inf = float("-inf")
    for w, f in wf:
        n = len(w)
        alpha = [neg_inf] * (n + 1)
        alpha[0] = 0.0
        for i in range(1, n + 1):
            acc = neg_inf
            for piece_len in range(1, min(max_piece_len, i) + 1):
                p = w[i - piece_len : i]
                lp = logp.get(p)
                if lp is not None and alpha[i - piece_len] != neg_inf:
                    acc = _logaddexp(acc, alpha[i - piece_len] + lp)
            alpha[i] = acc
        z = alpha[n]
        if z == neg_inf:
            continue  # unsegmentable word (char outside inventory)
        total_ll += f * z
        beta = [neg_inf] * (n + 1)
        beta[n] = 0.0
        for i in range(n - 1, -1, -1):
            acc = neg_inf
            for piece_len in range(1, min(max_piece_len, n - i) + 1):
                p = w[i : i + piece_len]
                lp = logp.get(p)
                if lp is not None and beta[i + piece_len] != neg_inf:
                    acc = _logaddexp(acc, lp + beta[i + piece_len])
            beta[i] = acc
        for i in range(n):
            if alpha[i] == neg_inf:
                continue
            for piece_len in range(1, min(max_piece_len, n - i) + 1):
                p = w[i : i + piece_len]
                lp = logp.get(p)
                if lp is not None and beta[i + piece_len] != neg_inf:
                    exp[p] += f * math.exp(
                        alpha[i] + lp + beta[i + piece_len] - z
                    )
    return exp, total_ll


def _mstep(exp: dict[str, float]) -> dict[str, float]:
    """Renormalize expected counts into log-probs, flooring vanished
    pieces at 1e-12 of the mass so log() stays finite (they are pruned
    at the next selection anyway). Iteration over sorted keys keeps
    the float sum order-deterministic."""
    total = 0.0
    for p in sorted(exp):
        total += exp[p]
    if total <= 0.0:
        raise ValueError(
            "zero total expected mass — the corpus has no segmentable "
            "words under the current piece inventory (empty corpus, or "
            "every word exceeds max_piece_len coverage)"
        )
    floor = total * 1e-12
    return {
        p: math.log(max(exp[p], floor)) - math.log(total) for p in exp
    }


def unigram_em_loop(
    word_freqs: list[tuple[str, int]],
    vocab_size: int = 48,
    max_piece_len: int = 4,
    em_iters: int = 2,
    seed_multiplier: int = 4,
) -> list[tuple[str, int]]:
    """The driver-side unigram-LM trainer — pure python,
    deterministic, shared verbatim by `unigram_train` (fed by the
    Spark word count) and the oracle fixture seeder (fed by a DuckDB
    word count), so both produce IDENTICAL (piece, score) models from
    identical vocabularies (the bpe_merge_loop contract).

    Seed inventory: every single character (never pruned) plus the
    top `seed_multiplier * vocab_size` multi-character substrings up
    to `max_piece_len` by (freq-weighted count · length, piece ASC).
    Then `em_iters` EM sweeps on the seed, one prune to `vocab_size`
    by (expected count DESC, piece ASC), and `em_iters` final sweeps.

    Returns [(piece, score_int)] sorted by piece, where score_int is
    the final log-probability in integer nano-nats — the exact-
    arithmetic currency of the Viterbi encoder and its SQL oracle."""
    wf = sorted((w, int(f)) for w, f in word_freqs)
    if not wf:
        raise ValueError(
            "empty word_freqs — unigram training needs at least one "
            "word (did the corpus filter remove everything?)"
        )
    counts: dict[str, int] = {}
    for w, f in wf:
        n = len(w)
        for i in range(n):
            for piece_len in range(1, min(max_piece_len, n - i) + 1):
                p = w[i : i + piece_len]
                counts[p] = counts.get(p, 0) + f
    singles = sorted({c for w, _ in wf for c in w})
    multis = sorted(
        (p for p in counts if len(p) > 1),
        key=lambda p: (-counts[p] * len(p), p),
    )
    n_seed_multi = max(0, seed_multiplier * vocab_size - len(singles))
    pieces = sorted(singles + multis[:n_seed_multi])

    logp = _mstep({p: float(counts[p]) for p in pieces})
    for _ in range(em_iters):
        exp, _ = _lattice_estep(wf, logp, max_piece_len)
        logp = _mstep(exp)

    # prune to the target size: singles always survive; multis by
    # expected mass under the fitted model
    exp, _ = _lattice_estep(wf, logp, max_piece_len)
    keep_multi = sorted(
        (p for p in logp if len(p) > 1),
        key=lambda p: (-exp[p], p),
    )[: max(0, vocab_size - len(singles))]
    kept = sorted(singles + keep_multi)
    logp = _mstep({p: max(exp[p], 0.0) for p in kept})
    for _ in range(em_iters):
        exp, _ = _lattice_estep(wf, logp, max_piece_len)
        logp = _mstep(exp)

    return [
        (p, int(math.floor(logp[p] * UG_SCORE_SCALE + 0.5)))
        for p in sorted(logp)
    ]


def unigram_train(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 48,
    max_piece_len: int = 4,
    max_vocab_rows: int = 2_000_000,
    min_freq: int = 1,
    max_floor: int = 1 << 20,
) -> list[tuple[str, int]]:
    """Full unigram-LM training: one Spark word-count shuffle reduces
    the corpus to its vocabulary (bounded collect —
    operators/bpe.bounded_vocabulary), then the EM loop runs
    driver-side. Returns [(piece, score_int)] sorted by piece."""
    return unigram_em_loop(
        bounded_vocabulary(
            docs, text_col, max_vocab_rows, min_freq, max_floor
        ),
        vocab_size=vocab_size,
        max_piece_len=max_piece_len,
    )


# ---------------------------------------------------------------------------
# Encoding (Viterbi DP as one JVM fold over distinct words)
# ---------------------------------------------------------------------------


def unigram_viterbi_py(
    word: str, scores: dict[str, int], max_piece_len: int
) -> tuple[list[str], int] | None:
    """Reference Viterbi on one word (test model + docs): best
    segmentation by (total score DESC, longer-piece-at-each-cell) —
    the exact tie-break the JVM fold and the SQL oracle implement.
    None = unsegmentable."""
    n = len(word)
    best: list[int | None] = [None] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0
    for i in range(1, n + 1):
        pick = None
        for piece_len in range(1, min(max_piece_len, i) + 1):
            s = scores.get(word[i - piece_len : i])
            prev = best[i - piece_len]
            if s is not None and prev is not None:
                cand = (prev + s, piece_len)
                if pick is None or cand > pick:
                    pick = cand
        if pick is not None:
            best[i], back[i] = pick
    if best[n] is None:
        return None
    toks: list[str] = []
    pos = n
    while pos > 0:
        piece_len = back[pos]
        toks.append(word[pos - piece_len : pos])
        pos -= piece_len
    return toks[::-1], best[n]


def unigram_encode_words(
    vocab: DataFrame,
    piece_scores: list[tuple[str, int]],
    word_col: str = "word",
    max_word_len: int = UG_MAX_WORD_LEN,
) -> DataFrame:
    """vocab + (ug_tokens array<string>, n_ug_tokens int, is_unk
    boolean, ug_score bigint): Viterbi-optimal unigram segmentation of
    each DISTINCT word — one JVM `aggregate` fold running the DP, a
    second reconstructing the argmax path, no Python.

    DP state is struct(best array<bigint>, back array<int>), 1-indexed
    by position+1 with best[1]=0 for the empty prefix and UG_NEG as
    the unreachable sentinel (never NULL — see the UG_NEG note). Step
    i fills position i: among piece lengths l=1..min(i, max_piece_len)
    whose piece substr(word, i-l+1, l) is in the score map AND whose
    predecessor best[i-l+1] is reachable, pick the struct-max of
    (best[i-l+1] + score, l) — ties to the longer piece, matching the
    SQL oracle's list_max over the same struct. A word that is
    non-printable-ASCII, longer than `max_word_len`, or unreachable at
    its last position (a character outside the piece inventory)
    encodes as [[UNK]] with is_unk=true and a NULL score."""
    if not piece_scores:
        raise ValueError("empty piece inventory")
    bad = [p for p, _ in piece_scores if p == ""]
    if bad:
        raise ValueError(
            "empty-string piece in the inventory — every piece must "
            "consume at least one character"
        )
    seen: set[str] = set()
    dups = sorted(
        {p for p, _ in piece_scores if p in seen or seen.add(p)}
    )
    if dups:
        # F.create_map would otherwise fail at runtime with Spark's
        # opaque DUPLICATED_MAP_KEY (mapKeyDedupPolicy=EXCEPTION)
        raise ValueError(f"duplicate pieces in the inventory: {dups}")
    max_piece_len = max(len(p) for p, _ in piece_scores)
    map_args: list = []
    for p, s in sorted(piece_scores):
        map_args += [F.lit(p), F.lit(int(s))]
    smap = F.create_map(*map_args)
    w = F.col(word_col)
    neg = F.lit(UG_NEG).cast("bigint")
    reach = F.lit(UG_NEG_THRESHOLD).cast("bigint")

    def dp_step(acc, i):
        best, back = acc["best"], acc["back"]

        def cand(piece_len):
            prev = F.element_at(best, (i - piece_len + 1).cast("int"))
            s = F.try_element_at(
                smap, w.substr(i - piece_len + 1, piece_len)
            )
            return F.struct(
                F.when(prev > reach, prev + s).alias("s"),
                piece_len.cast("int").alias("l"),
            )

        pick = F.array_max(
            F.filter(
                F.transform(
                    F.sequence(
                        F.lit(1), F.least(i, F.lit(max_piece_len))
                    ),
                    cand,
                ),
                lambda c: c["s"].isNotNull(),
            )
        )
        return F.when(i > F.length(w), acc).otherwise(
            F.struct(
                F.concat(
                    best, F.array(F.coalesce(pick["s"], neg))
                ).alias("best"),
                F.concat(
                    back,
                    F.array(F.coalesce(pick["l"], F.lit(0)).cast("int")),
                ).alias("back"),
            )
        )

    dp_init = F.struct(
        F.array(F.lit(0).cast("bigint")).alias("best"),
        F.array(F.lit(0).cast("int")).alias("back"),
    )
    dp = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_word_len)), dp_init, dp_step
    )

    eligible = w.rlike(_ASCII_WORD) & (F.length(w) <= max_word_len)

    def walk_step(acc, _):
        pos, toks = acc["pos"], acc["toks"]
        piece_len = F.element_at(F.col("__dp")["back"], pos + 1)
        tok = w.substr(pos - piece_len + 1, piece_len)
        return F.when((pos <= 0) | (piece_len <= 0), acc).otherwise(
            F.struct(
                (pos - piece_len).alias("pos"),
                F.concat(F.array(tok), toks).alias("toks"),
            )
        )

    walk_init = F.struct(
        F.length(w).alias("pos"),
        F.array().cast("array<string>").alias("toks"),
    )
    walk = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_word_len)), walk_init, walk_step
    )

    return (
        vocab.withColumn("__dp", F.when(eligible, dp))
        .withColumn(
            "__sc",
            F.try_element_at(F.col("__dp")["best"], F.length(w) + 1),
        )
        .withColumn(
            "__unk",
            ~eligible
            | F.col("__sc").isNull()
            | (F.col("__sc") <= reach),
        )
        .withColumn(
            "ug_tokens",
            F.when(F.col("__unk"), F.array(F.lit(UG_UNK))).otherwise(
                walk["toks"]
            ),
        )
        .withColumn("n_ug_tokens", F.size("ug_tokens"))
        .withColumn("is_unk", F.col("__unk"))
        .withColumn(
            "ug_score",
            F.when(~F.col("__unk"), F.col("__sc")).cast("bigint"),
        )
        .drop("__dp", "__sc", "__unk")
    )


def unigram_doc_stats(
    docs: DataFrame,
    piece_scores: list[tuple[str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = UG_MAX_WORD_LEN,
) -> DataFrame:
    """(id_col, n_words, n_ug_tokens, n_unk_words, ug_score_sum): real
    unigram-LM tokenized length, [UNK] incidence, and the EXACT
    integer Viterbi score mass of every document (the unigram twin of
    wordpiece_doc_stats — ug_score_sum is the quantity a SentencePiece
    user reads as per-doc log-likelihood, here an exact int64 sum so
    it hash-oracles). [UNK] words contribute no score (NULL-skipped in
    both engines); all-unk/empty docs carry a zero sum.

    Plan shape: corpus -> (doc, word, c) one fixed-width shuffle; the
    Viterbi fold runs on the DISTINCT-word side; counts join back on
    `word` and re-aggregate by document."""
    occ = (
        docs.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("word")
        )
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    enc = unigram_encode_words(
        occ.select("word").distinct(),
        piece_scores,
        max_word_len=max_word_len,
    ).select("word", "n_ug_tokens", "is_unk", "ug_score")
    per_doc = (
        occ.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_words"),
            F.sum(F.col("__c") * F.col("n_ug_tokens"))
            .cast("long")
            .alias("n_ug_tokens"),
            F.sum(F.col("__c") * F.col("is_unk").cast("long"))
            .cast("long")
            .alias("n_unk_words"),
            F.sum(F.col("__c") * F.col("ug_score"))
            .cast("long")
            .alias("__ssum"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_ug_tokens", F.lit(0)).alias("n_ug_tokens"),
            F.coalesce("n_unk_words", F.lit(0)).alias("n_unk_words"),
            F.coalesce("__ssum", F.lit(0)).alias("ug_score_sum"),
        )
    )


def unigram_vocab_ids(
    piece_scores: list[tuple[str, int]],
) -> list[tuple[str, int]]:
    """The deterministic (token, id) vocabulary a trained unigram
    model induces: id 0 = [UNK], ids 1.. = pieces in piece-string
    order. Pure function of the model, so both engines derive the
    identical mapping (the oracle's ROW_NUMBER() OVER (ORDER BY
    piece))."""
    return [(UG_UNK, 0)] + [
        (p, i + 1) for i, (p, _) in enumerate(sorted(piece_scores))
    ]


def unigram_encode_ids(
    docs: DataFrame,
    piece_scores: list[tuple[str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = UG_MAX_WORD_LEN,
) -> DataFrame:
    """(id_col, wpos, tpos, token_id): the Viterbi-tokenized corpus as
    an integer id stream — the unigram twin of bpe_encode_ids, what a
    training pipeline feeds the model. (wpos, tpos) = (word position,
    token position within the word): a deterministic within-document
    order with no global sequence window.

    Plan: the Viterbi fold runs once per DISTINCT word; the
    vocabulary-sized id table broadcasts; the corpus pays its
    (doc, wpos, word) explode + the word join. [UNK] carries id 0 —
    same never-drop contract as unigram_encode_words."""
    spark = docs.sparkSession
    tokw = docs.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("wpos", "word"),
    )
    # posexplode_OUTER: same InferFiltersFromGenerate hazard note as
    # unigram_piece_freq — ug_tokens is never empty ([UNK] at worst)
    enc = unigram_encode_words(
        tokw.select("word").distinct(),
        piece_scores,
        max_word_len=max_word_len,
    ).select(
        "word", F.posexplode_outer("ug_tokens").alias("tpos", "__tok")
    )
    vocab_df = local_frame(
        spark, unigram_vocab_ids(piece_scores), "__tok string, __tid int"
    )
    word_ids = enc.join(F.broadcast(vocab_df), "__tok", "left").select(
        "word",
        "tpos",
        F.coalesce("__tid", F.lit(0)).alias("token_id"),
    )
    return tokw.join(word_ids, "word").select(
        id_col,
        F.col("wpos").cast("int"),
        F.col("tpos").cast("int"),
        "token_id",
    )


def unigram_piece_freq(
    docs: DataFrame,
    piece_scores: list[tuple[str, int]],
    text_col: str = "text",
    k: int = 100,
    max_word_len: int = UG_MAX_WORD_LEN,
) -> DataFrame:
    """Top-k (piece, n_words, total) over the corpus token multiset
    under the trained unigram model — the fertility table for the
    third tokenizer family. Total order (total DESC, piece ASC).

    explode_OUTER, deliberately: ug_tokens is a function of the
    grouping column alone, so a plain explode would let
    InferFiltersFromGenerate sink a size()>0 filter below the word
    aggregate and re-run the Viterbi fold per corpus occurrence (the
    measured 169x WordPiece scale-killer, operators/wordpiece.py:390);
    the arrays are never empty ([UNK] at worst)."""
    wf = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    enc = unigram_encode_words(
        wf, piece_scores, max_word_len=max_word_len
    ).select("word", "freq", "ug_tokens")
    return (
        enc.select(
            "word", "freq", F.explode_outer("ug_tokens").alias("piece")
        )
        .groupBy("piece")
        .agg(
            F.count_distinct("word").cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("total"),
        )
        .orderBy(F.desc("total"), F.asc("piece"))
        .limit(k)
    )
