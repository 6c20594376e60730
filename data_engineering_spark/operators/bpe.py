"""BPE merge-pair induction — the inner counting step of tokenizer
training (Sennrich et al. 2016), Spark-first.

A BPE trainer repeats: count adjacent symbol pairs across the word
multiset, merge the most frequent pair, re-segment. The expensive part
at corpus scale is the COUNTING pass; the merge loop itself runs over
the distinct-word vocabulary, which is tiny next to the corpus. This
module implements that counting pass as two aggregations:

1. corpus → (word, freq): one corpus-sized shuffle, but the rows are
   single words and the reduction is a plain count — after this the
   working set is the VOCABULARY (≈ 10⁵–10⁷ rows at any corpus size,
   Heaps' law), not the corpus.
2. vocabulary → (pair, n_words, total): substring pairs per distinct
   word, weighted by word frequency. Quadratic only in word length
   (bounded), linear in vocabulary.

So a 100 TB corpus pays one word-count shuffle and then works on
megabytes. This is exactly why BPE training is feasible at all, and
the Spark plan mirrors it.

Beyond-reference surface (same extension family as operators/dsir.py);
the reference engine has no text operators.

Symbols here are ASCII characters (first trainer iteration): words are
pre-filtered to printable ASCII (`^[!-~]+$`) so that pair extraction by
code unit is identical across engines — Spark strings index by UTF-16
code units, DuckDB by codepoint, and astral text would silently
diverge (the same pitfall operators/curation.py documents for length).
Real trainers normalize/pre-tokenize similarly before byte- or
char-level BPE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.text import tokens
from data_engineering_spark.types.frames import local_frame

_ASCII_WORD = "^[!-~]+$"


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    ascii_only: bool = True,
) -> DataFrame:
    """(word, freq) over the whitespace-token multiset — aggregation 1
    of the BPE counting pass. The only corpus-sized shuffle."""
    w = docs.select(F.explode(tokens(text_col)).alias("word"))
    if ascii_only:
        w = w.filter(F.col("word").rlike(_ASCII_WORD))
    return w.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def bpe_pair_counts(
    vocab: DataFrame,
    word_col: str = "word",
    freq_col: str = "freq",
) -> DataFrame:
    """(pair, n_words, total): adjacent character pairs over the word
    multiset — the statistic a BPE trainer maximizes each merge round.

    `total` = Σ freq(word) · (occurrences of pair in word);
    `n_words` = distinct vocabulary words containing the pair.

    Words shorter than 2 chars carry no pairs and are filtered
    EXPLICITLY — sequence(1, length-1) with length=1 would be
    sequence(1, 0), which Spark evaluates as the DESCENDING [1, 0]
    (step defaults to -1), silently manufacturing a phantom pair.

    The pairs array is materialized in its own projection before the
    explode — exploding the transform(...) expression directly would
    re-evaluate it per output row (the generator trap
    ngram_jaccard_pairs documents with measurements).
    """
    pairs = vocab.filter(F.length(word_col) >= 2).select(
        F.col(word_col).alias("__w"),
        F.col(freq_col).alias("__f"),
        F.expr(
            f"transform(sequence(1, length({word_col}) - 1), "
            f"i -> substring({word_col}, i, 2))"
        ).alias("__ps"),
    )
    # a pair repeated inside one word ("abab" → "ab" twice) counts every
    # occurrence toward `total` but its word only once toward `n_words`.
    # explode_OUTER so no `size(__ps) > 0` filter is inferred — when
    # `vocab` is an aggregate keyed by the word, such a filter pushes
    # below it and re-evaluates the pair transform per corpus
    # occurrence (the bpe_encode_ids / wordpiece_piece_freq hazard);
    # __ps is never empty here (length >= 2 filter above).
    return (
        pairs.select("__w", "__f", F.explode_outer("__ps").alias("pair"))
        .groupBy("pair")
        .agg(
            F.count_distinct(F.col("__w")).cast("long").alias("n_words"),
            F.sum("__f").cast("long").alias("total"),
        )
    )


def bpe_top_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Top-k merge candidates: the end-to-end counting pass (corpus →
    word frequencies → pair counts → ordered head). Total order
    (total DESC, pair ASC) so the head is deterministic under ties —
    the repo-wide LIMIT policy (registry.py)."""
    counts = bpe_pair_counts(word_frequencies(docs, text_col))
    return counts.orderBy(F.desc("total"), F.asc("pair")).limit(k)


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    max_vocab_rows: int = 2_000_000,
    min_freq: int = 1,
    max_floor: int = 1 << 20,
) -> list[tuple[str, str]]:
    """Full BPE training: the ordered merge list, greedy by pair
    frequency (ties: lexicographically smallest pair — deterministic
    across runs and engines).

    Architecture (the standard one, stated honestly): the CORPUS pass
    is Spark — one word-count shuffle reduces 100 TB to its vocabulary
    — and the merge loop runs DRIVER-SIDE over that vocabulary.
    Heaps' law bounds the vocab at ~10⁵–10⁷ rows regardless of corpus
    size; `max_vocab_rows` ENFORCES the bound before collecting
    (probe with limit(N+1).count(), the same bounded-driver-work
    contract as operators/pq.py's query batches) instead of letting an
    un-tokenizable corpus melt the driver. Every real-world BPE trainer
    (sentencepiece, HF tokenizers) is this same shape: distributed
    count, local loop.

    `min_freq` drops words rarer than the floor before the bound check
    — the standard trainer pre-filter (freq-1 hapaxes dominate a raw
    crawl's vocabulary but contribute almost nothing to pair counts).
    When the vocabulary STILL exceeds `max_vocab_rows`, the floor
    auto-doubles (2, 4, 8, …) until it fits — graceful degradation on
    a raw 100 TB crawl instead of refusal (VERDICT r7 #2) — and only
    raises if a `max_floor` (default 2^20) floor still can't fit,
    which means the corpus is
    not natural text (adversarial/unique-token blowup) and training on
    it would be meaningless anyway. Each escalation is one more
    bounded count probe over the re-filtered word count; the default
    path (fits at min_freq=1) stays exactly one probe, and its merge
    list is byte-identical to the pre-filter implementation.

    Merge semantics per Sennrich et al. 2016: words are character
    sequences with no cross-word pairs; each round merges every
    non-overlapping occurrence of the most frequent adjacent symbol
    pair, left to right. Counts are weighted by word frequency. Stops
    early when no pair occurs twice.
    """
    return bpe_merge_loop(
        bounded_vocabulary(
            docs, text_col, max_vocab_rows, min_freq, max_floor
        ),
        num_merges,
    )


def bounded_vocabulary(
    docs: DataFrame,
    text_col: str = "text",
    max_vocab_rows: int = 2_000_000,
    min_freq: int = 1,
    max_floor: int = 1 << 20,
) -> list[tuple[str, int]]:
    """The (word, freq) vocabulary collected under the bounded-driver
    contract shared by every trainer in this package (bpe_train,
    wordpiece_train): a limit(N+1).count() probe enforces
    `max_vocab_rows` BEFORE collecting, and the `min_freq` floor
    auto-doubles until the vocabulary fits (graceful degradation on a
    raw crawl) up to `max_floor`, past which the corpus is declared
    non-text and the collect refused."""
    base = word_frequencies(docs, text_col)
    floor = max(int(min_freq), 1)
    vocab = base if floor == 1 else base.filter(F.col("freq") >= floor)
    while vocab.limit(max_vocab_rows + 1).count() > max_vocab_rows:
        if floor >= max_floor:
            raise ValueError(
                f"vocabulary exceeds max_vocab_rows={max_vocab_rows} "
                f"even at min_freq={floor}: the corpus is not natural "
                "text (unique-token blowup); raise the bound or fix "
                "the tokenization"
            )
        floor = max(2, floor * 2)
        vocab = base.filter(F.col("freq") >= floor)
    return [(r["word"], r["freq"]) for r in vocab.collect()]


def bpe_merge_loop(
    word_freqs: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """The driver-side greedy merge loop over an already-collected
    (word, freq) vocabulary — pure python, deterministic (ties break
    to the lexicographically smallest pair), so the oracle fixture
    seeder (queries/_fixtures.py, fed by a DuckDB word count) and
    `bpe_train` (fed by the Spark word count) produce IDENTICAL merge
    lists from identical vocabularies."""
    words: list[tuple[list[str], int]] = [
        (list(w), f) for w, f in word_freqs
    ]

    from collections import Counter, defaultdict

    def pair_counts_of(sym: list[str]):
        # non-overlapping occurrence counting happens at MERGE time;
        # for candidate selection plain adjacent counts are the
        # Sennrich formulation
        return Counter(zip(sym[:-1], sym[1:]))

    counts: Counter = Counter()
    index: defaultdict = defaultdict(set)  # pair -> word ids
    for wid, (sym, freq) in enumerate(words):
        for pr, c in pair_counts_of(sym).items():
            counts[pr] += c * freq
            index[pr].add(wid)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        for pr, c in counts.items():
            if c >= 2 and (
                best is None
                or c > counts[best]
                or (c == counts[best] and pr < best)
            ):
                best = pr
        if best is None:
            break
        merges.append(best)
        joined = best[0] + best[1]
        for wid in list(index[best]):
            sym, freq = words[wid]
            old = pair_counts_of(sym)
            new_sym: list[str] = []
            i = 0
            while i < len(sym):
                if (
                    i + 1 < len(sym)
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    new_sym.append(joined)
                    i += 2
                else:
                    new_sym.append(sym[i])
                    i += 1
            words[wid] = (new_sym, freq)
            new = pair_counts_of(new_sym)
            for pr in old.keys() | new.keys():
                d = new.get(pr, 0) - old.get(pr, 0)
                if d:
                    counts[pr] += d * freq
                    if counts[pr] <= 0:
                        del counts[pr]
                if new.get(pr, 0):
                    index[pr].add(wid)
                elif pr in index:
                    index[pr].discard(wid)
    return merges


# ---------------------------------------------------------------------------
# Encode / apply — turn a trained merge list into per-word and per-doc
# token counts, corpus-wide, with zero Python in the distributed plan.
# ---------------------------------------------------------------------------
#
# Representation trick: a word's current segmentation is one string in
# which every symbol is wrapped in \x01 sentinels ("he" →
# "\x01h\x01\x01e\x01").  Applying merge (a, b) is then a PLAIN string
# replace of "\x01a\x01\x01b\x01" with "\x01ab\x01" — and plain
# replace has identical left-to-right non-overlapping semantics in
# Spark (java String.replace) and DuckDB, which is exactly BPE's
# merge rule ("aaaa" merges to "aa","aa", not three overlapping "aa").
# The sentinel cannot occur in a word (words are pre-filtered to
# printable ASCII, same as training), so a pattern can never match
# across symbol boundaries, and the replacement string is derivable
# from the pattern by deleting the interior "\x01\x01" — both engines
# need only the pattern list.  The whole encode is therefore ONE
# JVM-side fold (aggregate) over the merge-pattern array, run on the
# DISTINCT-WORD vocabulary (Heaps-bounded), never on the corpus.

BPE_SENTINEL = "\x01"


def merge_patterns(merges: list[tuple[str, str]]) -> list[str]:
    """The trained (a, b) merge list as sentinel-wrapped replace
    patterns, in training order."""
    s = BPE_SENTINEL
    return [f"{s}{a}{s}{s}{b}{s}" for a, b in merges]


def bpe_segment_expr(word_col: str, patterns: list[str]):
    """Column: the word's final BPE segmentation as a sentinel-wrapped
    string — a fold of plain replaces over the merge patterns.

    Evaluate this on DISTINCT words only (see bpe_doc_token_counts):
    it is O(len(word) · num_merges) per row, cheap on a Heaps-bounded
    vocabulary and wasteful on the raw corpus."""
    s = BPE_SENTINEL
    seg0 = F.regexp_replace(F.col(word_col), "(.)", f"{s}$1{s}")
    if not patterns:
        return seg0
    parr = F.array(*[F.lit(p) for p in patterns])
    return F.aggregate(
        parr,
        seg0,
        lambda acc, p: F.replace(
            acc, p, F.replace(p, F.lit(s + s), F.lit(""))
        ),
    )


def bpe_encode_words(
    vocab: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
) -> DataFrame:
    """vocab + (bpe_tokens array<string>, n_bpe_tokens int): the final
    segmentation of each DISTINCT word under the trained merges.
    Non-printable-ASCII words (outside the training alphabet, same
    filter as word_frequencies) encode as a single unknown token."""
    s = BPE_SENTINEL
    seg = bpe_segment_expr(word_col, merge_patterns(merges))
    is_ascii = F.col(word_col).rlike(_ASCII_WORD)
    toks = F.split(
        F.expr(f"trim(BOTH '{s}' FROM __seg)"), s + s
    )
    n = (
        (F.length("__seg") - F.length(F.replace(F.col("__seg"), F.lit(s))))
        / 2
    ).cast("int")
    return (
        vocab.withColumn("__seg", F.when(is_ascii, seg))
        .withColumn(
            "bpe_tokens",
            F.when(is_ascii, toks).otherwise(
                F.array(F.col(word_col))
            ),
        )
        .withColumn(
            "n_bpe_tokens",
            F.when(is_ascii, n).otherwise(F.lit(1)),
        )
        .drop("__seg")
    )


def bpe_doc_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, n_words, n_bpe_tokens): real tokenized length of every
    document under the trained merge list — the number packing and
    token-budget math actually need (the regex pre-tokenizer proxy in
    q_doc_bpe_token_count over-counts merged subwords).

    Plan: corpus → (doc, word, c) one fixed-width shuffle; the encode
    fold runs on the DISTINCT-word side of a word-keyed aggregation
    (Heaps-bounded work no matter the corpus size); counts join back
    on `word` (AQE broadcasts the vocabulary when it fits, falls back
    to a shuffle join when a 10⁷-row vocab doesn't) and re-aggregate
    by document.  One corpus scan end to end; no Python anywhere.
    """
    occ = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("word")
    ).groupBy(id_col, "word").agg(
        F.count(F.lit(1)).alias("__c")
    )
    enc = bpe_encode_words(
        occ.select("word").distinct(), merges
    ).select("word", "n_bpe_tokens")
    per_doc = (
        occ.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_words"),
            F.sum(F.col("__c") * F.col("n_bpe_tokens"))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )
    # empty/whitespace docs have no words — still rows (0 tokens), the
    # same never-drop-unscorable contract as classifier scoring
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias(
                "n_bpe_tokens"
            ),
        )
    )


def patterns_to_merges(patterns: list[str]) -> list[tuple[str, str]]:
    """Inverse of merge_patterns — recover (a, b) from the stored
    sentinel-wrapped pattern (fixture round-trip)."""
    s = BPE_SENTINEL
    out = []
    for p in patterns:
        a, b = p[1:-1].split(s + s)
        out.append((a, b))
    return out


def bpe_vocab_ids(
    merges: list[tuple[str, str]],
) -> list[tuple[str, int]]:
    """The deterministic (token, id) vocabulary a trained merge list
    induces: id 0 = <unk> (anything outside the training alphabet),
    ids 1..94 = the printable-ASCII base symbols in codepoint order,
    ids 95.. = merged tokens in training order.  Pure function of the
    merge list, so both engines derive the identical mapping (merge
    token string = its pattern with the sentinels deleted).

    Two distinct merges can concatenate to the same token string
    (('ab','c') and ('a','bc') both -> 'abc'); bpe_train's greedy loop
    never emits such a pair (the second merge's pattern can no longer
    occur once the first exists), but the API accepts arbitrary merge
    lists, and a duplicated key here would fan out bpe_encode_ids's
    vocabulary join. First occurrence wins — the fold applies the
    earlier merge first, so the earlier id is the one a segmented
    token actually carries — leaving a hole at the later id, exactly
    mirrored by the oracle's mv CTE (GROUP BY tok, MIN(idx))."""
    vocab = [("<unk>", 0)]
    vocab += [(chr(c), 1 + c - 33) for c in range(33, 127)]
    seen: set[str] = set()
    for i, (a, b) in enumerate(merges):
        tok = a + b
        if tok in seen:
            continue
        seen.add(tok)
        vocab.append((tok, 95 + i))
    return vocab


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, wpos, tpos, token_id): the tokenized corpus as an
    integer id stream — what a training pipeline actually feeds the
    model.  (wpos, tpos) = (word position, token position within the
    word), a deterministic within-document order without any global
    sequence window.

    Plan: the segmentation fold runs once per DISTINCT word (Heaps-
    bounded); the ≤(94 + num_merges)-row id table broadcasts; the
    corpus pays its (doc, wpos, word) explode + the vocabulary join.
    Out-of-alphabet words emit one <unk> (id 0) — same never-drop
    contract as bpe_encode_words."""
    spark = docs.sparkSession
    tokw = docs.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("wpos", "word"),
    )
    # posexplode_OUTER, deliberately: a plain generate makes the
    # optimizer infer `size(bpe_tokens) > 0`, and because bpe_tokens
    # is a function of the grouping column alone PushDownPredicates
    # sinks that filter BELOW the distinct — re-running the whole
    # segmentation fold once per CORPUS OCCURRENCE instead of once
    # per distinct word (measured 7.6 s vs 1.9 s steady at sf0.1; the
    # same hazard wordpiece_piece_freq documents). No filter is
    # inferred for outer generates, and bpe_tokens is never empty
    # (>= 1 token, <unk> at worst), so the outer variant is identical.
    enc = bpe_encode_words(
        tokw.select("word").distinct(), merges
    ).select(
        "word",
        F.posexplode_outer("bpe_tokens").alias("tpos", "__tok"),
    )
    vocab_df = local_frame(
        spark, bpe_vocab_ids(merges), "__tok string, __tid int"
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
