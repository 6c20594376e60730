"""Text-analysis operators over document tables (SURVEY.md §2.11).

All pure-JVM column expressions (no Python UDFs): tokenization via
`split`, shingling via `transform` over index sequences, counting via
`size`/`filter`. Designed so the only shuffles are the final group-bys /
inverted-index joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.materialize import CacheScope

# small multilingual stopword sample — enough for quality ratios and a
# deterministic language heuristic; swap for a real list in production.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "de", "et", "que"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; `trim` first so edges don't yield empty
    tokens (mirrors DuckDB string_split_regex on trimmed text). Fully
    empty/whitespace text is the one case split can't cover — it
    returns [''] (size 1), a phantom token that would flow into every
    count/filter/n-gram consumer — so it maps to an empty array
    explicitly. (DuckDB's string_split_regex shares the [''] quirk;
    an oracle over a corpus WITH empty docs needs the same CASE guard.
    The test corpora contain none, verified.) NULL stays NULL."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_count(col: Column | str, words: list[str]) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words)))


def punct_count(col: Column | str, klass: str = r"[^.!?,;]") -> Column:
    """Punctuation chars = length after deleting everything else."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, klass, ""))


def shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* token-array
    column.

    IMPORTANT: `toks` must be a column reference, not the `split(...)`
    expression itself — codegen re-evaluates a non-aliased expression at
    every `element_at` call inside the lambda, turning shingling
    quadratic in document length (measured 4× end-to-end slowdown on the
    near-dup pipeline). Project the token array first; then each access
    is O(1).

    Documents shorter than `n` tokens yield an empty array (guarded —
    `sequence` with start > stop would generate a descending range).
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


def shingled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    out_col: str = "sh",
) -> DataFrame:
    """(id, shingle-set) projection with the token array materialized in
    its own select so shingle construction is linear (see
    shingles_from_tokens)."""
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .select(
            F.col(id_col), shingles_from_tokens("__toks", n).alias(out_col)
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    prefix_filter: bool = True,
    release_cache: bool = False,
    verify: str = "sets",
) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs, scalable formulation.

    ``verify`` picks the exact-verification layout (same answer):
    "sets" (default) collects each document's distinct shingles into
    one array row and intersects candidate pairs with array_intersect
    — fastest at ordinary document sizes, but a single row must hold a
    whole document's shingle set, so executor memory bounds document
    size (~10⁶ shingles). "join" never materializes a per-document
    array: the pair×shingle equi-join counts common shingles with
    rows no wider than one shingle, so document size is unbounded —
    the long-document escape hatch for web-scale corpora with
    book/code outliers (costs one extra shuffle of candidate×shingle
    rows; candidates are few post-prefix-filter by construction).

    ``release_cache=True`` eagerly materializes the (small) verified
    pairs via localCheckpoint and unpersists the intermediate caches
    before returning — for long-lived sessions that call this
    repeatedly and must not accumulate cached blocks. Default False:
    the plan stays lazy and the persists are LRU-evicted by the block
    manager (measured: the eager materialization costs a full extra
    pass, so the default favors one-shot pipelines).

    Naive inverted-index pair counting costs Σ (docs-per-shingle)² — hot
    shingles (small vocabularies, boilerplate) blow it up. We use the
    AllPairs/PPJoin *prefix filter*, which is exact:

      order every doc's shingle set by a global total order (ascending
      document frequency, tie-broken by shingle); if Jaccard(A,B) >= t,
      then the first |A| - ceil(t*|A|) + 1 shingles of A and of B must
      intersect. So only those prefixes are indexed for the candidate
      join — rare shingles first, so hot shingles almost never enter the
      index. Candidates are then verified exactly with array_intersect
      plus the length bound t*|A| <= |B|.

    Stages (all shuffle-on-key, no driver loops): shingle → document
    frequency (one agg) → per-doc rank window → prefix join → verify.
    Output: (doc_a, doc_b, common, jaccard_r).
    """
    # Shingles are built on ROWS (posexplode tokens → lead() window →
    # concat), never by exploding a precomputed shingle array: codegen
    # re-evaluates a generator's child expression per OUTPUT row, which
    # turned explode(shingle_array_expr) quadratic (measured 15s vs 1s on
    # 5k docs; projection barriers get collapsed through). Every
    # expression here is linear and the generator child is a cheap
    # split().
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
        .filter(F.col("__last").isNotNull())  # drop incomplete tail grams
        .select("doc", "g")
    )
    if verify not in ("sets", "join"):
        raise ValueError(f"verify must be 'sets' or 'join': {verify!r}")
    with CacheScope(release_cache) as scope:
        if verify == "sets":
            # ONE aggregation builds the per-doc distinct shingle SET: the
            # window above already hash-partitioned rows by doc, so
            # collect_set adds no shuffle, sizes come free as size(sh), and
            # the SAME frame serves candidate generation (exploded) and
            # exact verification (as-is) — the old shape paid a (doc,g)
            # distinct shuffle, a sizes aggregation + join, AND a second
            # collect_list aggregation for verify. Persisted: set bytes ≈
            # corpus text bytes, MEMORY_AND_DISK spills instead of OOMing
            # at scale.
            docsets = scope.persist(
                grams.groupBy("doc")
                .agg(F.collect_set("g").alias("sh"))
                .withColumn("n_sh", F.size("sh"))
            )
            inv = docsets.select("doc", "n_sh", F.explode("sh").alias("g"))
        else:
            # row-bounded layout: distinct (doc, shingle) rows with the doc
            # size as an unordered analytic count — the shingle window
            # above already partitioned by doc, and no row ever holds more
            # than one shingle, so a 10⁸-shingle document is just 10⁸ rows
            # spread across tasks instead of one giant array cell.
            docsets = None
            inv = scope.persist(
                grams.distinct().withColumn(
                    "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc"))
                )
            )

        if not prefix_filter:
            a = inv.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"), "g")
            b = inv.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"), "g")
            pairs = (
                a.join(b, ["g"])
                .filter(F.col("doc_a") < F.col("doc_b"))
                .groupBy("doc_a", "doc_b", "na", "nb")
                .agg(F.count(F.lit(1)).alias("common"))
            )
            jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
            return scope.result(
                pairs.withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= threshold)
                .select(
                    "doc_a", "doc_b",
                    F.col("common").cast("long").alias("common"),
                    # raw int/int division is bit-identical across engines;
                    # re-rounding it would reintroduce boundary divergence
                    F.col("jaccard").alias("jaccard_r"),
                )
            )

        # Full PPJoin (Xiao et al.): rank shingles by ascending document
        # frequency (rarest first — hot shingles almost never enter a
        # prefix), then generate candidates from a prefix self-join with
        # THREE exact filters stacked:
        #   probe prefix   |B| - ceil(t·|B|) + 1      (classic AllPairs)
        #   index prefix   |A| - ceil(2t/(1+t)·|A|) + 1 on the SMALLER side
        #                  — shorter, valid because overlap ≥ t/(1+t)(na+nb)
        #   position filter 1 + min(na-pa, nb-pb) ≥ ceil(t/(1+t)·(na+nb))
        #                  — the first common shingle always satisfies it,
        #                  so no pair is lost; late-prefix coincidences are.
        # (Float note: every coefficient is ≤ its real value, so each ceil
        # can only under-shoot — prefixes get longer, bounds looser: errors
        # ADD candidates, never drop a true pair.)
        # Measured at sf0.1 (5k docs): candidates 193k → 54k, end-to-end
        # 4.8 s → 2.1 s cold-cache.
        freq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        ranked = inv.join(freq, "g").withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(F.asc("df"), F.asc("g"))
            ),
        )
        probe_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        mid_len = (
            F.col("n_sh")
            - F.ceil(F.lit(2.0 * threshold / (1.0 + threshold)) * F.col("n_sh"))
            + 1
        )
        probe = ranked.filter(F.col("rn") <= probe_len)
        a = probe.filter(F.col("rn") <= mid_len).select(
            F.col("doc").alias("doc_a"),
            F.col("n_sh").alias("na"),
            F.col("rn").alias("pa"),
            "g",
        )
        b = probe.select(
            F.col("doc").alias("doc_b"),
            F.col("n_sh").alias("nb"),
            F.col("rn").alias("pb"),
            "g",
        )
        o_min = F.ceil(
            F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb"))
        )
        cands = (
            a.join(b, ["g"])
            .filter(
                # orientation: A is the smaller set (ties: smaller id) —
                # that is what licenses A's shorter index prefix
                (
                    (F.col("na") < F.col("nb"))
                    | ((F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b")))
                )
                # length bound: t·|B| ≤ |A| is necessary for jac ≥ t
                & (F.col("nb") * F.lit(threshold) <= F.col("na"))
                # position filter
                & (
                    F.lit(1)
                    + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
                    >= o_min
                )
            )
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
            .distinct()
        )
        # candidate pairs feed the two verify joins; persist so the
        # prefix-join subtree runs once. Candidate sets are small by
        # construction (that is the whole point of the prefix filter).
        cands = scope.persist(cands)

        if verify == "sets":
            # verify: exact intersection of the persisted shingle sets —
            # two hash joins against docsets (AQE broadcasts the small
            # side), no re-aggregation.
            sa = docsets.select(
                F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")
            )
            sb = docsets.select(
                F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")
            )
            verified = (
                cands.join(sa, "doc_a")
                .join(sb, "doc_b")
                .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn(
                    "jaccard",
                    F.col("common")
                    / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
                )
                .filter(F.col("jaccard") >= threshold)
            )
        else:
            # verify: count common shingles through the pair×shingle
            # equi-join — every candidate pair shares at least its joining
            # prefix shingle, so no true pair can vanish from the groupBy.
            ia = inv.select(
                F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"), "g"
            )
            ib = inv.select(
                F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"), "g"
            )
            verified = (
                cands.join(ia, "doc_a")
                .join(ib, ["doc_b", "g"])
                .groupBy("doc_a", "doc_b", "na", "nb")
                .agg(F.count(F.lit(1)).alias("common"))
                .withColumn(
                    "jaccard",
                    F.col("common")
                    / (F.col("na") + F.col("nb") - F.col("common")),
                )
                .filter(F.col("jaccard") >= threshold)
            )
        result = verified.select(
            "doc_a",
            "doc_b",
            F.col("common").cast("long").alias("common"),
            # raw int/int division is bit-identical across engines;
            # re-rounding it would reintroduce boundary divergence
            F.col("jaccard").alias("jaccard_r"),
        )
        return scope.result(result)


def language_score(col: Column | str, lang: str) -> Column:
    """Deterministic stopword-hit score for one language (language-ID
    heuristic building block): fraction of tokens that are stopwords."""
    words = STOPWORDS[lang]
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def guess_language(col: Column | str) -> Column:
    """argmax over language_score; 'und' when no stopwords hit at all."""
    c = F.col(col) if isinstance(col, str) else col
    scores = F.array(*[
        F.struct(
            language_score(c, lang).alias("score"), F.lit(lang).alias("lang")
        )
        for lang in sorted(STOPWORDS)
    ])
    best = F.array_max(scores)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def simhash64(shingle_col: Column | str) -> Column:
    """64-bit SimHash over a materialized shingle-array column, pure JVM
    expressions (pass output of `shingled()` — see shingles_from_tokens
    for why the array must be materialized).

    Each shingle's xxhash64 votes its bits; the fingerprint's bit i is 1
    when the majority of shingles have bit i set. Near-duplicates then
    reduce to small-Hamming-distance fingerprint pairs, which at scale are
    found by banding the 64 bits into chunks and equi-joining (same
    inverted-index trick as MinHash-LSH but on bit-bands).
    """
    sh = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    cnt = F.size(sh)

    def bit_vote(i: int) -> Column:
        ones = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int"),
        )
        return F.when(ones * 2 >= cnt, F.lit(1)).otherwise(F.lit(0))

    fp = F.lit(0).cast("long")
    for i in range(64):
        fp = fp + (bit_vote(i).cast("long") * F.lit(2 ** i if i < 63 else -(2 ** 63)).cast("long"))
    # empty shingle set: every majority vote is vacuously true
    # (0*2 >= 0), which would collapse ALL short documents onto the
    # fingerprint -1 and bucket them as mutual near-dups. NULL instead:
    # equi-joins on bands skip NULL, so shingle-less docs simply don't
    # participate (the portable variant filters size(sh) > 0 upstream
    # for the same reason).
    return F.when(cnt > 0, fp)


def simhash_portable_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bits: int = 60,
) -> DataFrame:
    """(id, simhash) fingerprints whose per-shingle hash is the first 15
    hex chars of md5 — 60 bits, computable bit-identically in any engine
    with md5 (DuckDB oracle parity), unlike xxhash64's Spark-only seed.
    Use `simhash64` when raw throughput matters more than cross-engine
    verifiability (xxhash64 is one JVM intrinsic vs md5's digest).

    Docs with fewer than `n` tokens have no shingles and are excluded
    (an empty vote set would degenerately emit all-ones fingerprints).

    The hash array is materialized in its own projection before the 60
    bit-vote aggregates: each vote references the array column, and a
    non-materialized transform() expression would be re-evaluated (60×
    md5 per shingle) by codegen.
    """
    sh = shingled(df, id_col, text_col, n).filter(F.size("sh") > 0)
    hv = F.transform(
        "sh",
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    hashed = sh.select(
        F.col(id_col), hv.alias("hv"), F.size("sh").alias("cnt")
    )

    def bit_vote(i: int) -> Column:
        ones = F.aggregate(
            F.col("hv"),
            F.lit(0),
            lambda acc, h: acc
            + F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int"),
        )
        return F.when(ones * 2 >= F.col("cnt"), F.lit(1)).otherwise(F.lit(0))

    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp + bit_vote(i).cast("long") * F.lit(2 ** i).cast("long")
    return hashed.select(F.col(id_col), fp.alias("simhash"))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 100,
    overlap: int = 10,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the LLM
    context-packing primitive. Chunk i covers tokens
    ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``; the last chunk is however many
    tokens remain. Documents at most `chunk_tokens` long yield exactly
    one chunk.

    Output: (id, chunk_idx, n_tokens, chunk_text).

    Scale: no shuffle at all — tokenize, a generator over a cheap int
    sequence (chunk indices), and a slice+join projection, all inside
    the scan stage. The token array is materialized in its own
    projection first so the per-chunk slice is O(chunk), not a re-split
    of the text (see shingles_from_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    base = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    n_chunks = F.when(F.col("__n") <= chunk_tokens, F.lit(1)).otherwise(
        F.expr(
            f"((__n - {chunk_tokens} + {stride - 1}) div {stride}) + 1"
        ).cast("int")
    )
    chunks = base.withColumn("__nc", n_chunks).select(
        id_col,
        "__toks",
        "__n",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * stride
    piece = F.slice(F.col("__toks"), start + 1, chunk_tokens)
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.least(
            F.lit(chunk_tokens), F.col("__n") - start
        ).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pack_chunks(
    chunks: DataFrame,
    budget_tokens: int,
    partition_cols: Sequence[str] = ("doc_id",),
    order_cols: Sequence[str] = ("chunk_idx",),
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Assign chunks to fixed token-budget bins (the sequence-packing
    step that turns chunks into training examples): within each
    partition, walk chunks in order and start a new bin whenever the
    running token total would exceed `budget_tokens`.

    Greedy next-fit packing, made distributed by packing WITHIN a
    partition key (doc, language, shard...) — a single global packing
    order would serialize on one partition at 100 TB. Emits `pack_id`
    (0-based per partition) and `pack_pos` (position in the bin).

    Exact greedy next-fit needs sequential state; this uses the
    closed-form equivalent for the common case chunk<=budget: bin
    boundary = floor(cumulative_prior_tokens / budget) changes. That
    admits up-to-budget overflow per bin relative to strict next-fit
    (documented; strict semantics need applyInPandas sequential state,
    a one-line swap).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    out = chunks.withColumn(
        "pack_id", F.floor(prior / budget_tokens).cast("int")
    )
    wp = Window.partitionBy(*partition_cols, "pack_id").orderBy(*order_cols)
    return out.withColumn(
        "pack_pos", (F.row_number().over(wp) - 1).cast("int")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (the MOSS scheme): hash every positional
    word n-gram, slide a `window`-gram window, select each window's
    minimum hash, keep the distinct selections per document. Guarantees
    any shared run of >= n+window-1 words between two documents shares
    at least one fingerprint — robust containment/plagiarism detection
    at a fraction of the full shingle set's size.

    Per-gram hashes are md5-derived (engine-portable, see
    simhash_portable_fingerprints). Output: (id, fp) distinct pairs.

    Scale: one shuffle on the doc id for the position window; the
    fingerprint set is ~2/(window+1) of the gram count, so downstream
    inverted-index joins shrink accordingly.
    """
    from pyspark.sql import Window as W

    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at("__toks", i + j) for j in range(n)]
    )
    idx = F.sequence(F.lit(1), F.size("__toks") - (n - 1))
    grams = toks.filter(F.size("__toks") >= n).select(
        F.col(id_col),
        F.transform(idx, gram).alias("__grams"),
    )
    pos = grams.select(
        F.col(id_col),
        F.posexplode("__grams").alias("pos", "g"),
    ).select(
        F.col(id_col),
        "pos",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    w = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    return (
        pos.select(F.col(id_col), F.min("h").over(w).alias("fp"))
        .distinct()
    )


def pack_chunks_strict(
    chunks: DataFrame,
    budget_tokens: int,
    partition_cols: Sequence[str] = ("doc_id",),
    order_cols: Sequence[str] = ("chunk_idx",),
    tokens_col: str = "n_tokens",
    shard_chunks: int | None = None,
) -> DataFrame:
    """Strict next-fit packing: bins NEVER exceed `budget_tokens`
    (except a single over-budget chunk, which gets its own bin) — the
    semantics `pack_chunks` approximates in closed form. Sequential
    per-partition state via applyInPandas (Arrow-batched); use when the
    training stack requires a hard token ceiling per example, accept
    the Python-stage cost.

    SCALE BOUND: packing is inherently sequential WITHIN a partition
    key, so one giant group (e.g. partitioning by language with 90%
    English) becomes one task. `shard_chunks` caps that: groups are
    sub-sharded into runs of at most `shard_chunks` chunks (in packing
    order), each shard packs independently in parallel, and bin ids are
    renumbered to stay unique per original partition key. The only
    semantic drift vs unsharded strict packing is that a bin never
    spans a shard boundary — at most one under-filled bin per shard,
    and every bin still respects the hard ceiling. Documented in
    SCALE.md.
    """
    import pandas as pd

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields
    ) + ", pack_id int, pack_pos int"

    order = list(order_cols)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order).reset_index(drop=True)
        pack_ids, pack_pos = [], []
        cur_id, cur_tokens, cur_pos = 0, 0, 0
        for t in pdf[tokens_col]:
            if cur_tokens and cur_tokens + t > budget_tokens:
                cur_id += 1
                cur_tokens, cur_pos = 0, 0
            pack_ids.append(cur_id)
            pack_pos.append(cur_pos)
            cur_tokens += t
            cur_pos += 1
        pdf["pack_id"] = pd.array(pack_ids, dtype="int32")
        pdf["pack_pos"] = pd.array(pack_pos, dtype="int32")
        return pdf

    if shard_chunks is None:
        return chunks.groupBy(*partition_cols).applyInPandas(pack, out_schema)

    from pyspark.sql import Window

    parts = list(partition_cols)
    wseq = Window.partitionBy(*parts).orderBy(*order)
    sharded = chunks.withColumn(
        "__shard",
        ((F.row_number().over(wseq) - 1) / shard_chunks).cast("int"),
    )

    def pack_drop_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pack(pdf.drop(columns=["__shard"]))
        out["__shard"] = pdf["__shard"].iloc[0]
        return out

    packed = sharded.groupBy(*parts, "__shard").applyInPandas(
        pack_drop_shard, out_schema + ", __shard int"
    )
    # renumber: shard s's bins start after all bins of shards < s
    bins = packed.groupBy(*parts, "__shard").agg(
        (F.max("pack_id") + 1).alias("__nbins")
    )
    woff = (
        Window.partitionBy(*parts)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bins.withColumn(
        "__off", F.coalesce(F.sum("__nbins").over(woff), F.lit(0))
    ).select(*parts, "__shard", "__off")
    return (
        packed.join(offsets, [*parts, "__shard"])
        .withColumn(
            "pack_id", (F.col("pack_id") + F.col("__off")).cast("int")
        )
        .drop("__shard", "__off")
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Decontamination scan: for every train document, count distinct
    word n-grams it shares with ANY eval document (the standard
    benchmark-leakage check — eval n-grams found verbatim in training
    data). Output: (train id, n_hit_grams, n_eval_docs_matched); rows
    only for contaminated documents.

    Plan: positional n-grams on both sides (distinct per doc), one
    equi-join on the gram — the eval side is tiny by construction and
    broadcasts, so the scan over training grams is shuffle-free. At
    100 TB the train grams stay where they were scanned; only counts
    move.
    """
    # row-built grams (posexplode + lead), NOT explode-of-array-expr:
    # projection barriers collapse and the generator child would be
    # re-evaluated per output row (measured quadratic, see
    # ngram_jaccard_pairs)
    from data_engineering_spark.operators.minhash import shingle_rows

    t_grams = shingle_rows(train, id_col, text_col, n).select(
        F.col("doc").alias("t_id"), "g"
    )
    e_grams = shingle_rows(eval_df, id_col, text_col, n).select(
        F.col("doc").alias("e_id"), "g"
    )
    return (
        t_grams.join(F.broadcast(e_grams), "g")
        .groupBy("t_id")
        .agg(
            F.countDistinct("g").alias("n_hit_grams"),
            F.countDistinct("e_id").alias("n_eval_docs_matched"),
        )
        .withColumnRenamed("t_id", id_col)
    )


def dup_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
) -> DataFrame:
    """Duplicated-span statistics: for each document, how many of its
    `window`-token spans occur anywhere else in the corpus (another
    document OR repeated within the same one) — the span-granular
    approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": their
    suffix-array pass finds 50-token verbatim repeats; at window
    granularity the same signal is a pure shuffle-on-key plan with no
    suffix array).

    Output: (doc, n_windows, n_dup_windows) — positional spans, NOT a
    distinct set: a span repeated 3× inside one doc contributes 3
    duplicated windows, matching the substring-dedup semantics.

    Plan: row-built spans (posexplode + lead — see ngram_jaccard_pairs
    for why explode-of-array is quadratic), md5-hashed to a fixed-width
    group key so the global-count shuffle and the count-back join move
    32-byte keys, never span text. Three exchanges total; each is
    keyed on hash or doc id, so it scales horizontally and hot spans
    (boilerplate headers at 100 TB) are an AQE skew-join case, not a
    correctness one. md5 (not xxhash64) so the DuckDB oracle can build
    the identical key (q_doc_dup_spans).
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    )
    wspec = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("w")] + [
        F.lead("w", j).over(wspec) for j in range(1, window)
    ]
    wins = (
        tok.select(
            "doc",
            F.md5(F.concat_ws(" ", *parts)).alias("h"),
            F.lead("w", window - 1).over(wspec).alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select("doc", "h")
    )
    counts = wins.groupBy("h").agg(F.count(F.lit(1)).alias("g_cnt"))
    return (
        wins.join(counts, "h")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("g_cnt") > 1, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
    )


def span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block: int = 16,
    release_cache: bool = False,
) -> DataFrame:
    """Corpus-wide exact span deduplication at fixed block granularity —
    the TRANSFORM counterpart of `dup_span_stats` (which only reports):
    every document is cut into non-overlapping `block`-token blocks, and
    of all verbatim copies of a block anywhere in the corpus only the
    FIRST occurrence (lowest (doc id, block index)) survives; documents
    are reassembled from their surviving blocks. This is the span-removal
    recipe of Lee et al. 2022 ("Deduplicating Training Data...") at
    block granularity: boilerplate repeated across pages is kept once,
    globally.

    Output: (id, n_blocks, n_kept_blocks, clean_text). Documents whose
    every block was deduplicated away stay in the output with
    clean_text = '' (the caller decides whether to drop empties).

    Plan/scale: first-occurrence selection is an ALGEBRAIC
    min(struct(doc, idx)) per block — map-side partial aggregation, so a
    boilerplate block with 10⁸ copies combines inside each input
    partition instead of pinning one window task (same argument as
    dedup.keep_last_agg); the count-back join on block text is an AQE
    skew-join case. Three shuffles total (block agg, block join, doc
    reassembly), all keyed on block text or doc id — no global sort, no
    driver materialization.

    The blocks frame feeds three plan branches (first-occurrence agg,
    the kept join, per-doc totals); it is persisted so the corpus is
    tokenized/exploded ONCE, not three times (same policy as
    ngram_jaccard_pairs). One-shot pipelines keep the lazy default;
    long-lived sessions pass ``release_cache=True`` to eagerly
    materialize the result and unpersist.
    """
    toks_df = docs.select(F.col(id_col), tokens(text_col).alias("__t"))
    n_blocks = F.ceil(F.size("__t") / F.lit(block)).cast("int")
    with CacheScope(release_cache) as scope:
        blocks = scope.persist(
            toks_df.select(
                F.col(id_col),
                F.posexplode(
                    F.transform(
                        F.sequence(
                            F.lit(0), F.greatest(n_blocks, F.lit(1)) - 1
                        ),
                        lambda i: F.array_join(
                            F.slice("__t", i * block + 1, block), " "
                        ),
                    )
                ).alias("block_idx", "block_text"),
            )
        )
        first = blocks.groupBy("block_text").agg(
            F.min(F.struct(F.col(id_col), F.col("block_idx"))).alias("__first")
        )
        kept = blocks.join(first, "block_text").filter(
            (F.col(id_col) == F.col(f"__first.{id_col}"))
            & (F.col("block_idx") == F.col("__first.block_idx"))
        )
        rebuilt = kept.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_kept_blocks"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("block_idx", "block_text"))
                    ),
                    lambda s: s["block_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
        totals = blocks.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_blocks")
        )
        result = (
            docs.select(F.col(id_col))
            .join(totals, id_col, "left")
            .join(rebuilt, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("n_blocks", F.lit(0)).cast("long").alias("n_blocks"),
                F.coalesce("n_kept_blocks", F.lit(0))
                .cast("long")
                .alias("n_kept_blocks"),
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            )
        )
        return scope.result(result)


def content_defined_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    mean_tokens: int = 16,
) -> DataFrame:
    """Content-defined chunking (the FastCDC/Rabin recipe at token
    granularity): a chunk boundary falls AFTER any position whose
    `window`-token context hashes to 0 mod `mean_tokens` — so
    boundaries are a pure function of local content. Unlike fixed-size
    chunking, inserting a paragraph shifts only the chunks that touch
    it: every later chunk re-aligns on the same content boundaries,
    which is what makes downstream exact-dedup of chunks effective
    (the backup-dedup property, applied to training-data text).

    Output: (doc, chunk_id, n_tokens, chunk_text); expected chunk
    length ≈ mean_tokens. Portable md5-based boundary hash so a SQL
    oracle reproduces boundaries bit-for-bit.

    Plan: positional windows (posexplode + lead, linear — see
    dup_span_stats), per-doc cumulative boundary count (one keyed
    window), per-chunk reassembly (one keyed shuffle). No Python.
    """
    from pyspark.sql import Window

    from data_engineering_spark.operators.sketches import uniform_hash60

    tok = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    )
    wspec = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("w")] + [
        F.lead("w", j).over(wspec) for j in range(1, window)
    ]
    ctx = F.when(
        F.lead("w", window - 1).over(wspec).isNotNull(),
        F.concat_ws(" ", *parts),
    )
    # boundary AFTER pos when the full window context hashes to 0
    # (positions too close to the end never cut — same as FastCDC's
    # minimum-tail rule)
    marked = tok.select(
        "doc",
        "pos",
        "w",
        F.when(
            ctx.isNotNull()
            & (F.pmod(uniform_hash60(ctx), F.lit(mean_tokens)) == 0),
            1,
        )
        .otherwise(0)
        .alias("__cut"),
    )
    # chunk id = boundaries strictly BEFORE this position
    chunked = marked.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum("__cut").over(
                wspec.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("int"),
    )
    return chunked.groupBy("doc", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("chunk_text"),
    )
