"""Text-analysis + dedup queries over `documents` (SURVEY.md §2.11).

The LLM-data-pipeline extension surface: token statistics, quality
ratios, exact dedup, and n-gram Jaccard near-duplicate pairs — each with
a DuckDB oracle that mirrors the tokenization exactly
(split-on-whitespace after trim in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.operators import text as X
from data_engineering_spark.operators.dedup import (
    dedup_exact,
    dedup_incremental,
    fingerprint_store,
)
from data_engineering_spark.registry import query
from data_engineering_spark.types.frames import local_frame

_EN_STOP = ("the", "a", "of", "and", "to")


@query(
    "q_doc_token_stats",
    oracle="""
    WITH t AS (
      SELECT lang, n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY lang
    """,
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + per-language corpus statistics."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang", "n_chars", X.token_count("text").alias("n_tokens")
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


@query(
    "q_doc_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS BIGINT)
               AS n_punct,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
      FROM documents)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_punct,
           CAST(n_stop AS BIGINT) AS n_stop,
           CAST(n_stop AS DOUBLE) / GREATEST(n_tokens, 1) AS stop_ratio,
           CAST(n_chars AS DOUBLE) / GREATEST(n_tokens, 1)
             AS chars_per_token
    FROM t
    """,
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals: punctuation count, stopword ratio,
    chars-per-token — the standard cheap filters of an LLM data
    pipeline, all JVM-side expressions."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = X.token_count("text")
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        X.punct_count("text").cast("long").alias("n_punct"),
        X.stopword_count("text", list(_EN_STOP)).cast("long").alias("n_stop"),
        (
            X.stopword_count("text", list(_EN_STOP)).cast("double")
            / F.greatest(n_tokens, F.lit(1))
        ).alias("stop_ratio"),
        (
            F.col("n_chars").cast("double") / F.greatest(n_tokens, F.lit(1))
        ).alias("chars_per_token"),
    )


@query(
    "q_doc_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: lowest doc_id survives per distinct text. Spark side
    groups on a sha2 fingerprint (fixed-width shuffle key — the 100 TB
    version never shuffles full documents); oracle groups on raw text.
    Identical up to SHA-256 collision."""
    d = load_table(spark, sf_dir, "documents")
    kept = dedup_exact(d, ["text"], "doc_id")
    return kept.select(
        F.col("doc_id").alias("kept_doc_id"), F.col("n_copies")
    )


@query(
    "q_doc_dup_spans",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 2, 1)),
                 i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                          || t[i+3]))) AS h
      FROM tok),
    g AS (SELECT h, COUNT(*) AS g_cnt FROM wins GROUP BY h),
    per AS (
      SELECT w.doc_id,
             COUNT(*) AS n_windows,
             SUM(CASE WHEN g.g_cnt > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM wins w JOIN g USING (h) GROUP BY w.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_dup AS BIGINT) AS n_dup_windows,
           CAST(n_dup AS DOUBLE) / n_windows AS dup_frac
    FROM per ORDER BY doc_id
    """,
)
def q_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication profile (exact-substring-dedup signal at
    4-token window granularity): positional spans, global occurrence
    counts, per-doc duplicated-window fraction. dup_frac is an
    int-derived double (bit-identical across engines)."""
    d = load_table(spark, sf_dir, "documents")
    out = X.dup_span_stats(d, "doc_id", "text", window=4)
    return (
        out.select(
            F.col("doc").cast("bigint").alias("doc_id"),
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.col("n_dup_windows").cast("bigint").alias("n_dup_windows"),
            (
                F.col("n_dup_windows").cast("double") / F.col("n_windows")
            ).alias("dup_frac"),
        )
    )


@query(
    "q_doc_incremental_dedup",
    oracle="""
    WITH hist AS (
      SELECT * FROM documents WHERE doc_id % 4 = 0),
    incoming AS (
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 4 <> 0
      UNION ALL
      SELECT doc_id + 1000000, text, lang, source, n_chars
      FROM hist WHERE doc_id % 8 = 0
      UNION ALL
      SELECT doc_id + 2000000, text, lang, source, n_chars
      FROM documents WHERE doc_id % 4 <> 0 AND doc_id % 10 = 3),
    batch_first AS (
      SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM incoming)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM batch_first b
    WHERE rn = 1
      AND NOT EXISTS (SELECT 1 FROM hist h WHERE h.text = b.text)
    ORDER BY doc_id
    """,
)
def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an incoming batch against a historical
    fingerprint store: docs with doc_id%4==0 are the 'already ingested'
    corpus (carried as 64-byte sha2 fingerprints), the rest plus
    synthetic re-crawls (copies of historical docs, new ids) and
    within-batch duplicates form the incoming batch. Survivors =
    batch-first occurrences whose content the corpus has never seen.
    Spark side anti-joins fixed-width fingerprints; the oracle
    recomputes the same with raw text + NOT EXISTS. Identical up to
    SHA-256 collision."""
    d = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    hist = d.filter(F.col("doc_id") % 4 == 0)
    base = d.filter(F.col("doc_id") % 4 != 0).select(*cols)
    recrawl = (
        hist.filter(F.col("doc_id") % 8 == 0)
        .select(*cols)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
    )
    batch_dup = base.filter(F.col("doc_id") % 10 == 3).withColumn(
        "doc_id", F.col("doc_id") + 2000000
    )
    incoming = base.unionByName(recrawl).unionByName(batch_dup)
    seen = fingerprint_store(hist, ["text"])
    out = dedup_incremental(incoming, seen, ["text"], "doc_id")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


@query(
    "q_doc_ngram_jaccard_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok),
    inv AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS na, b.n AS nb, COUNT(*) AS common
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
           common * 1.0 / (na + nb - common) AS jaccard_r
    FROM pairs
    WHERE common * 1.0 / (na + nb - common) >= 0.6
    """,
)
def q_doc_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-gram Jaccard >= 0.6 via shingle
    inverted index (the scalable all-pairs formulation; see
    operators/text.py for the skew analysis)."""
    d = load_table(spark, sf_dir, "documents")
    return X.ngram_jaccard_pairs(d, threshold=0.6)


@query(
    "q_doc_minhash_neardup",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok),
    inv AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS na, b.n AS nb, COUNT(*) AS common
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
           common * 1.0 / (na + nb - common) AS jaccard_r
    FROM pairs
    WHERE common * 1.0 / (na + nb - common) >= 0.6
    """,
)
def q_doc_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, exact-verified (the 100 TB dedup
    path). Same oracle as the prefix-filter join: with 32 bands × 2 rows
    the banding miss probability at jaccard 0.6 is ~1e-6, so the
    LSH candidate generation must reproduce the exact result."""
    from data_engineering_spark.operators.minhash import (
        minhash_near_dup_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(d, threshold=0.6)


@query(
    "q_doc_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
               (acc, code) -> (acc * 31 + code) % 1000000007) AS fingerprint
      FROM documents)
    SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
    FROM fp GROUP BY fingerprint
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (mod 1e9+7, base 31
    over code points) — engine-independent arithmetic, so DuckDB
    reproduces it exactly; grouping fingerprints is content-addressed
    dedup without shuffling document bodies."""
    d = load_table(spark, sf_dir, "documents")
    chars = F.split("text", "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 1_000_000_007,
    )
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
    )


@query(
    "q_doc_bpe_token_count",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
      FROM documents)
    SELECT lang, CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(n_bpe_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_bpe_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM t GROUP BY lang
    """,
)
def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization: letter-runs, digit-runs and single
    punctuation as separate tokens (the standard pre-tokenizer split),
    counted per language — a token-budget estimator for corpus
    planning."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
        )
    )
    return (
        d.select("lang", n_tokens.alias("n"))
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("total_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
            (F.sum("n").cast("double") / F.count(F.lit(1))).alias(
                "avg_tokens"
            ),
        )
    )


@query(
    "q_doc_word_frequency",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents)
    SELECT word, COUNT(*) AS n
    FROM w GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def q_doc_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-frequency top-k (explode → count → total-order
    limit) — the generator (flatMap) shape in the oracle-checked
    surface."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(X.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@query(
    "q_doc_simhash_bands",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT AS hv
      FROM sh),
    cnts AS (SELECT doc_id, COUNT(*) AS cnt FROM h GROUP BY doc_id),
    bit_ones AS (
      SELECT doc_id, r.i,
             CAST(SUM((hv >> r.i) & 1) AS BIGINT) AS ones
      FROM h CROSS JOIN range(60) r(i)
      GROUP BY doc_id, r.i),
    fp AS (
      SELECT b.doc_id,
             CAST(SUM(CASE WHEN 2 * ones >= cnt
                           THEN (CAST(1 AS BIGINT) << i)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bit_ones b JOIN cnts USING (doc_id)
      GROUP BY b.doc_id),
    bands AS (
      SELECT doc_id, CAST(r.b AS INT) AS band,
             (simhash >> (15 * CAST(r.b AS INT))) & 32767 AS chunk
      FROM fp CROSS JOIN range(4) r(b))
    SELECT band, chunk, COUNT(*) AS n_docs
    FROM bands GROUP BY 1, 2 HAVING COUNT(*) > 1
    """,
)
def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 60-bit SimHash fingerprints banded into 4×15-bit chunks
    — the equi-join blocking scheme for Hamming-distance near-dup at
    scale. The per-shingle hash is md5's first 15 hex chars, so DuckDB
    reproduces every fingerprint bit-exactly (the xxhash64 fast path,
    `operators/text.simhash64`, stays for production throughput and is
    pytest-covered)."""
    from data_engineering_spark.operators.text import (
        simhash_portable_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents")
    fp = simhash_portable_fingerprints(d, "doc_id", "text")
    bands = fp.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).cast("int").alias("band"),
                    F.shiftright("simhash", 15 * b)
                    .bitwiseAND(F.lit(0x7FFF))
                    .alias("chunk"),
                )
                for b in range(4)
            ])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"),
             F.col("bb.chunk").alias("chunk"))
    return bands.groupBy("band", "chunk").agg(
        F.count(F.lit(1)).alias("n_docs")
    ).filter(F.col("n_docs") > 1)


@query(
    "q_doc_language_guess",
    oracle="""
    WITH tok AS (
      SELECT lang, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sc AS (
      SELECT lang,
        len(list_filter(t, x -> list_contains(
            ['der','die','das','und','zu'], x))) / greatest(len(t), 1)
          AS s_de,
        len(list_filter(t, x -> list_contains(
            ['the','a','of','and','to'], x))) / greatest(len(t), 1)
          AS s_en,
        len(list_filter(t, x -> list_contains(
            ['el','la','de','y','que'], x))) / greatest(len(t), 1)
          AS s_es,
        len(list_filter(t, x -> list_contains(
            ['le','la','de','et','que'], x))) / greatest(len(t), 1)
          AS s_fr
      FROM tok),
    g AS (
      SELECT lang,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
             WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
             WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
             WHEN s_en >= s_de THEN 'en'
             ELSE 'de' END AS guessed
      FROM sc)
    SELECT lang, guessed, COUNT(*) AS n FROM g GROUP BY 1, 2
    """,
)
def q_doc_language_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit-fraction argmax) confusion
    matrix vs the labeled `lang` column. The oracle reproduces the
    argmax exactly: scores are int/int divisions (bit-identical in both
    engines), and Spark's array_max-over-struct tie-break (max score,
    then lexicographically greatest language) is the fr→es→en→de CASE
    chain."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", X.guess_language("text").alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_doc_winnow_fingerprints",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    gr AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS grams
      FROM tok WHERE len(t) >= 3),
    pos AS (
      SELECT doc_id, grams, unnest(range(1, len(grams) + 1)) AS i
      FROM gr),
    h AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(grams[i]), 1, 15))::BIGINT AS hv
      FROM pos),
    sel AS (
      SELECT DISTINCT doc_id,
             MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM h),
    shared AS (
      SELECT fp FROM sel GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 1)
    SELECT s.doc_id,
           COUNT(*) AS n_fps,
           CAST(COUNT(sh.fp) AS BIGINT) AS n_shared_fps
    FROM sel s LEFT JOIN shared sh ON s.fp = sh.fp
    GROUP BY s.doc_id
    """,
)
def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: positional 3-gram md5 hashes,
    4-gram sliding window minimum, distinct selections per doc — any
    shared run of >= 6 words between two docs shares a fingerprint.
    Output: per-doc fingerprint count + how many are shared with some
    other document (the containment-detection signal)."""
    from data_engineering_spark.operators.text import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, "doc_id", "text", n=3, window=4)
    shared = (
        fps.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("fp")
    )
    sh = shared.withColumnRenamed("fp", "sfp")
    return (
        fps.join(sh, fps.fp == sh.sfp, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.count("sfp").cast("bigint").alias("n_shared_fps"),
        )
    )


@query(
    "q_doc_contamination",
    oracle="""
    WITH ev_ids AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || 'd1'), 1, 15))::BIGINT, doc_id) AS rn
        FROM documents) WHERE rn <= 5),
    tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(len(t) - 3, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                      || t[i+3] || ' ' || t[i+4]))) AS g
      FROM tok WHERE len(t) >= 5),
    e_grams AS (
      SELECT doc_id AS e_id, g FROM grams
      WHERE doc_id IN (SELECT doc_id FROM ev_ids)),
    t_grams AS (
      SELECT doc_id AS t_id, g FROM grams
      WHERE doc_id NOT IN (SELECT doc_id FROM ev_ids))
    SELECT t_id AS doc_id,
           COUNT(DISTINCT t.g) AS n_hit_grams,
           COUNT(DISTINCT e_id) AS n_eval_docs_matched
    FROM t_grams t JOIN e_grams e ON t.g = e.g
    GROUP BY t_id
    """,
)
def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination scan: a deterministic 5-docs-per-language eval
    split, then every remaining (train) document that shares any
    verbatim word 5-gram with an eval document — the benchmark-leakage
    check every training pipeline runs. The eval gram set broadcasts;
    the training-side scan is shuffle-free until the final per-doc
    count (operators/text.ngram_contamination)."""
    from data_engineering_spark.operators.sampling import (
        stratified_topk_sample,
    )
    from data_engineering_spark.operators.text import ngram_contamination

    d = load_table(spark, sf_dir, "documents")
    ev = stratified_topk_sample(d, ["lang"], "doc_id", k=5, salt="d1")
    ev_ids = ev.select("doc_id")
    train = d.join(ev_ids, "doc_id", "left_anti")
    return ngram_contamination(train, ev, "doc_id", "text", n=5)


@query(
    "q_doc_span_dedup",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
    b AS (
      SELECT doc_id,
             CAST(unnest(range(GREATEST(
                 CAST(ceil(len(toks)/4.0) AS BIGINT), 1))) AS INT)
               AS block_idx,
             toks
      FROM t),
    s AS (
      SELECT doc_id, block_idx,
             array_to_string(toks[(block_idx*4+1):((block_idx+1)*4)], ' ')
               AS block_text
      FROM b),
    k AS (
      SELECT doc_id, block_idx, block_text
      FROM (SELECT *, row_number() OVER (
                PARTITION BY block_text
                ORDER BY doc_id, block_idx) AS rn FROM s)
      WHERE rn = 1),
    r AS (
      SELECT doc_id, COUNT(*) AS n_kept_blocks,
             string_agg(block_text, ' ' ORDER BY block_idx) AS clean_text
      FROM k GROUP BY doc_id),
    c AS (SELECT doc_id, COUNT(*) AS n_blocks FROM s GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(c.n_blocks, 0) AS BIGINT) AS n_blocks,
           CAST(COALESCE(r.n_kept_blocks, 0) AS BIGINT) AS n_kept_blocks,
           sha256(COALESCE(r.clean_text, '')) AS clean_sha
    FROM documents d
    LEFT JOIN c ON d.doc_id = c.doc_id
    LEFT JOIN r ON d.doc_id = r.doc_id
    """,
)
def q_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact span dedup at 4-token block granularity (the
    Lee et al. 2022 span-removal transform): only the globally-first
    occurrence of each verbatim block survives, documents are rebuilt
    from surviving blocks, and the rebuilt text is verified by sha256.
    First-occurrence selection is an algebraic min-struct aggregate
    (map-side combine — hot boilerplate blocks never pin one task)."""
    d = load_table(spark, sf_dir, "documents")
    out = X.span_dedup(d, "doc_id", "text", block=4)
    return out.select(
        "doc_id",
        "n_blocks",
        "n_kept_blocks",
        F.sha2("clean_text", 256).alias("clean_sha"),
    )


@query(
    "q_doc_minhash_incremental",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok),
    inv AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS na, b.n AS nb, COUNT(*) AS common
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
           common * 1.0 / (na + nb - common) AS jaccard_r
    FROM pairs
    WHERE common * 1.0 / (na + nb - common) >= 0.6
      AND (doc_a >= 400 OR doc_b >= 400)
    """,
)
def q_doc_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH ingest: docs >= 400 arrive as the new
    batch, the rest are the indexed corpus (the index is built here for
    the test; in production it is read back from parquet). Candidates
    come from the new batch's bands probed against the stored corpus
    index — corpus text is only scanned semi-join-pruned to candidate
    docs for the exact verify. Oracle = exact Jaccard pairs touching
    the new batch (banding recall at 0.6 is ~1-1e-6, same argument as
    q_doc_minhash_neardup)."""
    from data_engineering_spark.operators.minhash import (
        minhash_band_index,
        minhash_incremental_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 400)
    index = minhash_band_index(corpus)
    return minhash_incremental_pairs(new, corpus, index)


@query(
    "q_doc_cdc_chunks",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    pos AS (
      SELECT doc_id, len(t) AS n,
             CAST(unnest(range(1, len(t) + 1)) AS INT) AS pos, t
      FROM tok),
    marked AS (
      SELECT doc_id, pos, t[pos] AS w,
             CASE WHEN pos + 3 <= n
                   AND CAST('0x' || substr(md5(
                         t[pos] || ' ' || t[pos+1] || ' ' || t[pos+2]
                         || ' ' || t[pos+3]), 1, 15) AS BIGINT) % 16 = 0
                  THEN 1 ELSE 0 END AS cut
      FROM pos),
    chunked AS (
      SELECT doc_id, pos, w,
             CAST(COALESCE(SUM(cut) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS INT) AS chunk_id
      FROM marked)
    SELECT doc_id AS doc, chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           sha256(string_agg(w, ' ' ORDER BY pos)) AS chunk_sha
    FROM chunked GROUP BY doc_id, chunk_id
    """,
)
def q_doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC at token granularity): chunk
    boundaries fall where the 4-token context hashes to 0 mod 16, so an
    edit shifts only the chunks it touches — the dedup-friendly
    chunking property. Boundary hash is the portable md5-60bit, so the
    oracle reproduces every boundary; chunk text verified by sha256."""
    d = load_table(spark, sf_dir, "documents")
    out = X.content_defined_chunks(d, "doc_id", "text", window=4,
                                   mean_tokens=16)
    return out.select(
        "doc", "chunk_id", "n_tokens",
        F.sha2("chunk_text", 256).alias("chunk_sha"),
    )


@query(
    "q_doc_lexical_diversity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    tf AS (
      SELECT doc_id, lang, w, COUNT(*) AS c
      FROM tok GROUP BY 1, 2, 3)
    SELECT doc_id, lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS n_hapax,
           COUNT(*) / SUM(c) AS type_token_ratio
    FROM tf GROUP BY 1, 2
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: token count, vocabulary size
    (types), hapax legomena (once-only words — the boilerplate/
    keyword-stuffing signal: spam repeats, prose doesn't) and the
    type-token ratio. One explode + a two-level aggregation, both
    shuffles keyed on doc_id so the corpus partitioning is reused."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id", "lang",
            F.explode(X.tokens(F.lower(F.col("text")))).alias("w"),
        )
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.count(F.when(F.col("c") == 1, 1)).cast("long").alias("n_hapax"),
        (F.count(F.lit(1)) / F.sum("c")).alias("type_token_ratio"),
    )


@query(
    "q_doc_vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    tf AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM tf),
    r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank,
             SUM(c) OVER (ORDER BY c DESC, w
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM tf)
    SELECT t.thr,
           CAST(MIN(r.rank) AS BIGINT) AS vocab_size,
           CAST((SELECT n FROM tot) AS BIGINT) AS total_tokens
    FROM r, (VALUES (0.5), (0.9), (0.99)) t(thr)
    WHERE r.cum >= t.thr * (SELECT n FROM tot)
    GROUP BY t.thr
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (tokenizer sizing): the smallest
    vocabulary that covers 50% / 90% / 99% of token mass — rank terms
    by frequency (unique tiebreak), running-sum the counts, take the
    min rank crossing each threshold. Integer arithmetic until the
    final threshold comparison (thr * N is one exact double product
    both engines compute identically). One term-count shuffle + one
    single-partition window over the VOCABULARY (bounded by distinct
    terms, not corpus size — at web scale feed it the heavy-hitter
    table instead)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(X.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tf.agg(F.sum("c").alias("n"))
    w = Window.orderBy(F.desc("c"), F.asc("w"))
    r = tf.select(
        "c",
        F.row_number().over(w).alias("rank"),
        F.sum("c")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    thr = local_frame(spark, [(0.5,), (0.9,), (0.99,)], "thr double")
    return (
        r.join(F.broadcast(thr))
        .join(F.broadcast(tot))
        .where(F.col("cum") >= F.col("thr") * F.col("n"))
        .groupBy("thr")
        .agg(
            F.min("rank").cast("long").alias("vocab_size"),
            F.first("n").cast("long").alias("total_tokens"),
        )
    )


@query(
    "q_doc_dedup_impact",
    oracle="""
    WITH f AS (
      SELECT doc_id, source, n_chars,
             sha256(text) AS fp,
             ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                ORDER BY doc_id) AS rn
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN rn > 1 THEN 1 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS removed_chars,
           COUNT(CASE WHEN rn > 1 THEN 1 END) / COUNT(*) AS dup_ratio
    FROM f GROUP BY source
    """,
)
def q_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report: per source, how many documents (and how
    much text) exact dedup would remove — the before/after accounting
    every corpus-curation run publishes. Canonical = min doc_id per
    content fingerprint (same rule as dedup_exact); one window over
    the fingerprint key then a per-source rollup."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    f = d.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(F.col("rn") > 1, 1)).cast("long").alias("n_removed"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("removed_chars"),
        (F.count(F.when(F.col("rn") > 1, 1)) / F.count(F.lit(1))).alias(
            "dup_ratio"
        ),
    )


@query(
    "q_doc_collocations",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE lang = 'en'),
    pos AS (
      SELECT doc_id, t[CAST(i AS INTEGER)] AS w, i
      FROM tok, unnest(generate_series(1, len(t))) AS g(i)),
    tot AS (SELECT COUNT(*) AS n FROM pos),
    uni AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS pc
      FROM pos a JOIN pos b
        ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 2
      GROUP BY 1, 2),
    scored AS (
      SELECT p.w1, p.w2, p.pc,
             (CAST(p.pc AS DOUBLE) * CAST((SELECT n FROM tot) AS DOUBLE))
               / (u1.c * 2.0 * u2.c) AS lift
      FROM pairs p
      JOIN uni u1 ON p.w1 = u1.w
      JOIN uni u2 ON p.w2 = u2.w
      WHERE p.pc >= 5)
    SELECT w1, w2, CAST(pc AS BIGINT) AS pair_count,
           ROUND(lift, 9) AS lift
    FROM scored
    ORDER BY lift DESC, w1, w2
    LIMIT 25
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: word pairs within a forward window of 2
    ranked by LIFT = P(pair) / (P(w1)·P(w2)) — the PMI statistic
    without the log, so the score is a pure ratio of integer counts
    (one deterministic double division; no transcendental libm
    dependency, same policy as BM25-linear). Positions explode once;
    the pair join is equi-keyed on doc_id with a residual distance
    band; total order on (lift, w1, w2)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("lang") == "en")
    pos = d.select(
        "doc_id",
        F.posexplode(X.tokens(F.lower(F.col("text")))).alias("i0", "w"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "w")
    tot = pos.agg(F.count(F.lit(1)).alias("n"))
    uni = pos.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    a = pos.select("doc_id", F.col("w").alias("w1"), F.col("i").alias("ia"))
    b = pos.select("doc_id", F.col("w").alias("w2"), F.col("i").alias("ib"))
    pairs = (
        a.join(b, "doc_id")
        .where((F.col("ib") - F.col("ia")).between(1, 2))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pc"))
        .where(F.col("pc") >= 5)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("pc").cast("long").alias("pair_count"),
            # doubles BEFORE the product: pc*n is ~1e26 at web scale,
            # far past int64 — and the double tree is written
            # identically in the oracle so the division stays bit-exact
            F.round(
                (F.col("pc").cast("double") * F.col("n").cast("double"))
                / (F.col("c1") * 2.0 * F.col("c2")),
                9,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("w1"), F.asc("w2")
    ).limit(25)


@query(
    "q_doc_star_dedup_clusters",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok),
    inv AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS na, b.n AS nb, COUNT(*) AS common
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    dup AS (
      SELECT doc_a, doc_b FROM prs
      WHERE common * 1.0 / (na + nb - common) >= 0.6),
    ed AS (
      SELECT doc_a AS u, doc_b AS v FROM dup
      UNION SELECT doc_b, doc_a FROM dup),
    reach(u, v) AS (
      SELECT u, v FROM ed
      UNION
      SELECT r.u, e2.v FROM reach r JOIN ed e2 ON r.v = e2.u),
    comp AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      FROM reach GROUP BY u)
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def q_doc_star_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment via LSH star edges — the
    duplicate-heavy-corpus scale path (linear edge output instead of
    the O(sum cluster^2) pair cliques; see
    operators/minhash.minhash_star_clusters and the
    tools/scale_curve.py dupes-mode curve that motivates it).

    Oracle = connected components of the exact-Jaccard >= 0.6 pair
    graph, singletons kept. The star graph reaches the same components
    because (a) banding recall at 0.6 is ~1-1e-6 and (b) a verified
    star preserves bucket-graph connectivity unless a bucket's
    representative is a banding false positive while other members are
    true pairs (see operator docstring) — so on deterministic data the
    two constructions agree and the hash must match."""
    from data_engineering_spark.operators.minhash import (
        minhash_star_clusters,
    )

    d = load_table(spark, sf_dir, "documents")
    return minhash_star_clusters(d, threshold=0.6)
