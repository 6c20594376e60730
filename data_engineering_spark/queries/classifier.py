"""Quality-classifier scoring and BPE pair-induction queries.

Both operators are engine-portable by construction (md5 bucket hash,
integer weights, ASCII pair symbols), so their DuckDB twins recompute
the full pipeline — features, buckets, weights, logits — bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.operators.bpe import bpe_top_pairs
from data_engineering_spark.operators.classifier import (
    classifier_filter_stats,
    linear_classifier_score,
    synthetic_weights,
)
from data_engineering_spark.registry import query
from data_engineering_spark.types.frames import local_frame

_LMB = 8192  # LM bucket count (matches train_bigram_lm default)

_B = 4096  # feature buckets
_SCALE = 1000  # weight range [-1000, 1000]
_SEED = "clsw"
_BIAS = -2500

# features → md5 buckets → synthetic integer weights → per-doc logit.
# Parameterized over the source relation so the curation funnel can
# score its exact-dedup survivors with the same model
# (queries/curation.py's classifier-gated funnel oracle).
def classifier_score_cte(src: str) -> str:
    # the CASE guard mirrors operators/text.tokens: bare
    # string_split_regex yields [''] for empty/whitespace text (a
    # phantom unigram that would pick up a hashed weight) where the
    # Spark side maps it to an empty array (logit = bias alone)
    return f"""
    tok AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM {src}),
    uni AS (SELECT doc_id, unnest(t) AS f FROM tok),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS f
      FROM tok),
    feats AS (
      SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
    fc AS (
      SELECT doc_id,
             ('0x' || substr(md5(f), 1, 15))::BIGINT % {_B} AS bucket,
             COUNT(*) AS c
      FROM feats GROUP BY 1, 2),
    w AS (
      SELECT b AS bucket,
             ('0x' || substr(md5(CAST(b AS VARCHAR) || '|{_SEED}'),
              1, 15))::BIGINT % {2 * _SCALE + 1} - {_SCALE} AS weight
      FROM range({_B}) r(b)),
    s AS (
      SELECT fc.doc_id, SUM(fc.c * w.weight) AS raw
      FROM fc JOIN w USING (bucket) GROUP BY 1),
    scored AS (
      SELECT d.doc_id,
             CAST(COALESCE(s.raw, 0) + {_BIAS} AS BIGINT) AS logit
      FROM {src} d LEFT JOIN s USING (doc_id))
"""




def _score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = synthetic_weights(spark, _B, seed=_SEED, scale=_SCALE)
    return linear_classifier_score(
        d, w, num_buckets=_B, bias=_BIAS, bucket_hash="md5"
    )


@query(
    "q_doc_quality_classifier",
    oracle=f"""
    WITH {classifier_score_cte("documents")}
    SELECT doc_id, logit, logit > 0 AS label FROM scored
    """,
)
def q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality gate scored over every document:
    hashed unigram+bigram counts × a broadcast integer weight table →
    logit, threshold at 0 (operators/classifier.py). The weights here
    are the deterministic md5 stand-in for a trained model, so the
    oracle recomputes the ENTIRE inference path — tokenization,
    feature hashing, weight lookup, fixed-point accumulation —
    bit-exactly."""
    return _score(spark, sf_dir)


@query(
    "q_doc_classifier_lang_stats",
    oracle=f"""
    WITH {classifier_score_cte("documents")}
    SELECT d.source, d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN sc.logit > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(sc.logit) AS BIGINT) AS sum_logit
    FROM documents d JOIN scored sc USING (doc_id)
    GROUP BY 1, 2
    """,
)
def q_classifier_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) keep/drop accounting of the classifier gate —
    the report read before committing to a threshold. Integer sums
    only (operators/classifier.classifier_filter_stats)."""
    d = load_table(spark, sf_dir, "documents")
    return classifier_filter_stats(
        _score(spark, sf_dir), d, ["source", "lang"]
    )


@query(
    "q_doc_bpe_top_pairs",
    oracle="""
    WITH tok AS (
      SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents),
    wds AS (SELECT unnest(t) AS word FROM tok),
    v AS (
      SELECT word, COUNT(*) AS freq FROM wds
      WHERE regexp_matches(word, '^[!-~]+$') GROUP BY 1),
    prs AS (
      SELECT word, freq,
             unnest(list_transform(range(1, length(word)),
                    i -> substr(word, i, 2))) AS pair
      FROM v WHERE length(word) >= 2),
    agg AS (
      SELECT pair,
             CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
             CAST(SUM(freq) AS BIGINT) AS total
      FROM prs GROUP BY 1)
    SELECT pair, n_words, total FROM agg
    ORDER BY total DESC, pair ASC LIMIT 50
    """,
)
def q_doc_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 BPE merge candidates (adjacent ASCII character pairs over
    the word multiset) — the counting pass of tokenizer training,
    reduced to the vocabulary after one corpus shuffle
    (operators/bpe.py). Total order (total DESC, pair ASC)."""
    d = load_table(spark, sf_dir, "documents")
    return bpe_top_pairs(d, k=50)


def _lm_logq_oracle() -> str:
    """Full-hash oracle for the perplexity filter (VERDICT r10 #3a):
    the per-bigram md5 bucket stream (the q_doc_lm_bigram_stats CTEs)
    joined against the QUANTIZED log-prob fixture — nll in integer
    nano-nats, an exact int64 sum DuckDB replays bit-identically."""
    from data_engineering_spark.queries._fixtures import (
        lm_logq_fixture_path,
        lm_q1_floor,
        seed_lm_logq_fixture,
        warn_fixture_write_failed,
    )

    try:
        # registration-time pre-seed (idempotent) — an oracle-first
        # harness must find the fixture, same convention as BPE/PCA
        seed_lm_logq_fixture()
    except Exception as e:
        warn_fixture_write_failed("seed_lm_logq_fixture", e)
    return f"""
    WITH ltok AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents),
    q AS (
      SELECT bucket, q12, q1
      FROM read_parquet('{lm_logq_fixture_path()}')
      WHERE corpus_n = (SELECT COUNT(*) FROM documents)),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS w12
      FROM ltok),
    keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5(w12), 1, 15))::BIGINT % {_LMB} AS b12,
             ('0x' || substr(md5(w1), 1, 15))::BIGINT % {_LMB} AS b1
      FROM big),
    per AS (
      SELECT k.doc_id, COUNT(*) AS n_bigrams,
             SUM(COALESCE(x.q1, {lm_q1_floor()})
                 - COALESCE(j.q12, 0)) AS nllq
      FROM keyed k
      LEFT JOIN q j ON k.b12 = j.bucket
      LEFT JOIN q x ON k.b1 = x.bucket
      GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(p.nllq, 0) AS BIGINT) AS nll_nano
    FROM documents d LEFT JOIN per p USING (doc_id)
    """


def _lm_logq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's quantized LM (bucket, q12, q1) as a local (≤_LMB
    rows) frame: fixture if seeded (the normal path), else train the
    md5-bucketed counts via Spark, quantize in python, and publish to
    the fixture so the oracle sees the same parameters (the _bpe_merges
    fallback convention)."""
    from data_engineering_spark.operators.lm import train_bigram_lm
    from data_engineering_spark.queries import _fixtures as FX

    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    try:
        FX.seed_lm_logq_fixture()
    except Exception as e:
        FX.warn_fixture_write_failed("seed_lm_logq_fixture", e)
    rows = FX.read_lm_logq_fixture(n)
    if rows is None:
        lm = train_bigram_lm(
            d.filter(F.col("lang") == "en"),
            num_buckets=_LMB,
            bucket_hash="md5",
        )
        counts = sorted(
            (r["bucket"], r["c"]) for r in lm.collect()  # ≤_LMB rows
        )
        rows = [
            (b, FX.lm_nano(c + 1.0), FX.lm_nano(c + float(_LMB)))
            for b, c in counts
        ]
        try:
            FX.write_lm_logq_fixture(rows, n)
        except Exception as e:
            FX.warn_fixture_write_failed("write_lm_logq_fixture", e)
    return local_frame(spark, rows, "bucket long, q12 long, q1 long")


@query("q_doc_lm_perplexity", oracle=_lm_logq_oracle())
def q_doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter (operators/lm.py), FULL-hash
    oracled (upgraded from rows-only, VERDICT r10 #3a): a hashed
    bigram LM trained on the English slice scores every document in
    integer NANO-NATS — nll_nano = Σ(q1 − q12) over the trained
    log-prob quantization, an exact int64 both engines replay (the
    operators/unigram.py Viterbi-score convention; low nll_nano/
    n_bigrams = target-like, ppl = exp(nll_nano/1e9/n_bigrams)
    derivable downstream). The md5 bucket/count path was already
    DuckDB-oracled via q_doc_lm_bigram_stats; quantizing the logs in
    ONE place (the python fixture seeder) removes the last
    transcendental from the compare. The float-API sibling
    (operators/lm.lm_perplexity) keeps its python float twin in
    tests/test_error_bounds.py."""
    from data_engineering_spark.operators.lm import lm_nll_nano
    from data_engineering_spark.queries._fixtures import lm_q1_floor

    d = load_table(spark, sf_dir, "documents")
    return lm_nll_nano(
        d,
        _lm_logq(spark, sf_dir),
        q1_floor=lm_q1_floor(),
        num_buckets=_LMB,
        bucket_hash="md5",
    )


# ---------------------------------------------------------------------------
# BPE encode/apply — the trained merge list applied corpus-wide.
# The merge list is a model parameter shared through a parquet fixture
# (queries/_fixtures.py, keyed by documents row count, pre-seeded from
# a DuckDB word count + the same greedy loop bpe_train runs); BOTH
# engines run the full encode fold from those parameters — Spark as a
# JVM aggregate of plain replaces over sentinel-wrapped words
# (operators/bpe.bpe_segment_expr), DuckDB as the list_reduce twin.
# ---------------------------------------------------------------------------

_S = "\x01"


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """The corpus's trained merge list: fixture if seeded (the normal
    path — seed_bpe_fixture covers every testdata sf), else train via
    the Spark counting pass and publish to the fixture so the oracle
    sees the same parameters."""
    from data_engineering_spark.operators.bpe import (
        bpe_train,
        merge_patterns,
        patterns_to_merges,
    )
    from data_engineering_spark.queries import _fixtures as FX

    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    try:
        FX.seed_bpe_fixture()
    except Exception as e:
        # fixture write is oracle support, never a query failure — but
        # it must be LOUD: if the fixture can't be written, the Spark
        # query trains fresh merges while the oracle's m CTE coalesces
        # to an empty list, and the resulting hash mismatch would
        # masquerade as a query bug two stages later (ADVICE r7)
        FX.warn_fixture_write_failed("seed_bpe_fixture", e)
    pats = FX.read_bpe_fixture(n)
    if pats is None:
        merges = bpe_train(d, num_merges=FX.BPE_NUM_MERGES)
        try:
            FX.write_bpe_fixture(merge_patterns(merges), n)
        except Exception as e:
            FX.warn_fixture_write_failed("write_bpe_fixture", e)
        return merges
    return patterns_to_merges(pats)


def _bpe_oracle_cte() -> str:
    """CTEs (m, enc_docs) — per-doc real BPE token counts in DuckDB:
    the same sentinel-wrap + fold-of-plain-replaces the Spark side
    runs (plain replace is left-to-right non-overlapping in both
    engines — BPE's merge rule)."""
    from data_engineering_spark.queries._fixtures import (
        bpe_fixture_path,
        seed_bpe_fixture,
        warn_fixture_write_failed,
)

    try:
        # registration-time pre-seed (0.19 s cold, idempotent): an
        # oracle-first harness must find the fixture — same convention
        # as the PCA/IVF/PQ fixtures
        seed_bpe_fixture()
    except Exception as e:
        warn_fixture_write_failed("seed_bpe_fixture", e)
    return f"""
    m AS (
      SELECT COALESCE(list(pat ORDER BY idx), []) AS ms
      FROM read_parquet('{bpe_fixture_path()}')
      WHERE corpus_n = (SELECT COUNT(*) FROM documents)),
    btok AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents),
    bw AS (SELECT doc_id, unnest(t) AS word FROM btok),
    seg AS (
      SELECT doc_id, word,
             CASE WHEN regexp_matches(word, '^[!-~]+$') THEN
               list_reduce(
                 list_prepend(
                   regexp_replace(word, '(.)', '{_S}\\1{_S}', 'g'),
                   (SELECT ms FROM m)),
                 (acc, p) -> replace(acc, p,
                                     replace(p, '{_S}{_S}', '')))
             END AS s
      FROM bw),
    encw AS (
      SELECT doc_id,
             CASE WHEN s IS NULL THEN 1
                  ELSE (length(s) - length(replace(s, '{_S}', ''))) // 2
             END AS n_tok
      FROM seg),
    enc_docs AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.n_words, 0) AS BIGINT) AS n_words,
             CAST(COALESCE(c.n_tok, 0) AS BIGINT) AS n_bpe_tokens
      FROM documents d
      LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_words, SUM(n_tok) AS n_tok
        FROM encw GROUP BY 1) c USING (doc_id))
    """


@query(
    "q_doc_bpe_encode",
    oracle=f"""
    WITH {_bpe_oracle_cte()}
    SELECT doc_id, n_words, n_bpe_tokens FROM enc_docs
    """,
)
def q_doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real tokenized length of every document under the trained BPE
    merge list (operators/bpe.bpe_doc_token_counts): the number the
    packing / token-budget queries need, replacing the regex
    pre-tokenizer proxy. The encode fold runs only on the
    distinct-word vocabulary; the corpus pays one (doc, word) shuffle
    and a vocabulary join."""
    from data_engineering_spark.operators.bpe import (
        bpe_doc_token_counts,
    )

    d = load_table(spark, sf_dir, "documents")
    return bpe_doc_token_counts(d, _bpe_merges(spark, sf_dir))


@query(
    "q_doc_bpe_pack_bins",
    oracle=f"""
    WITH {_bpe_oracle_cte()},
    wl AS (
      SELECT d.lang, d.source, e.doc_id, e.n_bpe_tokens,
             COALESCE(SUM(e.n_bpe_tokens) OVER (
               PARTITION BY d.lang, d.source ORDER BY e.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // 2048 AS pack_id
      FROM enc_docs e JOIN documents d USING (doc_id))
    SELECT lang, source, CAST(pack_id AS INT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc
    FROM wl GROUP BY 1, 2, 3
    """,
)
def q_doc_bpe_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing driven by REAL BPE token counts (the r6
    verdict gap: pack_chunks consumed proxy counts): documents packed
    into 2048-token training bins per (lang, source) shard, greedy
    running-total assignment (operators/text.pack_chunks closed form)
    over the encode output. Packing is per-shard precisely so no
    window partition grows with the corpus-per-language — the
    parallelism unit is the shard key, the same contract as
    q_doc_pack_bins's per-document packing."""
    from data_engineering_spark.operators.bpe import (
        bpe_doc_token_counts,
    )
    from data_engineering_spark.operators.text import pack_chunks

    d = load_table(spark, sf_dir, "documents")
    counts = bpe_doc_token_counts(d, _bpe_merges(spark, sf_dir))
    per_doc = d.select("doc_id", "lang", "source").join(
        counts, "doc_id"
    )
    packed = pack_chunks(
        per_doc,
        budget_tokens=2048,
        partition_cols=("lang", "source"),
        order_cols=("doc_id",),
        tokens_col="n_bpe_tokens",
    )
    return packed.groupBy("lang", "source", "pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bpe_tokens").cast("bigint").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )




@query(
    "q_doc_lm_bigram_stats",
    oracle=f"""
    WITH ltok AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents),
    tfeat AS (
      SELECT unnest(t) AS f FROM ltok WHERE lang = 'en'
      UNION ALL
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS f
      FROM ltok WHERE lang = 'en'),
    lm AS (
      SELECT ('0x' || substr(md5(f), 1, 15))::BIGINT % {_LMB} AS bucket,
             COUNT(*) AS c
      FROM tfeat GROUP BY 1),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS w12
      FROM ltok),
    keyed AS (
      SELECT doc_id,
             ('0x' || substr(md5(w12), 1, 15))::BIGINT % {_LMB} AS b12,
             ('0x' || substr(md5(w1), 1, 15))::BIGINT % {_LMB} AS b1
      FROM big),
    per AS (
      SELECT k.doc_id, COUNT(*) AS n_bigrams,
             SUM(COALESCE(j.c, 0)) AS sum_c12,
             SUM(COALESCE(x.c, 0)) AS sum_c1
      FROM keyed k
      LEFT JOIN lm j ON k.b12 = j.bucket
      LEFT JOIN lm x ON k.b1 = x.bucket
      GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(p.sum_c12, 0) AS BIGINT) AS sum_c12,
           CAST(COALESCE(p.sum_c1, 0) AS BIGINT) AS sum_c1
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
)
def q_doc_lm_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTEGER core of the CCNet perplexity filter, fully oracled
    (r6 verdict item 4): per-document bigram count plus the summed
    joint/context LM-count lookups — the exact fixed-point inputs
    whose logs q_doc_lm_perplexity takes.  md5 buckets so DuckDB
    recomputes LM training AND inference bit-exactly; only the
    transcendental tail of the sibling query remains oracle-exempt."""
    from data_engineering_spark.operators.lm import (
        lm_bigram_stats,
        train_bigram_lm,
    )

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("lang") == "en")
    lm = train_bigram_lm(target, num_buckets=_LMB, bucket_hash="md5")
    return lm_bigram_stats(d, lm, num_buckets=_LMB, bucket_hash="md5")


def _bpe_fixture_path() -> str:
    from data_engineering_spark.queries._fixtures import (
        bpe_fixture_path,
        seed_bpe_fixture,
        warn_fixture_write_failed,
)

    try:
        seed_bpe_fixture()  # registration-time pre-seed (see above)
    except Exception as e:
        warn_fixture_write_failed("seed_bpe_fixture", e)
    return bpe_fixture_path()


def _bpe_token_stream_cte() -> str:
    """CTEs ending in `bpe_ids` (doc_id, wpos, tpos, token_id) — the
    DuckDB twin of operators/bpe.bpe_encode_ids (full encode + id
    assignment from the fixture-shared merge list). Shared by
    q_doc_bpe_token_ids and q_doc_packed_examples."""
    return f"""
    m AS (
      SELECT COALESCE(list(pat ORDER BY idx), []) AS ms
      FROM read_parquet('{{bpe_path}}')
      WHERE corpus_n = (SELECT COUNT(*) FROM documents)),
    mv AS (
      -- first-occurrence-wins on duplicate token strings, mirroring
      -- bpe_vocab_ids (two merges can concatenate identically; the
      -- earlier id is the one the fold actually produces)
      SELECT replace(pat, '{_S}', '') AS tok, 95 + MIN(idx) AS tid
      FROM read_parquet('{{bpe_path}}')
      WHERE corpus_n = (SELECT COUNT(*) FROM documents)
      GROUP BY 1),
    itok AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents),
    iw AS (
      SELECT doc_id, generate_subscripts(t, 1) - 1 AS wpos,
             unnest(t) AS word
      FROM itok),
    iseg AS (
      SELECT doc_id, wpos, word,
             CASE WHEN regexp_matches(word, '^[!-~]+$') THEN
               list_reduce(
                 list_prepend(
                   regexp_replace(word, '(.)', '{_S}\\1{_S}', 'g'),
                   (SELECT ms FROM m)),
                 (acc, p) -> replace(acc, p,
                                     replace(p, '{_S}{_S}', '')))
             END AS s
      FROM iw),
    its AS (
      SELECT doc_id, wpos,
             CASE WHEN s IS NULL THEN [word]
                  ELSE string_split(trim(s, '{_S}'), '{_S}{_S}')
             END AS ts
      FROM iseg),
    itk AS (
      SELECT doc_id, wpos, generate_subscripts(ts, 1) - 1 AS tpos,
             unnest(ts) AS tok
      FROM its),
    bpe_ids AS (
      SELECT t.doc_id, CAST(t.wpos AS INT) AS wpos,
             CAST(t.tpos AS INT) AS tpos,
             CAST(COALESCE(mv.tid,
               CASE WHEN length(t.tok) = 1
                         AND regexp_matches(t.tok, '^[!-~]$')
                    THEN 1 + ascii(t.tok) - 33 ELSE 0 END) AS INT)
               AS token_id
      FROM itk t LEFT JOIN mv ON mv.tok = t.tok)
    """.replace("{bpe_path}", _bpe_fixture_path())


@query(
    "q_doc_bpe_token_ids",
    oracle=f"""
    WITH {_bpe_token_stream_cte()}
    SELECT doc_id, wpos, tpos, token_id FROM bpe_ids
    """,
)
def q_doc_bpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenized corpus as an integer-id stream — what a training
    pipeline feeds the model (operators/bpe.bpe_encode_ids): ids are a
    pure function of the fixture-shared merge list (<unk>=0, base
    ASCII 1..94, merges 95..), (wpos, tpos) gives a deterministic
    within-document order without a global sequence window. DuckDB
    replays the full encode AND the id assignment."""
    from data_engineering_spark.operators.bpe import bpe_encode_ids

    d = load_table(spark, sf_dir, "documents")
    return bpe_encode_ids(d, _bpe_merges(spark, sf_dir))


@query(
    "q_doc_token_budget_mix",
    oracle=f"""
    WITH {{bpe_cte}},
    dem AS (
      SELECT d.source,
             CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS demand
      FROM enc_docs e JOIN documents d USING (doc_id)
      GROUP BY 1),
    r AS (
      SELECT source, demand,
             ROW_NUMBER() OVER (ORDER BY demand, source) AS k,
             SUM(demand) OVER (ORDER BY demand, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
             COUNT(*) OVER () AS n
      FROM dem),
    f AS (
      SELECT *, demand * (n - k + 1) <= 10000 - (pfx - demand) AS funded
      FROM r),
    bp AS (
      SELECT COALESCE(MAX(k), 0) AS bk, COALESCE(MAX(pfx), 0) AS bpfx
      FROM f WHERE funded),
    alloc AS (
      SELECT source, demand,
             CASE WHEN k <= bk THEN CAST(demand AS DOUBLE)
                  ELSE CAST(10000 - bpfx AS DOUBLE)
                       / CAST(n - bk AS DOUBLE) END AS alloc
      FROM f, bp),
    cum AS (
      SELECT d.source, e.doc_id, e.n_bpe_tokens,
             SUM(e.n_bpe_tokens) OVER (
               PARTITION BY d.source ORDER BY e.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS c
      FROM enc_docs e JOIN documents d USING (doc_id)),
    sel AS (
      SELECT cum.source,
             COUNT(*) AS n_docs_kept,
             CAST(SUM(cum.n_bpe_tokens) AS BIGINT) AS tokens_kept
      FROM cum JOIN alloc USING (source)
      WHERE cum.c <= alloc.alloc
      GROUP BY 1)
    SELECT a.source, a.demand, a.alloc,
           CAST(COALESCE(s.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
           CAST(COALESCE(s.tokens_kept, 0) AS BIGINT) AS tokens_kept
    FROM alloc a LEFT JOIN sel s USING (source)
    """.replace("{bpe_cte}", _bpe_oracle_cte()),
)
def q_doc_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing on REAL tokenizer counts — the
    composition round-7's encode work exists for: per-source BPE token
    demands → max-min-fair water-fill of a 10k-token training budget
    (operators/filters.water_fill) → the actual greedy selection
    (docs kept in doc_id order while the source's running token total
    stays within its allocation). Output: per-source demand,
    allocation, and what the selection materialized.

    Scale note: the selection cumsum windows per SOURCE — the
    parallelism unit is the source key, same contract as
    pack_chunks/pack_bins (budget selection normally runs on the
    already-curated corpus; for a raw-crawl-sized run, sub-shard the
    order key the way q_events_equidepth_histogram does)."""
    from pyspark.sql import Window

    from data_engineering_spark.operators.bpe import (
        bpe_doc_token_counts,
    )
    from data_engineering_spark.operators.filters import water_fill

    d = load_table(spark, sf_dir, "documents")
    counts = bpe_doc_token_counts(d, _bpe_merges(spark, sf_dir))
    per_doc = d.select("doc_id", "source").join(counts, "doc_id")
    demands = per_doc.groupBy("source").agg(
        F.sum("n_bpe_tokens").cast("long").alias("demand")
    )
    # the allocation is one row per SOURCE — collect it (metadata-
    # sized action; water_fill's single-partition window runs over
    # that aggregate, the documented q_doc_source_budget exemption)
    # and re-literalize, so the returned plan carries a LocalRelation
    # instead of duplicating the whole demands+water-fill subtree in
    # both consumers below (a LocalRelation because local_frame hands
    # the rows to the JVM as Arrow; a Python-list createDataFrame would
    # plan a pickled-RDD LogicalRDD here)
    alloc = local_frame(
        spark,
        water_fill(demands, "source", "demand", budget=10_000)
        .collect(),
        "source string, demand long, alloc double",
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = (
        per_doc.withColumn("__c", F.sum("n_bpe_tokens").over(w))
        .join(F.broadcast(alloc.select("source", "alloc")), "source")
        .filter(F.col("__c") <= F.col("alloc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_bpe_tokens").cast("long").alias("tokens_kept"),
        )
    )
    return alloc.join(sel, "source", "left").select(
        "source",
        "demand",
        "alloc",
        F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
        F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
    )


@query(
    "q_doc_packed_examples",
    oracle=f"""
    WITH {{stream}},
    dc AS (
      SELECT d.doc_id, d.lang, d.source,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n_tok
      FROM documents d
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n
                 FROM bpe_ids GROUP BY 1) c USING (doc_id)),
    pw AS (
      SELECT doc_id, lang, source, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang, source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // 2048 AS pack_id
      FROM dc),
    pk AS (
      SELECT lang, source, CAST(pack_id AS INT) AS pack_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             MIN(doc_id) AS first_doc
      FROM pw GROUP BY 1, 2, 3),
    csvs AS (
      SELECT w.lang, w.source, CAST(w.pack_id AS INT) AS pack_id,
             string_agg(CAST(i.token_id AS VARCHAR), ','
               ORDER BY i.doc_id, i.wpos, i.tpos) AS token_csv
      FROM bpe_ids i JOIN pw w USING (doc_id)
      GROUP BY 1, 2, 3)
    SELECT pk.lang, pk.source, pk.pack_id, pk.n_docs, pk.n_tokens,
           pk.first_doc, COALESCE(c.token_csv, '') AS token_csv
    FROM pk LEFT JOIN csvs c
      ON pk.lang = c.lang AND pk.source = c.source
     AND pk.pack_id = c.pack_id
    """.replace("{stream}", _bpe_token_stream_cte()),
)
def q_doc_packed_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's last mile, materialized: tokenized documents
    concatenated into 2048-token training examples per (lang, source)
    shard — each example row carries its full token-id stream (CSV,
    the repo's type-plain array emission), member-doc count, token
    total, and first doc.  Composes bpe_doc_token_counts (budget
    math), pack_chunks (bin assignment) and bpe_encode_ids (the id
    stream); the oracle replays all three.  Same per-shard
    window contract as q_doc_bpe_pack_bins."""
    from pyspark.sql import Window

    from data_engineering_spark.operators.bpe import (
        bpe_doc_token_counts,
        bpe_encode_ids,
    )
    from data_engineering_spark.operators.text import pack_chunks

    d = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    counts = bpe_doc_token_counts(d, merges)
    per_doc = d.select("doc_id", "lang", "source").join(
        counts, "doc_id"
    )
    packed = pack_chunks(
        per_doc,
        budget_tokens=2048,
        partition_cols=("lang", "source"),
        order_cols=("doc_id",),
        tokens_col="n_bpe_tokens",
    ).select("doc_id", "lang", "source", "pack_id", "n_bpe_tokens")
    pk = packed.groupBy("lang", "source", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bpe_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )
    ids = bpe_encode_ids(d, merges)
    csvs = (
        ids.join(
            packed.select("doc_id", "lang", "source", "pack_id"),
            "doc_id",
        )
        .groupBy("lang", "source", "pack_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "doc_id", "wpos", "tpos", "token_id"
                            )
                        )
                    ),
                    lambda s: s["token_id"].cast("string"),
                ),
                ",",
            ).alias("token_csv")
        )
    )
    return pk.join(csvs, ["lang", "source", "pack_id"], "left").select(
        "lang",
        "source",
        "pack_id",
        "n_docs",
        "n_tokens",
        "first_doc",
        F.coalesce("token_csv", F.lit("")).alias("token_csv"),
    )


@query(
    "q_doc_epoch_mix",
    oracle="""
    WITH {bpe_cte},
    edem AS (
      SELECT d.source, CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS demand
      FROM enc_docs e JOIN documents d USING (doc_id) GROUP BY 1),
    etot AS (SELECT SUM(demand) AS t FROM edem),
    ecap AS (SELECT source, demand, demand * 4 AS cap FROM edem),
    er AS (
      SELECT source, demand, cap,
             ROW_NUMBER() OVER (ORDER BY cap, source) AS k,
             SUM(cap) OVER (ORDER BY cap, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx,
             COUNT(*) OVER () AS n
      FROM ecap),
    ef AS (
      SELECT er.*, etot.t AS total,
             cap * (n - k + 1) <= 2 * etot.t - (pfx - cap) AS funded
      FROM er, etot),
    ebp AS (
      SELECT COALESCE(MAX(k), 0) AS bk, COALESCE(MAX(pfx), 0) AS bpfx
      FROM ef WHERE funded),
    ea AS (
      SELECT source, demand,
             CASE WHEN k <= bk THEN CAST(cap AS DOUBLE)
                  ELSE CAST(2 * total - bpfx AS DOUBLE)
                       / CAST(n - bk AS DOUBLE) END AS alloc
      FROM ef, ebp)
    SELECT source, demand, alloc,
           CAST(FLOOR(alloc / demand) AS BIGINT) AS n_full_epochs,
           alloc - FLOOR(alloc / demand) * demand AS partial_tokens
    FROM ea
    """.replace("{bpe_cte}", _bpe_oracle_cte()),
)
def q_doc_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch mixing (Muennighoff 2023, public): with
    a token budget of 2x the corpus's unique-token supply, water-fill
    over per-source CAPACITY = demand·4 — each source contributes up
    to 4 full epochs before repetition stops helping; large sources
    are levelled to a common token cap. Output: per-source demand,
    allocation, complete epochs, and the partial-pass remainder — the
    repetition plan a data-constrained run trains on
    (operators/filters.epoch_allocation over the real BPE demands)."""
    from data_engineering_spark.operators.bpe import (
        bpe_doc_token_counts,
    )
    from data_engineering_spark.operators.filters import (
        epoch_allocation,
    )

    d = load_table(spark, sf_dir, "documents")
    counts = bpe_doc_token_counts(d, _bpe_merges(spark, sf_dir))
    demands = (
        d.select("doc_id", "source")
        .join(counts, "doc_id")
        .groupBy("source")
        .agg(F.sum("n_bpe_tokens").cast("long").alias("demand"))
    )
    # the budget derives from the corpus itself (2x unique supply) —
    # a one-row collect, the water_fill alloc-literalization pattern
    total = demands.agg(F.sum("demand")).collect()[0][0] or 0
    return epoch_allocation(
        demands, "source", "demand", budget=2 * int(total), max_epochs=4
    )
