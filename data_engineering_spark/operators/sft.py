"""SFT / conversation data preparation (VERDICT r9 #5).

The post-training side of the training-data pipeline: chat-structured
corpora arrive as role-tagged turn tables and must become (a) flattened
template strings with special tokens, (b) loss-mask spans so the
trainer optimizes only assistant turns, (c) per-turn / per-role token
counts for budget math, and (d) conversation-level dedup keyed on
normalized turn content. Reference parity: the reference engine has no
SFT surface (incremental_kafka_s3_cdc.py is ingest-only); this family
is part of the brief's "operations a large-scale training-data
pipeline would need".

Scale design: everything is one conv-keyed aggregation (the inherent
shuffle of per-conversation assembly — collect the turns, fold once)
plus, for dedup, one key-keyed aggregation; no windows without
partition specs, no UDFs, no driver loops. Turn synthesis from a plain
document table is ZERO-shuffle (array slicing + one explode).

Template: the ChatML shape (public: OpenAI chat markup, used verbatim
by many open models) — ``<|im_start|>{role}\\n{content}<|im_end|>\\n``
per turn. All offsets are CHARACTER offsets into the flattened string;
every piece of the arithmetic is integer, so DuckDB twins replay it
hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_spark.operators.materialize import CacheScope
from data_engineering_spark.operators.text import tokens

CHAT_BOT = "<|im_start|>"  # begin-of-turn
CHAT_EOT = "<|im_end|>\n"  # end-of-turn (newline included, ChatML)
CHAT_NL = "\n"  # role/content separator

# synthesized-conversation defaults (queries/sft.py shares these with
# the DuckDB twins): W words per turn, at most T turns per document
SFT_TURN_WORDS = 8
SFT_MAX_TURNS = 8


def synthesize_turns(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    turn_words: int = SFT_TURN_WORDS,
    max_turns: int = SFT_MAX_TURNS,
) -> DataFrame:
    """Deterministic role-tagged turn table synthesized from a plain
    document corpus — the testdata has no chat corpus, so the family's
    queries derive one the way events_cdc derives Debezium envelopes:
    whitespace words are sliced into `turn_words`-word turns (at most
    `max_turns`, truncating the tail), with roles alternating
    user/assistant from turn 0.

    Returns (conv_id, turn_idx int, role string, turn_text string,
    n_turn_words int). ZERO shuffle: tokenize → slice → one explode,
    all JVM array expressions. Documents with no words yield no
    conversation (nothing to talk about)."""
    if turn_words <= 0:
        raise ValueError(f"turn_words must be positive: {turn_words}")
    if max_turns <= 0:
        raise ValueError(f"max_turns must be positive: {max_turns}")
    tok = tokens(text_col)
    n_turns = F.least(
        F.ceil(F.size(tok) / F.lit(turn_words)),
        F.lit(max_turns),
    ).cast("int")
    # guard the F.sequence(0, n-1) descending-sequence footgun (same
    # class as kmv_rolling's): only rows with >= 1 word reach it
    base = docs.filter(F.size(tok) > 0).select(
        F.col(id_col).alias("conv_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_turns - 1),
                lambda t: F.array_join(
                    F.slice(tok, t * turn_words + 1, turn_words), " "
                ),
            )
        ).alias("turn_idx", "turn_text"),
    )
    return base.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(F.col("turn_idx") % 2 == 0, "user")
        .otherwise("assistant")
        .alias("role"),
        "turn_text",
        F.size(F.split("turn_text", " ")).alias("n_turn_words"),
    )


def _block(role: Column, text: Column) -> Column:
    """One turn's template block: <|im_start|>{role}\\n{text}<|im_end|>\\n"""
    return F.concat(
        F.lit(CHAT_BOT), role, F.lit(CHAT_NL), text, F.lit(CHAT_EOT)
    )


def _sorted_turns(
    turns: DataFrame,
    conv_col: str,
    idx_col: str,
    role_col: str,
    text_col: str,
) -> DataFrame:
    """(conv_id, ts: array<struct<i,role,text>> sorted by turn index) —
    the shared per-conversation assembly: ONE conv-keyed aggregation,
    array_sort on the collected structs (collect_list order is
    partition-dependent; the sort restores determinism)."""
    return (
        turns.groupBy(F.col(conv_col).alias("conv_id"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(idx_col).cast("int").alias("i"),
                        F.col(role_col).alias("role"),
                        F.col(text_col).alias("text"),
                    )
                )
            ).alias("ts")
        )
    )


def chat_template_flatten(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
) -> DataFrame:
    """(conv_id, chat_text, n_turns, n_assistant_turns, n_chars): the
    training string — every turn rendered as a ChatML block,
    concatenated in turn order. One conv-keyed shuffle; the concat is
    a JVM array fold over the sorted turn structs."""
    st = _sorted_turns(turns, conv_col, idx_col, role_col, text_col)
    blocks = F.transform(
        F.col("ts"), lambda t: _block(t["role"], t["text"])
    )
    return st.select(
        "conv_id",
        F.array_join(blocks, "").alias("chat_text"),
        F.size("ts").alias("n_turns"),
        F.size(
            F.filter(F.col("ts"), lambda t: t["role"] == "assistant")
        ).alias("n_assistant_turns"),
        F.length(F.array_join(blocks, "")).alias("n_chars"),
    )


def loss_mask_spans(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
    mask_role: str = "assistant",
) -> DataFrame:
    """(conv_id, turn_idx, span_start, span_end, n_mask_chars): the
    0-based character span of each `mask_role` turn's CONTENT inside
    chat_template_flatten's string — the trainer masks everything else
    (train-on-assistant-only, the standard SFT loss rule).

    span covers exactly the content (not the role header or the
    end-of-turn marker): start = (sum of all previous blocks' lengths)
    + len(BOT) + len(role) + 1; end = start + len(content). Same
    single conv-keyed aggregation as the flatten; prefix sums run as a
    JVM fold over the ≤max_turns sorted structs (O(T²) with T tiny,
    no second shuffle, no window)."""
    st = _sorted_turns(turns, conv_col, idx_col, role_col, text_col)
    lens = F.transform(
        F.col("ts"),
        lambda t: F.length(_block(t["role"], t["text"])),
    )
    spans = F.transform(
        F.col("ts"),
        lambda t, j: F.struct(
            t["i"].alias("turn_idx"),
            t["role"].alias("role"),
            (
                F.aggregate(
                    F.slice(lens, 1, j),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
                + F.lit(len(CHAT_BOT))
                + F.length(t["role"])
                + F.lit(len(CHAT_NL))
            ).alias("span_start"),
            F.length(t["text"]).alias("n_mask_chars"),
        ),
    )
    ex = st.select(
        "conv_id", F.explode(spans).alias("s")
    ).filter(F.col("s.role") == mask_role)
    return ex.select(
        "conv_id",
        F.col("s.turn_idx").alias("turn_idx"),
        F.col("s.span_start").cast("long").alias("span_start"),
        (F.col("s.span_start") + F.col("s.n_mask_chars"))
        .cast("long")
        .alias("span_end"),
        F.col("s.n_mask_chars").cast("long").alias("n_mask_chars"),
    )


def conversation_dedup(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
    release_cache: bool = False,
) -> DataFrame:
    """(conv_id, n_copies, is_canonical): conversation-level exact
    dedup keyed on the NORMALIZED turn sequence — role plus
    lowercased, whitespace-collapsed content, in turn order. Two
    conversations that differ only in casing/spacing are copies; the
    canonical one is the minimum conv_id (engine-independent).

    Plan: the conv-keyed assembly, a sha2 fingerprint of the joined
    normalized sequence (content never shuffles again — only the
    256-bit key), then ONE key-keyed aggregation joined back
    (agg+join, not a window, so AQE skew handling applies to viral
    duplicate clusters — the operators/dedup.py rationale).

    ``release_cache=True``: eagerly materialize the (conv-sized,
    three-column) result and unpersist the internal key cache before
    returning — for long-lived sessions that must not accumulate
    cached blocks per call (same contract as minhash/similarity
    release_cache; VERDICT r10 nit #3)."""
    # keyed feeds two consumers (group stats + the join back); each
    # recomputation re-pays the conv-assembly shuffle, so the
    # fixed-width (conv_id, 64-char key) frame persists — the dsir
    # raw_counts / LSH band-rows rationale. Turns join on the \x1f
    # unit separator so ('ab','c') never collides with ('a','bc').
    st = _sorted_turns(turns, conv_col, idx_col, role_col, text_col)
    norm = F.transform(
        F.col("ts"),
        lambda t: F.concat(
            t["role"],
            F.lit(":"),
            F.lower(
                F.regexp_replace(F.trim(t["text"]), r"\s+", " ")
            ),
        ),
    )
    with CacheScope(release_cache) as scope:
        keyed = scope.persist(
            st.select(
                "conv_id",
                F.sha2(F.array_join(norm, "\x1f"), 256).alias("__key"),
            )
        )
        grp = keyed.groupBy("__key").agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("conv_id").alias("__canon"),
        )
        result = (
            keyed.join(grp, "__key")
            .select(
                "conv_id",
                F.col("n_copies").cast("long").alias("n_copies"),
                (F.col("conv_id") == F.col("__canon")).alias(
                    "is_canonical"
                ),
            )
        )
        return scope.result(result)


def preference_pairs(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
    response_role: str = "assistant",
) -> DataFrame:
    """(conv_id, prompt_text, chosen_text, rejected_text,
    n_prompt_chars, n_chosen_words, n_rejected_words): DPO/RLHF-style
    preference-pair construction (Rafailov et al. 2023 — public) from
    a turn table.

    prompt = the ChatML rendering of every turn BEFORE the LAST
    `response_role` turn, plus the open response header
    (``<|im_start|>assistant\\n``) — the generation prompt a preference
    trainer scores both completions under. chosen = that last response
    turn's content. rejected = a deterministic synthetic degradation
    (the chosen content with word order reversed) — the testdata has
    no competing model outputs, so the pair STRUCTURE is what this
    operator ships; swap `rejected` for a real second completion
    column when one exists. Conversations with no response turn drop.

    Same single conv-keyed aggregation as the flatten; everything else
    is JVM array/string expressions."""
    st = _sorted_turns(turns, conv_col, idx_col, role_col, text_col)
    resp_idx = F.array_max(
        F.transform(
            F.filter(F.col("ts"), lambda t: t["role"] == response_role),
            lambda t: t["i"],
        )
    )
    with_last = st.withColumn("__li", resp_idx).filter(
        F.col("__li").isNotNull()
    )
    prompt = F.concat(
        F.array_join(
            F.transform(
                F.filter(
                    F.col("ts"), lambda t: t["i"] < F.col("__li")
                ),
                lambda t: _block(t["role"], t["text"]),
            ),
            "",
        ),
        F.lit(CHAT_BOT),
        F.lit(response_role),
        F.lit(CHAT_NL),
    )
    chosen = F.element_at(
        F.transform(
            F.filter(
                F.col("ts"), lambda t: t["i"] == F.col("__li")
            ),
            lambda t: t["text"],
        ),
        1,
    )
    rejected = F.array_join(F.reverse(F.split(chosen, " ")), " ")
    return with_last.select(
        "conv_id",
        prompt.alias("prompt_text"),
        chosen.alias("chosen_text"),
        rejected.alias("rejected_text"),
        F.length(prompt).cast("long").alias("n_prompt_chars"),
        F.size(F.split(chosen, " ")).alias("n_chosen_words"),
        F.size(F.split(rejected, " ")).alias("n_rejected_words"),
    )


def turn_token_counts(
    turns: DataFrame,
    merges: list[tuple[str, str]],
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
    max_turns: int = SFT_MAX_TURNS,
    release_cache: bool = False,
) -> DataFrame:
    """(conv_id, turn_idx, role, n_words, n_bpe_tokens): real BPE
    token counts per TURN under the trained merge list — the
    per-turn granularity that conversation rollups, context-window
    splitting, and per-turn budget math all share.

    Runs bpe_doc_token_counts on a composite id (conv * (max_turns+1)
    + turn): the encode fold still runs once per DISTINCT word
    (Heaps-bounded), the corpus pays one (id, word) shuffle, and the
    decomposition joins the role back on (conv, turn). Requires
    turn_idx <= max_turns (the composite stride): a schema check
    rejects non-numeric id columns at plan time, and a row-level
    assert_true guard fails the job loudly if any turn_idx falls
    outside [0, width) — a silent violation would fold token counts
    into the WRONG conversation (ADVICE r10).

    Cache hygiene (VERDICT r11 #6): the internal turn projection is a
    catalog persist with the standard session-carry / clearCache
    contract (CacheManager matches it BY PLAN, so a repeat call on the
    same turn frame reuses the materialized blocks — measured 1.0 s on
    the benched steady state; a ContextCleaner-owned localCheckpoint
    was tried and lost exactly that reuse). Long-lived sessions that
    call this on DISTINCT turn frames must pass ``release_cache=True``
    — the result is materialized eagerly and the projection persist is
    dropped before returning (the conversation_dedup / dsir contract),
    so repeated calls cannot accumulate one pinned cache entry each;
    pinned by the distinct-frame soak test."""
    from pyspark.sql.types import NumericType

    from data_engineering_spark.operators.bpe import (
        bpe_doc_token_counts,
    )

    if max_turns <= 0:
        raise ValueError(f"max_turns must be positive: {max_turns}")
    for c in (conv_col, idx_col):
        dt = turns.schema[c].dataType
        if not isinstance(dt, NumericType):
            raise TypeError(
                f"turn_token_counts: column {c!r} must be numeric "
                f"(composite-id arithmetic), got {dt.simpleString()}"
            )
    width = max_turns + 1  # composite stride: turn_idx < width
    # the projected turn frame feeds THREE scans of one action — the
    # (id, word) occurrence side, bpe_doc_token_counts' never-drop doc
    # spine, and the role join-back below. Left un-marked, each scan
    # re-executes the caller's whole turn-synthesis subtree (measured
    # 0.8 s/scan at sf0.1 — the tokenize + slice + explode pipeline of
    # synthesize_turns). Persist the 4-column projection once.
    with CacheScope(release_cache) as scope:
        t = scope.persist(
            turns.select(
                F.col(conv_col).cast("long").alias("conv_id"),
                F.col(idx_col).cast("long").alias("turn_idx"),
                F.col(role_col).alias("role"),
                F.col(text_col).alias("turn_text"),
            )
        )
        # assert_true returns NULL when the predicate holds and throws
        # otherwise; gating the composite id on its nullity forces the
        # check into the same projection with zero extra jobs.
        in_range = (F.col("turn_idx") >= 0) & (F.col("turn_idx") < width)
        guard = F.assert_true(
            in_range,
            F.concat(
                F.lit(
                    f"turn_token_counts: turn_idx out of [0, {width}) "
                    "(raise max_turns): "
                ),
                F.col("turn_idx").cast("string"),
            ),
        )
        composite = t.select(
            F.when(
                guard.isNull(),
                F.col("conv_id") * width + F.col("turn_idx"),
            ).alias("__tid"),
            "turn_text",
        )
        per_turn = bpe_doc_token_counts(
            composite, merges, id_col="__tid", text_col="turn_text"
        )
        # `div` is integral division on longs — exact at 64-bit id scale,
        # where floor(double / width) would lose precision (ADVICE r10).
        result = per_turn.select(
            F.expr(f"__tid div {width}").cast("long").alias("conv_id"),
            F.pmod("__tid", F.lit(width)).cast("long").alias("turn_idx"),
            "n_words",
            "n_bpe_tokens",
        ).join(
            t.select("conv_id", "turn_idx", "role"),
            ["conv_id", "turn_idx"],
        )
        return scope.result(result)


def context_windows(
    turns: DataFrame,
    merges: list[tuple[str, str]],
    budget_tokens: int,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
    max_turns: int = SFT_MAX_TURNS,
    release_cache: bool = False,
) -> DataFrame:
    """(conv_id, turn_idx, role, n_bpe_tokens, window_id): split each
    conversation at TURN boundaries into consecutive windows sized by
    `budget_tokens` — the context-limit preparation for long
    conversations. Turns are never split; assignment is the
    closed-form pack_chunks rule window_id = floor(cumulative_tokens
    / budget), so an over-budget turn may SHARE a window with the
    small turns that preceded it and a window's total may exceed the
    budget by up to one turn (the documented pack_chunks overflow
    semantics — there is no hard per-window ceiling).

    Greedy running-total assignment per conversation via the shared
    pack_chunks machinery (window partitioned BY CONVERSATION — no
    partition grows with the corpus)."""
    from data_engineering_spark.operators.text import pack_chunks

    if budget_tokens <= 0:
        raise ValueError(
            f"budget_tokens must be positive: {budget_tokens}"
        )
    per_turn = turn_token_counts(
        turns, merges, conv_col, idx_col, role_col, text_col,
        max_turns, release_cache=release_cache,
    )
    packed = pack_chunks(
        per_turn,
        budget_tokens=budget_tokens,
        partition_cols=("conv_id",),
        order_cols=("turn_idx",),
        tokens_col="n_bpe_tokens",
    )
    return packed.select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("pack_id").cast("int").alias("window_id"),
    )


def conversation_token_counts(
    turns: DataFrame,
    merges: list[tuple[str, str]],
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
    max_turns: int = SFT_MAX_TURNS,
    release_cache: bool = False,
) -> DataFrame:
    """(conv_id, n_turns, n_words, n_tokens, n_assistant_tokens): real
    BPE token counts per conversation under the trained merge list,
    split by role — n_assistant_tokens is the TRAINABLE token count
    (the number an SFT budget actually allocates; user turns are
    masked, see loss_mask_spans).

    Reuses the bpe_doc_token_counts fold verbatim on a composite
    (conv, turn) id: the encode fold still runs once per DISTINCT word
    (Heaps-bounded), the corpus pays the same one (id, word) shuffle,
    and the rollup re-aggregates by conversation with role from the
    turn index's parity-free role column join."""
    back = turn_token_counts(
        turns, merges, conv_col, idx_col, role_col, text_col,
        max_turns, release_cache=release_cache,
    )
    return back.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe_tokens").cast("long").alias("n_tokens"),
        F.sum(
            F.when(
                F.col("role") == "assistant", F.col("n_bpe_tokens")
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_assistant_tokens"),
    )


def conversation_lint(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
    allowed_roles: tuple[str, ...] = ("system", "user", "assistant"),
) -> DataFrame:
    """(conv_id, n_turns, n_empty_turns, n_bad_roles,
    n_alternation_breaks, first_role, last_role, is_valid):
    structural validation of an SFT conversation corpus — the QA pass
    a data lead runs BEFORE the chat-template/token-count stages,
    because every downstream operator assumes well-formed turns.

    Checks (all integer/boolean — hash-oracle-able):
    - n_empty_turns: turns whose trimmed content is empty;
    - n_bad_roles: roles outside `allowed_roles`;
    - n_alternation_breaks: adjacent turns (in turn order) sharing a
      role — the user/user or assistant/assistant stutter that breaks
      chat templates;
    - first_role / last_role: the boundary roles (training examples
      conventionally open with system/user and close on assistant);
    - is_valid: all counters zero AND first_role in (system, user)
      AND last_role = assistant.

    Plan: the shared _sorted_turns assembly — ONE conv-keyed
    aggregation; every check is an array fold over the <=max_turns
    sorted structs (no window, no UDF, nothing grows with the
    corpus)."""
    st = _sorted_turns(turns, conv_col, idx_col, role_col, text_col)
    roles = F.transform(F.col("ts"), lambda t: t["role"])
    n = F.size("ts")
    n_empty = F.size(
        F.filter(F.col("ts"), lambda t: F.trim(t["text"]) == "")
    )
    n_bad = F.size(
        F.filter(roles, lambda r: ~r.isin(*allowed_roles))
    )
    # adjacent-pair fold: zip roles[1..n-1] with roles[2..n] and count
    # equal pairs; slice lengths clamp at 0 so 0/1-turn convs emit 0
    pair_len = F.greatest(n - 1, F.lit(0))
    breaks = F.size(
        F.filter(
            F.zip_with(
                F.slice(roles, F.lit(1), pair_len),
                F.slice(roles, F.lit(2), pair_len),
                lambda a, b: a == b,
            ),
            lambda x: x,
        )
    )
    first_role = F.element_at(roles, 1)
    last_role = F.element_at(roles, -1)
    return st.select(
        "conv_id",
        n.alias("n_turns"),
        n_empty.alias("n_empty_turns"),
        n_bad.alias("n_bad_roles"),
        breaks.alias("n_alternation_breaks"),
        first_role.alias("first_role"),
        last_role.alias("last_role"),
        (
            (n_empty == 0)
            & (n_bad == 0)
            & (breaks == 0)
            & first_role.isin("system", "user")
            & (last_role == "assistant")
        ).alias("is_valid"),
    )


# --------------------------------------------------------------------------
# Tool-call conversation prep: modern SFT corpora carry function-call
# turns (an assistant turn whose content is a JSON call object,
# followed by a role='tool' result turn). Extraction and pairing
# validation are the QA/feature pass before such corpora train.
# JSON parse is JVM-side from_json (the cdc/envelope.py idiom) — no
# UDF; pairing is one (conv, idx)-keyed self equi-join per neighbor.
# --------------------------------------------------------------------------

TOOL_CALL_PREFIX = '{"name"'  # a call turn's content starts with this
TOOL_CALL_SCHEMA = "name string, arguments struct<q:string>"


def _tool_base(turns, conv_col, idx_col, role_col, text_col):
    parsed = F.from_json(F.col(text_col), TOOL_CALL_SCHEMA)
    return turns.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).cast("int").alias("turn_idx"),
        F.col(role_col).alias("role"),
        F.col(text_col).alias("turn_text"),
        (
            (F.col(role_col) == "assistant")
            & F.col(text_col).startswith(TOOL_CALL_PREFIX)
        ).alias("__is_call"),
        parsed["name"].alias("__name"),
        parsed["arguments"]["q"].alias("__q"),
    )


def tool_call_extract(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
) -> DataFrame:
    """(conv_id, turn_idx, tool_name, arg_q, is_wellformed,
    has_result): one row per tool-CALL turn (assistant content opening
    with the call-object prefix). `is_wellformed` = the JSON parsed
    and carried both name and arguments.q (from_json PERMISSIVE nulls
    the struct on malformed input — failure is a flag, not an
    exception); `has_result` = the NEXT turn exists with role='tool'
    (the call/result pairing trainers rely on).

    Plan: one projection + one (conv, idx)-keyed left self-join for
    the next turn's role. Nothing grows with conversation length."""
    base = _tool_base(turns, conv_col, idx_col, role_col, text_col)
    nxt = base.select(
        "conv_id",
        (F.col("turn_idx") - 1).alias("turn_idx"),
        F.col("role").alias("__next_role"),
    )
    return (
        base.filter(F.col("__is_call"))
        .join(nxt, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id",
            "turn_idx",
            F.col("__name").alias("tool_name"),
            F.col("__q").alias("arg_q"),
            (
                F.col("__name").isNotNull()
                & F.col("__q").isNotNull()
            ).alias("is_wellformed"),
            F.coalesce(
                F.col("__next_role") == "tool", F.lit(False)
            ).alias("has_result"),
        )
    )


def tool_call_stats(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "turn_text",
) -> DataFrame:
    """(conv_id, n_tool_calls, n_wellformed_calls, n_tool_results,
    n_paired_calls, n_orphan_results, is_valid): per-conversation
    tool-use accounting — every call well-formed, every call answered
    by the next turn, no result without a preceding call. Conversations
    with no tool turns are trivially valid (all counters zero).

    Plan: the extraction projection + two (conv, idx)-keyed self
    equi-joins (next role / previous is-call) + one conv aggregation
    — all on the same join key, so the shuffle partitioning is
    reused."""
    base = _tool_base(turns, conv_col, idx_col, role_col, text_col)
    nxt = base.select(
        "conv_id",
        (F.col("turn_idx") - 1).alias("turn_idx"),
        F.col("role").alias("__next_role"),
    )
    prv = base.select(
        "conv_id",
        (F.col("turn_idx") + 1).alias("turn_idx"),
        F.col("__is_call").alias("__prev_is_call"),
    )
    j = (
        base.join(nxt, ["conv_id", "turn_idx"], "left")
        .join(prv, ["conv_id", "turn_idx"], "left")
    )
    wf = F.col("__name").isNotNull() & F.col("__q").isNotNull()
    lng = lambda c: F.sum(c.cast("int")).cast("long")  # noqa: E731
    agg = j.groupBy("conv_id").agg(
        lng(F.col("__is_call")).alias("n_tool_calls"),
        lng(F.col("__is_call") & wf).alias("n_wellformed_calls"),
        lng(F.col("role") == "tool").alias("n_tool_results"),
        lng(
            F.col("__is_call")
            & F.coalesce(F.col("__next_role") == "tool", F.lit(False))
        ).alias("n_paired_calls"),
        lng(
            (F.col("role") == "tool")
            & ~F.coalesce(F.col("__prev_is_call"), F.lit(False))
        ).alias("n_orphan_results"),
    )
    return agg.select(
        "conv_id",
        "n_tool_calls",
        "n_wellformed_calls",
        "n_tool_results",
        "n_paired_calls",
        "n_orphan_results",
        (
            (F.col("n_wellformed_calls") == F.col("n_tool_calls"))
            & (F.col("n_paired_calls") == F.col("n_tool_calls"))
            & (F.col("n_orphan_results") == 0)
        ).alias("is_valid"),
    )
