"""The two query workloads: ``sql_analytics`` and ``llm_dataprep``.

Both run named queries from ``QUERIES`` in one closed-loop client. A
timed execution ends when the client holds the result as a pandas
frame; the frames of a workload's last pass are the ones its output
checks compare with the DuckDB oracles.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen
from harness import median

SQL_QUERIES = (
    "q01_pricing_summary", "q03_shipping_priority", "q05_region_revenue",
    "q18_large_orders", "q_semi_reduced_revenue", "q_events_sessionize",
    "q_events_hybrid_join", "q_orders_change_feed", "q_quality_checks",
)
# query -> the operator span it reports as (op.<name>_s)
LLM_QUERIES = {
    "q_doc_minhash_neardup": "minhash",
    "q_doc_dedup_clusters": "text_graph",
}
LLM_DOCS = int(gen.DOCS_PER_SF * 0.1)  # the corpus of sf 0.1
MAX_SHARDS = 8


def run_query(run, name: str, data_dir: str, span: str, out: dict) -> float:
    """One timed execution, its result stored in ``out[name]``; traced
    runs split it into the build, plan and execute spans."""
    from data_engineering_spark.queries import QUERIES

    tr = run.tracer
    run.ops += 1
    t0 = time.perf_counter()
    try:
        with tr.span(span, query=name, data=os.path.basename(data_dir)):
            with tr.span("queries.build"):
                df = QUERIES[name](run.spark, data_dir)
            if tr.enabled:
                with tr.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("queries.exec"):
                out[name] = df.toPandas()
    except Exception as e:  # counted as a failed operation, run goes on
        run.op_failures += 1
        out[name] = e
    return time.perf_counter() - t0


def run_pass(run, names, data_dir: str, span_of) -> tuple[float, dict, dict]:
    """Every query in ``names`` once: (total s, s by query, frames)."""
    times, frames = {}, {}
    for q in names:
        times[q] = run_query(run, q, data_dir, span_of(q), frames)
    return sum(times.values()), times, frames


def _order(seed: int, n_pass: int, names) -> list[str]:
    rng = np.random.default_rng([seed, 10, n_pass])
    return [names[i] for i in rng.permutation(len(names))]


def _check_frames(run, frames: dict, data_dir: str) -> None:
    """Compare the last pass's results with the oracles on the same
    files. That pass also wrote the model fixtures some oracles join."""
    from data_engineering_spark.queries import ORACLES

    con = checks.oracle_connection(data_dir, run.path("tmp"))
    try:
        for name, got in sorted(frames.items()):
            if isinstance(got, Exception):
                run.check(name, False, f"{type(got).__name__}: {got}"[:300])
                continue
            run.check(name, *checks.frames_match(
                got, con.execute(ORACLES[name]).fetchdf()))
    finally:
        con.close()


def _register(data_dir: str, tables):
    from data_engineering_spark.catalog import load_table

    def register(spark):
        for t in tables:
            load_table(spark, data_dir, t).schema
    return register


# ---------------------------------------------------------------------------
def sql_analytics(run) -> dict:
    """A cold pass, then warm passes until the time is up (at least
    two); every pass runs the nine queries in a seeded order. The
    warm time is the sum over queries of each one's fastest warm
    execution (the warm minimum), which a burst of host load on one
    pass does not move."""
    from data_engineering_spark.catalog import TPCH_TABLES

    data = run.path("data", "sql")
    t0 = time.perf_counter()
    rows = gen.write_tables(data, run.seed)
    run.record["gen_s"] = time.perf_counter() - t0
    run.record["input_rows"] = rows
    run.mark("gen")
    run.setup(_register(data, TPCH_TABLES), run.record["gen_s"])

    totals, per_query = [], []
    start = time.perf_counter()
    while len(totals) < 3 or time.perf_counter() - start < run.seconds:
        k = len(totals)
        with run.tracer.span("sql.pass", n=k):
            total, times, frames = run_pass(
                run, _order(run.seed, k, SQL_QUERIES), data,
                lambda q: "query")
        totals.append(total)
        per_query.append(times)
    run.mark("measure")
    warm = sum(min(p[q] for p in per_query[1:]) for q in SQL_QUERIES)
    rec = run.record
    rec["sql.first_pass_s"] = totals[0]
    rec["sql.pass_p50_s"] = median(totals[1:])
    rec["sql.pass_best_s"] = warm
    rec["sql.pass_s"] = totals
    rec["sql.query_s"] = per_query
    _check_frames(run, frames, data)
    return {"first_s": totals[0], "warm_s": warm}


# ---------------------------------------------------------------------------
def _write_llm_inputs(run) -> list[str]:
    base = run.path("data", "llm_base")
    os.makedirs(base)
    rng = np.random.default_rng([run.seed, 1])
    gen.write_table(base, "documents", gen.documents_table(rng, LLM_DOCS))
    shards = []
    for k in range(MAX_SHARDS):
        d = run.path("data", f"shard{k}")
        gen.write_shard(base, d, run.seed, k)
        shards.append(d)
    return shards


def llm_dataprep(run) -> dict:
    """The first shard runs once, cold. Every later shard runs twice:
    new, then again. Shards continue until the time is up (at least one
    after the cold one). ``fresh`` is the median over the later new
    shards, ``repeat`` over their second runs."""
    t0 = time.perf_counter()
    shards = _write_llm_inputs(run)
    run.record["gen_s"] = time.perf_counter() - t0
    run.mark("gen")
    run.setup(_register(shards[0], ("documents",)), run.record["gen_s"])

    fresh, repeat, cache, per_query = [], [], [], []
    start = time.perf_counter()
    for k, shard in enumerate(shards):
        if k >= 2 and time.perf_counter() - start >= run.seconds:
            break
        checked = shard
        for kind, out in ((("fresh", fresh), ("repeat", repeat)) if k
                          else (("cold", fresh),)):
            with run.tracer.span("llm.pass", shard=k, kind=kind):
                total, times, frames = run_pass(
                    run, list(LLM_QUERIES), shard,
                    lambda q: f"op.{LLM_QUERIES[q]}")
            out.append(total)
            cache.append(run.live_cache())
            per_query.append({"shard": k, "kind": kind, **times})
    run.mark("measure")
    rec = run.record
    rec["llm.query_s"] = per_query
    rec["llm.first_pass_s"] = fresh[0]
    rec["llm.fresh_pass_s"] = median(fresh[1:])
    rec["llm.repeat_pass_s"] = median(repeat)
    rec["llm.fresh_s"], rec["llm.repeat_s"] = fresh, repeat
    rec["cache_after_each_pass"] = cache
    rec["cache.live_blocks"], rec["cache.live_bytes"] = cache[-1]
    _check_frames(run, frames, checked)
    return {"first_s": fresh[0], "warm_s": median(fresh[1:])}
