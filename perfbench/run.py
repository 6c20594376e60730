"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The line before it is the run's record (configuration, every
workload-specific metric, check verdicts), also kept in
``perfbench/_run/records/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("cdc_ingest", "sql_analytics", "llm_dataprep")

END_TO_END = {"setup_s": "s", "first_s": "s", "warm_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.busy_ratio": "ratio",
    "cdc.discover_s": "s",
    "cdc.process_batch_s": "s",
    "cdc.lww_in_rows": "rows",
    "cdc.lww_out_rows": "rows",
    "cdc.quarantined_rows": "rows",
    "streaming.overhead_s": "s",
    "merge.merge_s": "s",
    "merge.jobs_per_batch": "count",
    "merge.attempts": "count",
    "merge.files_rewritten": "count",
    "merge.bytes_written": "B",
    "merge.write_amp": "ratio",
    "merge.read_s": "s",
    "snapshot.table_s": "s",
    "snapshot.jobs": "count",
    "snapshot.rows": "rows",
    "op.minhash_s": "s",
    "op.text_graph_s": "s",
    "op.training_mix_s": "s",
    "op.unigram_s": "s",
    "op.sft_s": "s",
    "op.pq_s": "s",
    "op.fusion_s": "s",
    "op.python_s": "s",
    "cache.live_blocks": "count",
    "cache.live_bytes": "B",
}
# the workload metrics the record carries by name, beside the gated ones
RECORD_UNITS = {
    "failed_ratio": "ratio",
    "cdc.snapshot_rows_per_s": "rows/s",
    "cdc.batch_p50_s": "s",
    "cdc.batch_p75_s": "s",
    "cdc.rows_per_s": "rows/s",
    "cdc.read_p50_s": "s",
    "cdc.lake_bytes_per_row": "B/row",
    "sql.first_pass_s": "s",
    "sql.pass_p50_s": "s",
    "sql.pass_best_s": "s",
    "llm.first_pass_s": "s",
    "llm.fresh_pass_s": "s",
    "llm.repeat_pass_s": "s",
}
# the spans whose subtree is the workload's measured region
MEASURED = {
    "cdc_ingest": {"cdc.snapshot", "cdc.stream"},
    "sql_analytics": {"sql.pass"},
    "llm_dataprep": {"llm.pass"},
}


def layer_metrics(run, spans) -> dict:
    from spans import exec_over

    tr, rec = run.tracer, run.record
    out = dict.fromkeys(PER_LAYER, 0)
    out["session.start_s"] = rec["setup_s"]
    out["queries.build_s"] = tr.total("queries.build")
    out["queries.plan_s"] = tr.total("queries.plan")
    out.update(exec_over(spans, MEASURED[run.workload], run.cores))
    for k in PER_LAYER:
        if k.startswith("op.") and k != "op.python_s":
            out[k] = tr.total(k[:-2])  # span "op.minhash" -> "op.minhash_s"
    out["op.python_s"] = sum(
        s["exec"]["python_s"] for s in spans if s["name"] == "llm.pass")
    out.update(rec.get("layers", {}))
    batches = [s for s in spans if s["name"] == "cdc.process_batch"]
    if batches:
        out["merge.jobs_per_batch"] = (
            sum(s["exec"]["jobs"] for s in batches) / len(batches))
    out["snapshot.jobs"] = sum(
        s["exec"]["jobs"] for s in spans if s["name"] == "snapshot.table")
    out["cache.live_blocks"] = rec.get("cache.live_blocks", 0)
    out["cache.live_bytes"] = rec.get("cache.live_bytes", 0)
    return out


def tracing_overhead(run, metrics_e2e: dict) -> dict:
    """Traced minus untraced, against the last untraced run of this
    workload in the same checkout (empty when there is none)."""
    path = os.path.join(run.records, f"{run.workload}-trace0.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        base = json.load(f)
    return {
        k: metrics_e2e[k] - base["end_to_end"][k]
        for k in END_TO_END if base.get("end_to_end", {}).get(k) is not None
    } | {"untraced_seed": base["seed"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from harness import PACKAGE, Run
    from spans import attribute, read_event_log, write_trace

    if not os.path.isdir(PACKAGE):
        print(f"perfbench: the package is missing ({PACKAGE}); run from "
              "the root of a checkout of the repository", file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.import_package()
    if args.workload == "cdc_ingest":
        from wl_cdc import cdc_ingest as body
    else:
        import wl_queries

        body = getattr(wl_queries, args.workload)
    try:
        e2e = body(run)
        e2e["setup_s"] = run.record["setup_s"]
        app_id = run.spark.sparkContext.applicationId
        run.mark("checks")
    finally:
        run.tracer.unwrap_all()
        run.stop()
    run.mark("stop")
    run.record["end_to_end"] = e2e
    if run.trace:
        attribute(run.tracer.spans,
                  read_event_log(run.path("eventlog"), app_id), run.cores)
        write_trace(os.path.join(run.records, f"{args.workload}-spans.json"),
                    run.tracer)
        metrics, units = layer_metrics(run, run.tracer.spans), PER_LAYER
        run.record["per_layer"] = metrics
        run.record["tracing_overhead"] = tracing_overhead(run, e2e)
    else:
        metrics, units = {k: e2e[k] for k in END_TO_END}, END_TO_END
    result = run.finish(metrics, units)
    run.record["workload_metrics"] = {
        k: {"value": run.record[k], "unit": u}
        for k, u in RECORD_UNITS.items() if k in run.record}
    run.save_record()
    print(json.dumps(run.record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
