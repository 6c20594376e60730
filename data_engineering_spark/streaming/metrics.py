"""Streaming telemetry: per-micro-batch metrics as a DataFrame.

The reference observes its pipeline with print statements
(/root/reference/incremental_kafka_s3_cdc.py:312,328,351-355); a
production ingest needs machine-readable lag/throughput history. Spark
already emits everything per batch through `StreamingQueryListener`
progress events — this module materializes them:

- `StreamMetrics` buffers progress events driver-side (bounded
  deque — listener callbacks must never grow without bound on a
  stream that runs for months).
- `metrics_frame` turns the buffer into a DataFrame for joins with
  the rest of the observability stack (alerting thresholds, drift
  monitors — see q_events_weekly_drift).

Driver-side by design: progress events are one row per (query, batch)
— metadata-sized at any corpus scale. The rows-per-second /
duration-ms fields are Spark's own accounting, the same numbers the
Structured Streaming UI plots.
"""

from __future__ import annotations

import json
from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from data_engineering_spark.types.frames import local_frame

METRICS_SCHEMA = (
    "query_id string, run_id string, batch_id long, ts string, "
    "num_input_rows long, input_rows_per_second double, "
    "process_rows_per_second double, trigger_execution_ms long, "
    "add_batch_ms long, state_rows long"
)


class StreamMetrics(StreamingQueryListener):
    """Buffering listener; attach with
    ``spark.streams.addListener(m)``, detach with ``removeListener``."""

    def __init__(self, max_batches: int = 10_000):
        self.progress = deque(maxlen=max_batches)

    def onQueryStarted(self, event):  # noqa: N802 (Spark API casing)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        dur = p.get("durationMs", {}) or {}
        state = p.get("stateOperators", []) or []
        self.progress.append(
            (
                p.get("id"),
                p.get("runId"),
                int(p.get("batchId", -1)),
                p.get("timestamp"),
                int(p.get("numInputRows", 0)),
                float(p.get("inputRowsPerSecond", 0.0) or 0.0),
                float(p.get("processedRowsPerSecond", 0.0) or 0.0),
                int(dur.get("triggerExecution", 0)),
                int(dur.get("addBatch", 0)),
                int(sum(s.get("numRowsTotal", 0) for s in state)),
            )
        )

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass


def attach_metrics(
    spark: SparkSession, max_batches: int = 10_000
) -> StreamMetrics:
    m = StreamMetrics(max_batches)
    spark.streams.addListener(m)
    return m


def metrics_frame(spark: SparkSession, m: StreamMetrics) -> DataFrame:
    """Snapshot the buffered batch history as a DataFrame."""
    return local_frame(spark, m.progress, METRICS_SCHEMA)


def read_checkpoint_offsets(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Checkpoint introspection: the offset log as a DataFrame —
    (batch_id, committed, offset_json). What "where is this stream,
    exactly?" resolves to during an incident, without attaching a
    running query: Structured Streaming writes one `offsets/<n>` file
    per micro-batch (v1 header line, then one JSON line per source)
    and a matching `commits/<n>` marker once the batch is durable. A
    batch present in offsets but absent from commits is the one that
    will be REPLAYED on restart — the exactly-once boundary made
    visible.

    Driver-side file reads (the checkpoint is metadata by
    construction: one small file per batch).
    """
    import json
    import os

    def read_entries(sub: str) -> dict[int, list[str]]:
        d = os.path.join(checkpoint_dir, sub)
        out: dict[int, list[str]] = {}
        if not os.path.isdir(d):
            return out
        for name in os.listdir(d):
            if not name.isdigit():
                continue
            with open(os.path.join(d, name)) as f:
                lines = [ln.strip() for ln in f if ln.strip()]
            out[int(name)] = lines
        return out

    offsets = read_entries("offsets")
    commits = set(read_entries("commits"))
    rows = []
    for batch_id, lines in sorted(offsets.items()):
        payload = []
        # line 0 is the version header; line 1 is OffsetSeqMetadata
        # (watermark/conf), NOT a source offset — including it made the
        # payload overstate the source count by one and put the
        # metadata blob where consumers expect source 0's offset
        body = lines[1:]
        if body:
            try:
                first = json.loads(body[0])
            except ValueError:
                first = None
            if isinstance(first, dict) and "batchWatermarkMs" in first:
                body = body[1:]
        for ln in body:
            try:
                payload.append(json.loads(ln))
            except ValueError:
                payload.append(ln)
        rows.append(
            (batch_id, batch_id in commits, json.dumps(payload))
        )
    return local_frame(
        spark, rows, "batch_id long, committed boolean, offset_json string"
    )
