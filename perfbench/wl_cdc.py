"""The ``cdc_ingest`` workload: the reference's own job.

1. Snapshot: a range-partitioned JDBC snapshot of the seeded ``sales``
   history from embedded Derby (``snapshot_table``).
2. Stream: Debezium micro-batches, one landing parquet file each,
   drained by ``run_cdc_stream`` over ``file_envelope_stream`` with one
   file per trigger (foreachBatch + availableNow), so the next batch
   starts only after the previous one committed: a closed-loop writer.
   Each drain is one round, the way a scheduled trigger-once job runs;
   rounds continue until ``--seconds`` have passed.
3. Reader: one thread reads every table of the lake on a fixed period
   (``MergeTable.read`` plus an aggregate) while the stream runs: an
   open loop, each read timed from when it was due.
"""

from __future__ import annotations

import os
import threading
import time

import duckdb

import checks
import gen
from harness import median, quantile

DERBY_URL = "jdbc:derby:memory:perfbench"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
ROUND_BATCHES = 5  # change batches per round
READ_PERIOD_S = 3.0
TABLES = ("sales", "customers", "audit")
SALES_COLS = {
    "sale_id": "BIGINT", "item_id": "INTEGER", "price": "DOUBLE",
    "created_at": "TIMESTAMP", "discount": "DOUBLE",
}
CUSTOMER_COLS = {
    "customer_id": "BIGINT", "segment": "VARCHAR", "balance": "DOUBLE",
}


def _envelope_struct():
    from pyspark.sql import types as T

    kinds = {"string": T.StringType(), "int64": T.LongType()}
    return T.StructType([
        T.StructField(f.name, kinds[str(f.type)]) for f in gen.ENVELOPE_SCHEMA
    ])


def _load_derby(spark, history, csv_path: str) -> None:
    """The source table, bulk-loaded with Derby's own CSV import (one
    call, no Spark job)."""
    import pyarrow.csv as pacsv

    pacsv.write_csv(history, csv_path,
                    pacsv.WriteOptions(include_header=False))
    conn = spark._jvm.java.sql.DriverManager.getConnection(
        f"{DERBY_URL};create=true")
    try:
        st = conn.createStatement()
        st.execute(
            "CREATE TABLE sales (sale_id BIGINT PRIMARY KEY, item_id INT, "
            "price DOUBLE, created_at TIMESTAMP)")
        st.execute(
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'SALES', "
            f"'{csv_path}', ',', null, null, 0)")
    finally:
        conn.close()


def _lake_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


class Reader(threading.Thread):
    """Open-loop lake reads: one every READ_PERIOD_S, each timed from
    its due time.

    The parquet backend gives readers no snapshot isolation: a read
    planned before a concurrent copy-on-write merge publishes can find
    its files gone (FILE_NOT_EXIST), at random. So each table is read
    under that table's write lock (``MergeTable._lock``, the lock its
    merges hold), as an in-process client of this lake must: a read
    waits for a running merge and a merge for a running read. The
    wait is in the read's latency and is also kept on its own
    (``wait``). A read that raises is a failed operation."""

    def __init__(self, ctx, engine):
        super().__init__(name="lake-reader", daemon=True)
        self.ctx, self.engine = ctx, engine
        self.done = threading.Event()
        self.latency: list[float] = []
        self.lateness: list[float] = []
        self.wait: list[float] = []  # per read, summed over its tables
        self.errors: list[str] = []

    def read_once(self) -> None:
        from pyspark.sql import functions as F

        wait = 0.0
        for name in TABLES:
            table = self.engine.tables[name]
            t0 = time.perf_counter()
            with table._lock:
                wait += time.perf_counter() - t0
                table.read().agg(
                    F.count(F.lit(1)), F.max("__ts_ms")).collect()
        self.wait.append(wait)

    def run(self) -> None:
        while not all(t in self.engine.tables for t in TABLES):
            if self.done.wait(0.05):
                return
        due = time.perf_counter()
        while not self.done.is_set():
            now = time.perf_counter()
            if now < due:
                self.done.wait(due - now)
                continue
            self.lateness.append(now - due)
            try:
                with self.ctx.tracer.span("cdc.read", root=True):
                    self.read_once()
                self.latency.append(time.perf_counter() - due)
            except Exception as e:  # a failed operation
                self.errors.append(f"{type(e).__name__}: {e}"[:200])
            due += READ_PERIOD_S


def _trace_hooks(run, lake: str, files_log: list) -> None:
    """Traced run only: spans around the pipeline's layers, a count of
    merge attempts and the lake files each batch wrote."""
    from data_engineering_spark.cdc import pipeline
    from data_engineering_spark.operators.merge import MergeTable
    from data_engineering_spark.snapshot import jdbc_snapshot

    tr = run.tracer
    tr.wrap(pipeline, "batch_table_schemas", "cdc.discover")
    tr.wrap(MergeTable, "merge", "merge.merge")
    tr.wrap(jdbc_snapshot, "snapshot_table", "snapshot.table")
    orig_retry = pipeline.with_retry

    def counted_retry(fn, *a, **kw):
        def attempt():
            run.record["layers"]["merge.attempts"] += 1
            return fn()
        return orig_retry(attempt, *a, **kw)

    tr.patch(pipeline, "with_retry", counted_retry)
    orig_batch = pipeline.CdcEngine.process_batch

    def process_batch(engine, raw, batch_id=0):
        before = _lake_files(lake)
        with tr.span("cdc.process_batch", window=True, batch=batch_id):
            out = orig_batch(engine, raw, batch_id)
        after = _lake_files(lake)
        files_log.append([v[0] for p, v in after.items()
                          if before.get(p) != v])
        return out

    tr.patch(pipeline.CdcEngine, "process_batch", process_batch)


def cdc_ingest(run) -> dict:
    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig
    from data_engineering_spark.snapshot import jdbc_snapshot
    from data_engineering_spark.streaming.runner import (
        file_envelope_stream,
        run_cdc_stream,
    )

    lake, landing = run.path("lake"), run.path("landing")
    staged, ckpt = run.path("staged"), run.path("checkpoint")
    for d in (landing, staged):
        os.makedirs(d)
    stream = gen.CdcStream(run.seed)
    state = {}

    def register(spark):
        state["engine"] = CdcEngine(spark, LakeConfig(root=lake))
        state["source"] = file_envelope_stream(
            spark, landing, _envelope_struct(), max_files_per_trigger=1)

    t0 = time.perf_counter()
    history = stream.history()
    paths = []

    def stage(n_batches: int) -> None:
        for _ in range(n_batches):
            b = stream.n_batches
            rows = stream.initial_batch() if b == 0 else stream.change_batch(b)
            p = os.path.join(staged, f"batch-{b:05d}.parquet")
            stream.write_batch(p, rows)
            paths.append(p)

    stage(1 + ROUND_BATCHES)
    run.record["gen_envelopes_s"] = time.perf_counter() - t0
    run.mark("gen")
    run.setup(register, run.record["gen_envelopes_s"])
    t0 = time.perf_counter()
    _load_derby(run.spark, history, run.path("history.csv"))
    run.record["gen_derby_s"] = time.perf_counter() - t0
    run.record["gen_s"] = run.record["gen_envelopes_s"] + run.record["gen_derby_s"]
    run.mark("gen_derby")
    spark, engine = run.spark, state["engine"]
    files_log: list[list[int]] = []  # sizes of the files each batch wrote
    if run.trace:
        run.record["layers"] = {"merge.attempts": 0}
        _trace_hooks(run, lake, files_log)

    # -- snapshot (the first timed operation in this JVM) ------------------
    cfg = jdbc_snapshot.JdbcConfig(url=DERBY_URL, user="", password="",
                                   driver=DERBY_DRIVER, ident_quote="")
    run.ops += 1
    t0 = time.perf_counter()
    with run.tracer.span("cdc.snapshot"):
        n_snap = jdbc_snapshot.snapshot_table(
            spark, cfg, "APP", "SALES", run.path("snapshot"), rds_id=1,
            tenant_id=1, num_partitions=run.cores, key="sale_id")
    snapshot_s = time.perf_counter() - t0

    # -- stream rounds with the reader alongside ---------------------------
    reader = Reader(run, engine)
    progress = []  # StreamingQueryProgress of every non-empty batch
    committed = 0
    start = time.perf_counter()
    reader.start()
    try:
        while True:
            for p in paths[committed:]:
                os.rename(p, os.path.join(landing, os.path.basename(p)))
            with run.tracer.span("cdc.stream", window=True):
                q = run_cdc_stream(engine, state["source"], ckpt,
                                   raw_kafka=False)
                q.awaitTermination()
            progress += [pr for pr in q.recentProgress if pr.numInputRows > 0]
            committed = len(paths)
            if time.perf_counter() - start >= run.seconds:
                break
            stage(ROUND_BATCHES)
    finally:
        reader.done.set()
        reader.join()
    run.mark("measure")
    run.ops += len(progress) + len(reader.latency) + len(reader.errors)
    run.op_failures += len(reader.errors)

    batch_s = [pr.durationMs["triggerExecution"] / 1e3 for pr in progress]
    rows = sum(pr.numInputRows for pr in progress)
    rec = run.record
    rec["cdc.batches"] = len(batch_s)
    rec["cdc.first_batch_s"] = batch_s[0]
    rec["cdc.batch_s"] = batch_s
    rec["cdc.snapshot_rows_per_s"] = n_snap / snapshot_s
    rec["cdc.snapshot_s"] = snapshot_s
    rec["cdc.batch_p50_s"] = median(batch_s[1:])
    rec["cdc.batch_p75_s"] = quantile(batch_s[1:], 0.75)
    rec["cdc.rows_per_s"] = rows / sum(batch_s)
    rec["cdc.read_p50_s"] = median(reader.latency)
    rec["cdc.reads"] = len(reader.latency)
    rec["cdc.read_wait_p50_s"] = median(reader.wait)
    rec["cdc.read_failed"] = len(reader.errors)
    rec["cdc.reader_lateness_max_s"] = max(reader.lateness, default=0.0)
    if reader.errors:
        rec["cdc.read_errors"] = reader.errors[:5]
    rec["cache.live_blocks"], rec["cache.live_bytes"] = run.live_cache()

    # -- checks, outside the timed region ---------------------------------
    files = [os.path.join(landing, os.path.basename(p)) for p in paths]
    live_rows = _check_lake(run, engine, files, n_snap, history.num_rows)
    live_bytes = sum(
        size for p, (size, _) in _lake_files(lake).items()
        if "_quarantine" not in p)
    rec["cdc.lake_bytes_per_row"] = live_bytes / live_rows if live_rows else None
    if run.trace:
        layers = rec["layers"]
        layers["cdc.lww_in_rows"] = stream.stats["lww_in"]
        layers["cdc.lww_out_rows"] = stream.stats["lww_out"]
        layers["cdc.quarantined_rows"] = rec.get("cdc.quarantined", 0)
        layers["cdc.discover_s"] = run.tracer.total("cdc.discover")
        layers["cdc.process_batch_s"] = run.tracer.total("cdc.process_batch")
        layers["streaming.overhead_s"] = (
            sum(batch_s) - layers["cdc.process_batch_s"])
        layers["merge.merge_s"] = run.tracer.total("merge.merge")
        layers["merge.files_rewritten"] = sum(len(f) for f in files_log)
        layers["merge.bytes_written"] = sum(sum(f) for f in files_log)
        layers["merge.write_amp"] = (
            layers["merge.bytes_written"] / stream.stats["payload_bytes"])
        # the reader's time in MergeTable.read, its lock waits left out
        layers["merge.read_s"] = (
            run.tracer.total("cdc.read") - sum(reader.wait))
        layers["snapshot.table_s"] = run.tracer.total("snapshot.table")
        layers["snapshot.rows"] = n_snap
    return {"first_s": snapshot_s, "warm_s": rec["cdc.batch_p50_s"]}


def _check_lake(run, engine, files, n_snap: int, n_source: int) -> int:
    """Final lake state against the DuckDB replay; returns live rows.
    A check that raises is a failed check."""
    spark = run.spark
    con = duckdb.connect()
    live = 0

    def keyed(table, cols):
        nonlocal live
        want = checks.cdc_expected(con, files, table, gen.KEYS[table], cols)
        got = engine.tables[table].read().select(
            "__tenant_id", *cols).toPandas()
        live += len(got)
        return checks.frames_match(got, want)

    def audit():
        nonlocal live
        n = engine.tables["audit"].read().count()
        live += n
        want = checks.cdc_appends(con, files, "audit")
        return n == want, f"rows {n} != {want}"

    def quarantine():
        want = checks.cdc_quarantined(con, files, "sales", "sale_id")
        qdir = os.path.join(engine.config.root, "_quarantine", "sales")
        got = spark.read.parquet(qdir).count() if os.path.isdir(qdir) else 0
        run.record["cdc.quarantined"] = got
        return got == want, f"rows {got} != {want}"

    def snapshot():
        snap = spark.read.parquet(
            os.path.join(run.path("snapshot"), "APP", "SALES")).count()
        return (n_snap == n_source == snap,
                f"returned {n_snap}, lake {snap}, source {n_source}")

    try:
        for name, fn in (
            ("lake.sales", lambda: keyed("sales", SALES_COLS)),
            ("lake.customers", lambda: keyed("customers", CUSTOMER_COLS)),
            ("lake.audit", audit),
            ("lake.quarantine", quarantine),
            ("snapshot.rows", snapshot),
        ):
            try:
                run.check(name, *fn())
            except Exception as e:  # a check that raises has failed
                run.check(name, False, f"{type(e).__name__}: {e}"[:300])
    finally:
        con.close()
    return live
