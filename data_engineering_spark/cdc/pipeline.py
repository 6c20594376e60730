"""The CDC batch pipeline: what runs inside each streaming micro-batch.

Re-implements df_to_sink → process_for_table → merge_to_table
(/root/reference/incremental_kafka_s3_cdc.py:311-355, 390-398) with the
reference's known issues fixed:

- the reference routes the WHOLE batch to the first ``__table`` value it
  sees (:396); we dispatch per distinct table (SURVEY.md §2.9).
- keep-last dedup is one algebraic max(struct) aggregate per key, not a
  pandas-on-Spark global sort (operators/dedup.keep_last_agg): map-side
  partial aggregation combines a hot key inside every input partition
  before the shuffle, so a skewed tenant is map-parallel work instead
  of one straggler task (SCALE.md "Skew").
- schema/key discovery for the WHOLE batch is ONE grouped aggregate
  (envelope.batch_table_schemas) instead of the reference's two
  ``tail(1)`` full scans per table.

Flow per micro-batch:
    dropna guards → batch-wide table+schema discovery → per table:
        slice → LWW compact → infer schema → parse envelope →
        multitenant stamp → create-on-first-sight or evolve → MERGE
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_spark.cdc.envelope import (
    InferredSchema,
    batch_table_schemas,
    infer_from_envelope_schema,
    latest_envelope_schema,
    parse_envelope_batch,
    stamp_multitenant,
)
from data_engineering_spark.cdc.schema_evolution import (
    infer_partition_spec,
    partition_transform_column,
)
from data_engineering_spark.operators.dedup import keep_last_agg
from data_engineering_spark.operators.merge import (
    BUCKET_COL,
    MergeTable,
    MergeTableMOR,
    with_retry,
)


@dataclass
class LakeConfig:
    """Where tables live and how merges behave."""

    root: str
    ts_guard: bool = False  # reference parity: late events overwrite
    fallback_partition: str = "__rds_id"
    # Malformed envelopes (payload JSON that parses to NULL key columns)
    # are appended to {root}/_quarantine/{table} instead of entering the
    # keyed MERGE, where a NULL key would collide every malformed row
    # into one garbage record. The reference has no such guard (a bad
    # message poisons the merge); disable for strict parity.
    quarantine: bool = True
    # Optimistic-commit retry around the keyed MERGE (reference
    # :281-292: 10 attempts, 10 s apart). A failed attempt publishes
    # nothing (MergeTable commits by one pointer replace) and a MERGE
    # of the same compacted batch is idempotent, so a retry re-runs
    # cleanly.
    merge_attempts: int = 10
    merge_retry_sleep_s: float = 10.0
    # Storage backend for keyed tables: "cow" rewrites touched
    # partitions per merge (read-optimized; the reference's shape);
    # "mor" appends one delta per batch and resolves at read
    # (write-optimized — O(batch) ingest for update-heavy streams;
    # run MergeTableMOR.compact() as maintenance). Keyless tables are
    # plain appends either way. Equivalence: tests/test_mor.py +
    # test_cdc_backend_equivalence.
    backend: str = "cow"
    # MOR maintenance policy (reference :405-423 runs Iceberg
    # rewrite_data_files/expire_snapshots as scheduled maintenance —
    # here it is a write-path hook): after a merge leaves
    # delta_count() >= this threshold, fold the deltas into a new base
    # so read amplification stays bounded under long ingest loops.
    # None disables (manual compact() only). The compaction reads
    # O(table), so the threshold trades ingest-side amortized cost
    # against read-side delta resolution — 16 keeps reads within ~2x
    # of a compacted scan while charging each batch 1/16th of a
    # rewrite on average.
    auto_compact_deltas: int | None = 16
    # Tables processed concurrently within one micro-batch. Spark job
    # submission is thread-safe and per-table merges are independent
    # (disjoint target paths), so a multi-table topic-pattern batch
    # overlaps its driver round-trips instead of serializing them —
    # the per-batch driver-action constant is the CDC throughput
    # ceiling at high stream counts. 1 = serial (reference behavior).
    table_parallelism: int = 4
    # Synthetic bucket count for keyed COW tables with NO inferred
    # partition column (Iceberg's bucket(N, key) hidden partition,
    # MergeTable.bucket_by). Without it an unpartitioned table pays a
    # full-table rewrite per merge; with it a merge rewrites only the
    # buckets its batch keys hash into. None (default) keeps the
    # reference's flat layout. Size so table_bytes/N is a few hundred
    # MB at the target scale: merge cost tracks the batch's bucket
    # fan-out while small batches still prune hard.
    default_bucket_by: int | None = None


@dataclass
class CdcEngine:
    """Multi-table CDC sink over the parquet-core MergeTable backend."""

    spark: SparkSession
    config: LakeConfig
    tables: dict[str, MergeTable] = field(default_factory=dict)

    def table_path(self, name: str) -> str:
        return os.path.join(self.config.root, name)

    def get_table(
        self,
        name: str,
        key_columns: list[str],
        partition_by: str | None = None,
    ):
        t = self.tables.get(name)
        want_mor = self.config.backend == "mor" and bool(key_columns)
        # hidden bucketing applies only where it helps: keyed COW
        # tables that would otherwise be unpartitioned (keyless tables
        # are plain appends; a natural partition column already prunes)
        want_bucket = (
            self.config.default_bucket_by
            if not want_mor and partition_by is None and key_columns
            else None
        )
        if not want_mor and partition_by is None and key_columns:
            # an EXISTING table's layout is table metadata, not session
            # config (Iceberg's rule): a changed default_bucket_by must
            # only affect tables created from now on — adopting the
            # stored spec here is what keeps a config flip from
            # tripping MergeTable's layout-mismatch guard (or, before
            # that guard, silently duplicating rows).
            stored = MergeTable.stored_bucket_by(self.table_path(name))
            if stored is None or isinstance(stored, int):
                want_bucket = stored
        if t is not None:
            # the cache is by name only; a later batch can legitimately
            # change the inferred config (first batch had a NULL key
            # payload -> keyless COW cached; next batch carries real
            # keys, or schema evolution changes the partition spec).
            # Silently reusing the stale instance would merge with the
            # wrong keys/backend — rebuild when config drifts.
            expected_partition = (
                BUCKET_COL if want_bucket else partition_by
            )
            stale = (
                list(t.key_columns) != list(key_columns)
                or isinstance(t, MergeTableMOR) != want_mor
                or (
                    not want_mor
                    and (
                        getattr(t, "partition_by", None)
                        != expected_partition
                        or getattr(t, "bucket_by", None) != want_bucket
                    )
                )
            )
            if stale:
                t = None
        if t is None:
            # keyless tables are plain appends — MOR delta resolution
            # has nothing to resolve, so they use the COW class either way
            if want_mor:
                t = MergeTableMOR(
                    self.spark,
                    self.table_path(name),
                    key_columns,
                    ts_guard=self.config.ts_guard,
                )
            else:
                t = MergeTable(
                    self.spark,
                    self.table_path(name),
                    key_columns,
                    partition_by=partition_by,
                    bucket_by=want_bucket,
                )
            self.tables[name] = t
        return t

    # ------------------------------------------------------------------
    def process_batch(self, raw: DataFrame, batch_id: int = 0) -> list[str]:
        """foreachBatch body. `raw` is an envelope frame (key, value,
        __topic, __table, __op, __ts_ms, __db). Returns tables touched."""
        raw = raw.dropna(subset=["__op", "value", "__table", "__db"])
        raw = raw.cache()  # multi-action batch (reference :392)
        try:
            # one driver action, not 1 + N: the per-table schema/key
            # discovery aggregation IS both the distinct-tables probe
            # and the emptiness probe (an empty batch collects an empty
            # dict), replacing the previous distinct-collect plus one
            # latest_envelope_schema aggregate PER TABLE. At 40
            # concurrent streams per-batch driver actions serialize,
            # so every job here counts.
            schemas = batch_table_schemas(raw)
            tables = sorted(schemas)
            par = max(1, self.config.table_parallelism)
            if par == 1 or len(tables) <= 1:
                for name in tables:
                    self._process_table(
                        raw.filter(F.col("__table") == name),
                        name,
                        schemas[name],
                    )
                return tables
            # independent per-table pipelines (disjoint target dirs)
            # submitted from a thread pool: driver actions for table A
            # overlap cluster work for table B. get_table is pre-warmed
            # serially below only through the dict — MergeTable creation
            # happens inside _finish_table under each thread, and dict
            # writes are GIL-atomic; distinct tables never share an entry.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=par) as pool:
                futures = {
                    name: pool.submit(
                        self._process_table,
                        raw.filter(F.col("__table") == name),
                        name,
                        schemas[name],
                    )
                    for name in tables
                }
                for name, fut in futures.items():
                    fut.result()  # propagate the first failure
            return tables
        finally:
            raw.unpersist()

    # ------------------------------------------------------------------
    def _process_table(
        self,
        slice_df: DataFrame,
        name: str,
        discovered: tuple[str | None, str | None] | None = None,
    ) -> None:
        # `discovered` is the (key_json, schema_json) pair from the
        # batch-wide discovery aggregation (process_batch); a direct
        # caller without one pays the per-slice action instead.
        key_json, schema_json = (
            discovered
            if discovered is not None
            else latest_envelope_schema(slice_df)
        )
        if schema_json is None or schema_json == "null":
            return
        inferred: InferredSchema = infer_from_envelope_schema(
            schema_json, key_json
        )
        keys = inferred.key_columns

        if keys:
            # LWW compaction per (record key, topic) — reference
            # :321-325; within equal __ts_ms we tiebreak on ingest order
            # when present so the order is total (SURVEY §7d). Keyless
            # tables are append-only — nothing to compact.
            tiebreak = (
                ["__offset"] if "__offset" in slice_df.columns else []
            )
            # NULL message keys: groupBy puts all NULLs in ONE group,
            # so a producer that drops the key on a keyed table would
            # collapse every such record to the single latest row —
            # silent loss of N-1 valid rows before parsing could even
            # see them. The key schema is already inferred, so NULL-key
            # rows group by their PAYLOAD key fields instead (scan-
            # stage get_json_object, no extra aggregation): exact
            # record identity, same single LWW pass. Residual edge out
            # of contract: ONE record emitted both with and without its
            # message key in the SAME batch lands in two groups (a
            # producer must be consistent per record within a batch).
            payload_key = F.to_json(
                F.struct(
                    *[
                        F.get_json_object(
                            "value", f"$.payload.{k}"
                        ).alias(k)
                        for k in keys
                    ]
                )
            )
            slice_df = keep_last_agg(
                slice_df.withColumn(
                    "__lww_key",
                    F.coalesce(F.col("key"), payload_key),
                ),
                ["__lww_key", "__topic"],
                "__ts_ms",
                tiebreakers=tiebreak,
            ).drop("__lww_key")

        parsed = parse_envelope_batch(slice_df, inferred)
        stamped = stamp_multitenant(parsed).drop("__deleted")
        persisted = None
        quarantine = None
        if keys and self.config.quarantine:
            # the quarantine path and the merge both consume the parsed
            # batch — persist it so the envelope parse (2× from_json)
            # runs once, not per consumer. The bad-row COUNT rides the
            # merge's own actions via observe() instead of a dedicated
            # isEmpty probe job — a clean batch (the common case) costs
            # zero extra jobs; only batches that actually contain
            # malformed rows pay for the quarantine write.
            from pyspark import StorageLevel
            from pyspark.sql import Observation

            persisted = stamped.persist(StorageLevel.MEMORY_AND_DISK)
            bad_key = None
            for k in keys:
                cond = F.col(k).isNull()
                bad_key = cond if bad_key is None else (bad_key | cond)
            obs = Observation()
            stamped = (
                persisted.observe(
                    obs,
                    F.sum(bad_key.cast("long")).alias("n_bad"),
                )
                .filter(~bad_key)
            )
            quarantine = (obs, bad_key)
        try:
            self._finish_table(name, keys, inferred, stamped)
            if quarantine is not None:
                # the merge has run actions over the observed plan, so
                # this does not block; sum() over an empty batch is NULL
                obs, bad_key = quarantine
                if obs.get["n_bad"] or 0:
                    persisted.filter(bad_key).write.mode("append").parquet(
                        os.path.join(self.config.root, "_quarantine", name)
                    )
        finally:
            if persisted is not None:
                persisted.unpersist()

    def _finish_table(
        self,
        name: str,
        keys: list[str],
        inferred: InferredSchema,
        stamped: DataFrame,
    ) -> None:
        if not keys:
            # keyless table → plain append (reference :275-276 INSERT path)
            # NULL op is "not a delete" — a bare != would NULL-drop
            self.get_table(name, []).append(
                stamped.filter(F.coalesce(F.col("__op") != "d", F.lit(True)))
            )
            return

        # create-on-first-sight with inferred partition spec (reference
        # :126-148): months(create*-col) when present, else identity on
        # the tenant/system fallback. Transform-based specs materialize
        # a __part column (Iceberg applies transforms natively; parquet
        # needs the physical column). MergeTable then does
        # partition-pruned rewrites — merge cost follows the batch, not
        # the table.
        spec = infer_partition_spec(
            inferred.converted_struct, self.config.fallback_partition
        )
        if spec.transform:
            stamped = stamped.withColumn(
                "__part", partition_transform_column(spec)
            )
            partition_col = "__part"
        else:
            partition_col = spec.column

        merge_keys = ["__rds_id", "__tenant_id", *keys]
        # one-row-per-merge-key is enforced UPSTREAM by the raw-stage
        # LWW: keyed rows group by the message key, NULL-key rows by
        # their extracted payload key fields (_process_table), so no
        # second compaction pass (and its extra AQE jobs) is needed
        # here — the per-batch driver-job budget is test-guarded.
        table = self.get_table(name, merge_keys, partition_by=partition_col)
        # the reference wraps its MERGE in a 10-attempt optimistic retry
        # (:281-292)
        batch = stamped
        if isinstance(table, MergeTableMOR):
            # ts_guard is table-level for MOR (resolution order at read)
            merge_fn = lambda: table.merge(batch)  # noqa: E731
        else:
            merge_fn = lambda: table.merge(  # noqa: E731
                batch, ts_guard=self.config.ts_guard
            )
        with_retry(
            merge_fn,
            attempts=self.config.merge_attempts,
            sleep_s=self.config.merge_retry_sleep_s,
        )
        # auto-compaction keeps MOR read amplification bounded: state
        # before and after compact() is identical by construction
        # (compact materializes read()), so the hook is safe mid-stream
        threshold = self.config.auto_compact_deltas
        if (
            isinstance(table, MergeTableMOR)
            and threshold is not None
            and table.delta_count() >= threshold
        ):
            table.compact()
