"""Keyed MERGE (upsert + delete) — the reference's central operator.

The reference merges CDC batches into Iceberg with SQL MERGE INTO
(/root/reference/incremental_kafka_s3_cdc.py:243-292):

    WHEN MATCHED AND s.__op = 'd'            THEN DELETE
    WHEN MATCHED AND s.__op IN (u,c,r)       THEN UPDATE SET *
    WHEN NOT MATCHED AND NOT s.__op = 'd'    THEN INSERT *
    ON t.__rds_id = s.__rds_id AND t.__tenant_id = s.__tenant_id
       AND t.<key> = s.<key> [AND months(t.p) = months(s.p)]

Two backends here:

1. ``merge_into_sql`` — builds that exact statement for an Iceberg (or
   any MERGE-capable) catalog, including the partition-transform
   predicate for pruning.
2. ``merge_frames`` + ``MergeTable`` — a pure-DataFrame backend for the
   parquet-core engine: one full-outer join on the merge keys and a
   conditional projection. This is what the driver's parquet-only
   environment exercises.

Faithful semantic note (SURVEY.md §2.9): the reference's MERGE has no
timestamp guard, so a late-arriving event with an *older* ``__ts_ms``
than the stored row still overwrites it across batches. We reproduce
that by default and expose ``ts_guard`` to opt into
newer-wins-across-batches.

Scale: the full-outer join shuffles both sides on the merge key — the
same cost profile as Iceberg's copy-on-write MERGE. At 100 TB the win
comes from partition pruning (only partitions present in the source
batch are rewritten), which ``MergeTable.merge`` implements when the
table is partitioned.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_spark.types.frames import local_frame

UPSERT_OPS = ("c", "u", "r")
DELETE_OP = "d"

# Spark/Hive partition-directory escaping (ExternalCatalogUtils): these
# chars plus all control chars are %XX-encoded in dir names; NULL
# partition values map to the default-partition sentinel. Needed
# whenever a directory name is RECONSTRUCTED from a value (stale-
# partition cleanup) — a raw f"{col}={value}" misses the escaping and
# silently targets a directory that does not exist.
_PART_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^')
_NULL_PART_DIR = "__HIVE_DEFAULT_PARTITION__"


def _partition_dir(col: str, value) -> str:
    if value is None:
        return f"{col}={_NULL_PART_DIR}"
    escaped = "".join(
        f"%{ord(ch):02X}" if ch in _PART_ESCAPE or ord(ch) < 32 else ch
        for ch in str(value)
    )
    return f"{col}={escaped}"


def _partition_match(col: str, parts: Sequence) -> F.Column:
    """isin() that keeps NULL-partition rows matchable: `x.isin(...)`
    is SQL-NULL for NULL x, so filters built on it silently drop every
    null-partition row from both the pruned target and the merged
    output."""
    vals = [v for v in parts if v is not None]
    cond = F.col(col).isin(vals) if vals else F.lit(False)
    if len(vals) != len(parts):
        cond = cond | F.col(col).isNull()
    return cond


def merge_into_sql(
    target: str,
    source_view: str,
    key_columns: Sequence[str],
    all_columns: Sequence[str],
    op_col: str = "__op",
    tenant_cols: Sequence[str] = ("__rds_id", "__tenant_id"),
    partition_predicate: str | None = None,
) -> str:
    """Build the Iceberg MERGE INTO statement (reference :257-276).

    `partition_predicate` e.g. ``months(t.created_at) = months(s.created_at)``
    lets Iceberg prune target partitions before the join.
    """
    on = " AND ".join(
        f"t.{c} = s.{c}" for c in (*tenant_cols, *key_columns)
    )
    if partition_predicate:
        on = f"{on} AND {partition_predicate}"
    set_clause = ", ".join(f"t.{c} = s.{c}" for c in all_columns)
    cols = ", ".join(all_columns)
    vals = ", ".join(f"s.{c}" for c in all_columns)
    ops = ", ".join(f"'{o}'" for o in UPSERT_OPS)
    return (
        f"MERGE INTO {target} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND s.{op_col} = '{DELETE_OP}' THEN DELETE "
        f"WHEN MATCHED AND s.{op_col} IN ({ops}) THEN UPDATE SET {set_clause} "
        f"WHEN NOT MATCHED AND NOT s.{op_col} = '{DELETE_OP}' "
        f"THEN INSERT ({cols}) VALUES ({vals})"
    )


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    key_columns: Sequence[str],
    op_col: str = "__op",
    ts_col: str = "__ts_ms",
    ts_guard: bool = False,
) -> DataFrame:
    """Pure-DataFrame MERGE: returns the post-merge table content.

    Requires `source` pre-compacted to one row per key (the CDC pipeline
    guarantees this via keep_last). Output columns = union of target's
    and source's (schema evolution: new source columns appear, dropped
    ones are NULL back-filled for target rows). Shared columns whose
    TYPE changed are widened along the numeric promotion lattice
    (schema_evolution.widen_type) by casting BOTH sides — upstream
    sources routinely promote int→bigint and the merge must not fail
    (or worse, corrupt) on it; an unpromotable change raises naming
    the column.
    """
    from data_engineering_spark.cdc.schema_evolution import reconcile_types

    widened = reconcile_types(source.schema, target.schema)
    for c, dt in widened.items():
        source = source.withColumn(c, F.col(c).cast(dt))
        target = target.withColumn(c, F.col(c).cast(dt))
    keys = list(key_columns)
    data_cols = list(target.columns) + [
        c for c in source.columns if c not in target.columns
    ]

    t = target.withColumn("__t_present", F.lit(1))
    s = source.withColumn("__s_present", F.lit(1))
    joined = t.alias("t").join(s.alias("s"), keys, "full_outer")

    s_present = F.col("__s_present").isNotNull()
    t_present = F.col("__t_present").isNotNull()
    if ts_guard:
        s_wins = s_present & (
            ~t_present | (F.col(f"s.{ts_col}") >= F.col(f"t.{ts_col}"))
        )
    else:
        # don't even CONSTRUCT the ts comparison: with the guard off the
        # source may legitimately lack ts_col (e.g. a table_changes feed),
        # and an unresolvable `s.__ts_ms` reference would fail analysis
        s_wins = s_present
    # With ts_guard the delete must obey the same newer-wins rule: a
    # late delete whose __ts_ms is older than the stored row is ignored.
    # (Default ts_guard=False keeps the reference's unguarded behavior.)
    # coalesce(False): a malformed event with NULL op (or a guarded
    # delete with NULL ts) makes the conjunction SQL-NULL, and
    # filter(~NULL) would silently DROP the row — i.e. apply the
    # delete. NULL must mean "not a delete": the row survives and
    # pick()'s when(s_wins, ...).otherwise(target) already degrades
    # NULL comparisons to target-wins.
    is_delete = F.coalesce(
        s_present & (F.col(f"s.{op_col}") == DELETE_OP) & s_wins,
        F.lit(False),
    )

    def pick(c: str) -> F.Column:
        in_t, in_s = c in target.columns, c in source.columns
        if c in keys:
            return F.col(c)
        if in_t and in_s:
            return F.when(s_wins, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        if in_s:
            return F.when(s_wins, F.col(f"s.{c}")).otherwise(F.lit(None))
        return F.col(f"t.{c}")

    return (
        joined.filter(~is_delete)
        .select(*[pick(c).alias(c) for c in data_cols])
    )


def _has_data_files(path: str) -> bool:
    """True when the directory tree under `path` holds at least one
    parquet part file WITH rows. The after-write emptiness probe that
    lets the create path skip its count() pre-pass: Spark may write a
    single zero-row part file for an empty frame (schema-only footer),
    so file presence alone is not enough — read the footer row count
    (driver-local pyarrow metadata, no data pages) and short-circuit
    on the first nonempty file."""
    import pyarrow.parquet as pq

    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            try:
                meta = pq.ParquetFile(os.path.join(root, f)).metadata
            except Exception:
                # unreadable part file — treat as data so the caller
                # never silently discards a possibly-nonempty table
                return True
            if meta.num_rows > 0:
                return True
    return False


def _recover_swap(path: str, read_only: bool = False) -> None:
    """Self-heal the two-rename swap's crash window.

    The atomic swap is `rename(path, old); rename(staging, path);
    rmtree(old)`. A crash between the renames leaves NO table at
    `path` — the data is intact in the single `.old-*` dir; restore
    it (any staging dir is an unpublished partial write, garbage). A
    crash after the second rename leaves a stale `.old-*` (and the
    next op's staging) — both garbage once `path` exists. Runs under
    the table's path lock at every write-op entry, so each op starts
    from a healed directory and at most one `.old-*` can ever exist;
    more than one means external interference and recovery refuses to
    guess.

    ``read_only=True`` (the read-path self-heal) restores the single
    `.old-*` if the table is missing but deletes NOTHING: the path
    lock is process-local, so a reader in another process that
    observes a live writer's two-rename window must not rmtree that
    writer's in-flight `.staging-*` (or race its `.old-*` cleanup) —
    garbage collection belongs to write-op entry, which does hold the
    writer's lock.
    """
    import glob as _glob

    esc = _glob.escape(path)
    olds = _glob.glob(f"{esc}.old-*")
    if not os.path.exists(path):
        if len(olds) == 1:
            os.replace(olds[0], path)
            olds = []
        elif len(olds) > 1:
            raise RuntimeError(
                f"ambiguous crash recovery at {path}: "
                f"{len(olds)} .old-* directories; restore manually"
            )
    if read_only:
        return
    for o in olds:
        shutil.rmtree(o, ignore_errors=True)
    for s in _glob.glob(f"{esc}.staging-*"):
        shutil.rmtree(s, ignore_errors=True)


def _fold_sequential(
    df: DataFrame,
    key_columns: Sequence[str],
    op_col: str,
    ts_col: str,
    seq_col: str = "__delta_seq",
    guard: bool = True,
    sch_col: str | None = None,
) -> DataFrame:
    """Replay MERGE batches per key in ``seq_col`` order with COW
    semantics, entirely in JVM expressions (one shuffle, no Python).

    ``guard=True``: an event applies iff the key is absent OR its
    ts >= the STORED row's ts; a winning delete clears the key and its
    ts floor. ``guard=False``: every event applies (reference mode).

    ``sch_col`` names an array<string> column listing the columns the
    row's ORIGINAL frame carried (pre-unionByName back-fill): when a
    winning upsert's schema LACKED a column, its value carries forward
    from the stored row instead of the back-filled NULL — COW's
    merge_frames.pick retention rule (an explicitly-NULL value in a
    carrying schema still overwrites). Keys, seq, op and ts are never
    carried: they are per-event, not per-entity.

    The state is genuinely order-dependent (failed events leave no
    trace; deletes reset the floor; carry-forward reads the prior
    survivor), so no single keep-last expresses it — instead rows are
    collect_list'ed per key (bounded by the delta count, which
    compaction bounds), array_sort'ed on the leading seq field, and
    folded with F.aggregate. NULL-ts events lose against a present
    row (SQL-NULL comparison → not s_wins), matching merge_frames
    exactly.
    """
    other = [c for c in df.columns if c != seq_col]
    row = F.struct(F.col(seq_col), *[F.col(c) for c in other])
    row_type = df.select(row.alias("r")).schema["r"].dataType
    per_key = df.groupBy(*key_columns).agg(
        F.array_sort(F.collect_list(row)).alias("__rows")
    )
    zero = F.struct(
        F.lit(False).alias("present"),
        F.lit(None).cast(row_type).alias("row"),
    )
    no_carry = {*key_columns, seq_col, op_col, ts_col, sch_col}

    def step(acc: Column, x: Column) -> Column:
        if guard:
            s_wins = F.coalesce(
                ~acc["present"] | (x[ts_col] >= acc["row"][ts_col]),
                F.lit(False),
            )
        else:
            s_wins = F.lit(True)
        is_del = F.coalesce(x[op_col] == F.lit(DELETE_OP), F.lit(False))
        if sch_col is None:
            winner = x
        else:
            winner = F.struct(
                *[
                    (
                        x[c]
                        if c in no_carry
                        else F.when(
                            F.array_contains(x[sch_col], c)
                            | ~acc["present"],
                            x[c],
                        ).otherwise(acc["row"][c])
                    ).alias(c)
                    for c in [seq_col, *other]
                ]
            )
        return F.struct(
            F.when(s_wins, ~is_del)
            .otherwise(acc["present"])
            .alias("present"),
            # on a winning delete acc.row goes stale, which is safe:
            # present=False short-circuits the next comparison
            F.when(s_wins & ~is_del, winner)
            .otherwise(acc["row"])
            .alias("row"),
        )

    final = per_key.select(
        F.aggregate(F.col("__rows"), zero, step).alias("__st")
    ).filter(F.col("__st.present"))
    return final.select(
        *[F.col(f"__st.row.{c}") for c in [seq_col, *other]]
    )


def with_retry(
    fn: Callable[[], None],
    attempts: int = 10,
    sleep_s: float = 10.0,
    refresh: Callable[[], None] | None = None,
) -> None:
    """Optimistic-commit retry loop (reference :281-292: 10 attempts,
    REFRESH TABLE + 10 s sleep between tries)."""
    last: Exception | None = None
    for i in range(attempts):
        try:
            fn()
            return
        except Exception as e:  # noqa: BLE001 - mirrors reference behavior
            last = e
            if refresh:
                refresh()
            if i < attempts - 1:
                time.sleep(sleep_s)
    raise RuntimeError(f"merge failed after {attempts} attempts") from last


BUCKET_COL = "__bucket"

# stored_bucket_by() sentinels: no table / no evidence either way vs.
# "definitely bucketed, created before layout metadata existed (N lost)"
_LAYOUT_UNKNOWN = object()
_LAYOUT_BUCKETED_UNVERSIONED = object()


class MergeTable:
    """Parquet-backed keyed table with MERGE semantics (the parquet-core
    stand-in for an Iceberg table).

    Layout: a directory of parquet files, optionally hash-partitioned by
    a partition column. `merge` performs copy-on-write: read current
    state → merge_frames → atomic directory swap. On a real lakehouse
    this is Iceberg's job (see merge_into_sql); the class exists so the
    whole CDC pipeline runs and is testable on plain parquet.

    `bucket_by=N` gives a table with NO natural partition column the
    partition-pruned merge path anyway (Iceberg's `bucket(N, key)`
    hidden-partition transform): rows land in a synthetic
    `__bucket = pmod(hash(keys), N)` directory, so a merge rewrites
    only the buckets its batch keys hash into — O(batch-touched
    buckets), not O(table). Because the bucket is a function of the
    merge keys, an update can never move a row across buckets, which
    also licenses the identity-partition fast path (no full-table
    moved-keys scan per merge). The column is hidden metadata:
    `read()` never returns it and batches never supply it.
    """

    _path_locks: dict[str, threading.Lock] = {}

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_columns: Sequence[str],
        partition_by: str | None = None,
        bucket_by: int | None = None,
        durable_staging: bool = False,
        compression: str | None = None,
        max_records_per_file: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_columns = list(key_columns)
        self.partition_by = partition_by
        if bucket_by is not None:
            if partition_by is not None:
                raise ValueError(
                    "bucket_by and partition_by are exclusive: buckets "
                    "ARE the partition layout"
                )
            if bucket_by <= 0:
                raise ValueError(f"bucket_by must be positive: {bucket_by}")
            if not self.key_columns:
                raise ValueError(
                    "bucket_by requires key_columns (buckets hash the keys)"
                )
            if BUCKET_COL in self.key_columns:
                raise ValueError(
                    f"key column collides with reserved {BUCKET_COL!r}"
                )
            self.partition_by = BUCKET_COL
        self.bucket_by = bucket_by
        # Opening an existing table with the WRONG bucket layout is the
        # one config drift with no legitimate use: merges would stamp
        # pmod(hash, wrong_N), dynamically overwrite the wrong
        # directories, and leave the old row copies in place — silent
        # duplicates. Iceberg prevents this by making the partition
        # spec TABLE metadata, not caller config; same here
        # (_layout.json, written at create/rebucket). Pre-metadata
        # tables fall back to directory sniffing, which at least
        # catches bucketed-vs-flat.
        stored = self.stored_bucket_by(path)
        if stored is _LAYOUT_BUCKETED_UNVERSIONED:
            # pre-metadata bucketed table: N is unrecoverable, so any
            # int must be taken on trust — but a flat open is provably
            # wrong
            if bucket_by is None:
                raise ValueError(
                    f"table at {path} has {BUCKET_COL}= directories "
                    "but was opened unbucketed; merging would leave "
                    "stale row copies behind. Open with its bucket_by, "
                    "or migrate with rebucket(None)."
                )
        elif stored is not _LAYOUT_UNKNOWN and stored != bucket_by:
            raise ValueError(
                f"table at {path} is laid out with bucket_by={stored} "
                f"but was opened with bucket_by={bucket_by}; merging "
                "would rewrite the wrong directories and duplicate "
                "rows. Open with the stored value, or migrate with "
                "rebucket()."
            )
        # durable_staging: stage touched partitions through a parquet
        # dir instead of localCheckpoint (survives executor loss at the
        # cost of an extra write+read) — see _merge_partitioned_inner.
        self.durable_staging = durable_staging
        # writer knobs (Iceberg's write.target-file-size / codec table
        # properties, parquet-core edition): codec per table, and a row
        # ceiling per file so one fat task can't emit a 10 GB file that
        # defeats downstream parallelism.
        self.compression = compression
        self.max_records_per_file = max_records_per_file
        # in-process merge serialization: two concurrent merges on one
        # path would both read the same base state and the later swap
        # would silently drop the earlier batch (lost update). The CDC
        # engine already serializes per table; this lock covers direct
        # users sharing a session (streaming/runner.start_streams
        # threads). CROSS-process writers still need an external lock
        # or the Iceberg backend's optimistic commit.
        self._lock = self._path_locks.setdefault(
            os.path.abspath(path), threading.Lock()
        )

    def exists(self) -> bool:
        return os.path.exists(self.path)

    # -- layout spec as table metadata (Iceberg partition-spec analog) -

    @property
    def _layout_path(self) -> str:
        return os.path.join(self.path, "_layout.json")

    def _write_layout(self) -> None:
        import json

        with open(self._layout_path, "w") as f:
            json.dump(
                {
                    "partition_by": (
                        None
                        if self.partition_by == BUCKET_COL
                        else self.partition_by
                    ),
                    "bucket_by": self.bucket_by,
                },
                f,
            )

    @staticmethod
    def stored_bucket_by(path: str):
        """The table's on-disk bucket layout: an int, None (laid out
        flat / naturally partitioned), or _LAYOUT_UNKNOWN when the
        table is absent or predates layout metadata AND shows no
        bucket directories (nothing to contradict)."""
        meta = os.path.join(path, "_layout.json")
        if os.path.exists(meta):
            import json

            with open(meta) as f:
                return json.load(f).get("bucket_by")
        if os.path.isdir(path):
            # pre-metadata sniff (tables created before _layout.json):
            # bucket dirs prove a bucketed layout but not its N —
            # report that distinctly rather than inventing a count;
            # data entries with no bucket dirs prove a flat/natural
            # layout.
            entries = os.listdir(path)
            # checked before the metadata-file filter: the bucket
            # column itself starts with an underscore
            if any(e.startswith(f"{BUCKET_COL}=") for e in entries):
                return _LAYOUT_BUCKETED_UNVERSIONED
            if any(not e.startswith(("_", ".")) for e in entries):
                return None
        return _LAYOUT_UNKNOWN

    # -- column-rename evolution (metadata-only, Iceberg-style) --------
    #
    # `rename_column` rewrites NO data: it records physical→logical
    # name mappings in `_colmap.json` inside the table directory (the
    # leading underscore keeps it out of every Spark scan). Files
    # written before the rename keep the old physical column; files
    # written after carry the new name; `read()` reconciles both with
    # one coalesce per renamed column. This is the same trick Iceberg
    # plays with field-ids, done with names because parquet-core has no
    # id channel.

    @property
    def _colmap_path(self) -> str:
        return os.path.join(self.path, "_colmap.json")

    def _colmap(self) -> dict[str, str]:
        if not os.path.exists(self._colmap_path):
            return {}
        import json

        with open(self._colmap_path) as f:
            return json.load(f)

    def rename_column(self, old: str, new: str) -> None:
        cols = self.read().columns if self.exists() else []
        if old not in cols:
            raise ValueError(f"no such column: {old}")
        if new in cols:
            raise ValueError(f"column already exists: {new}")
        if old in self.key_columns or old == self.partition_by:
            raise ValueError(
                f"cannot rename key/partition column: {old}"
            )
        m = self._colmap()
        # transitive chains (a→b committed earlier, now b→c): every
        # physical name that currently maps to `old` follows it to `new`
        for phys, logical in list(m.items()):
            if logical == old:
                m[phys] = new
        m[old] = new
        import json

        with open(self._colmap_path, "w") as f:
            json.dump(m, f)

    def _apply_colmap(self, df: DataFrame) -> DataFrame:
        for phys, logical in self._colmap().items():
            if phys not in df.columns:
                continue
            if logical in df.columns:
                # old-name files and new-name files coexist: exactly one
                # side is non-null per row
                df = df.withColumn(
                    logical, F.coalesce(F.col(logical), F.col(phys))
                ).drop(phys)
            else:
                df = df.withColumnRenamed(phys, logical)
        return df

    # -- schema sidecar (empty-table readability) ----------------------
    #
    # A merge whose deletes remove the table's LAST rows leaves a
    # parquet directory with zero data files (a dynamic partition
    # overwrite of an empty frame writes nothing and the stale-partition
    # cleanup removes the emptied directories), and parquet cannot infer
    # a schema from no footers. Every write therefore records the
    # written schema in `_schema.json`; `_read_raw` falls back to a
    # zero-row frame of that schema, so "table exists but is empty" is a
    # first-class state matching the MOR backend (found by the
    # backend-equivalence property test: insert then delete one key).

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.path, "_schema.json")

    def _write_schema(self, schema) -> None:
        import json

        with open(self._schema_path, "w") as f:
            f.write(json.dumps(schema.jsonValue()))

    def _read_raw(self) -> DataFrame:
        from pyspark.errors.exceptions.base import AnalysisException

        if not os.path.exists(self.path):
            # a reader arriving inside a crashed swap's window (path
            # renamed away, data intact in the single .old-*): heal
            # before parquet raises PATH_NOT_FOUND. Write ops already
            # do this at entry; reads now self-heal the same way
            # instead of requiring a manual recover(). No-op when
            # there is genuinely no table. read_only: the restore only
            # — never delete another process's in-flight staging dir
            # (the lock below is process-local)
            with self._lock:
                _recover_swap(self.path, read_only=True)

        # mergeSchema: after schema evolution, a partition-pruned merge
        # rewrites only touched partitions with the widened schema —
        # untouched partition files keep the old one. Footer-of-one-file
        # schema inference would silently drop the new columns.
        try:
            df = self.spark.read.option("mergeSchema", "true").parquet(
                self.path
            )
        except AnalysisException as e:
            if "UNABLE_TO_INFER_SCHEMA" not in str(e) or not os.path.exists(
                self._schema_path
            ):
                raise
            import json

            from pyspark.sql.types import StructType

            with open(self._schema_path) as f:
                stored = StructType.fromJson(json.load(f))
            df = local_frame(self.spark, [], stored)
        return self._apply_colmap(df)

    def read(self) -> DataFrame:
        df = self._read_raw()
        # the synthetic bucket column is layout metadata, not table
        # content — hiding it here keeps schema-diff/evolution and every
        # downstream consumer unaware the table is bucketed
        if self.bucket_by is not None:
            df = df.drop(BUCKET_COL)
        return df

    def lookup(self, keys: DataFrame) -> DataFrame:
        """Point-read: table rows whose key tuple appears in ``keys``.

        The scale win is partition pruning before the semi-join. A
        bucketed table (``bucket_by=N``) knows each key's bucket
        without touching the table, so the scan is restricted to the
        batch's bucket directories with LITERAL partition filters —
        the driver-side collect is bounded by ``bucket_by`` values,
        metadata-sized no matter how big the table or the batch. An
        identity-partitioned table (partition column is a merge key)
        prunes the same way on the keys' own partition values (bounded
        by the batch's distinct keys). Any other layout falls back to
        the plain semi-join full scan — still one shuffle-or-broadcast
        join, just no file skipping.
        """
        missing = [k for k in self.key_columns if k not in keys.columns]
        if missing:
            raise ValueError(f"lookup keys missing key columns: {missing}")
        keys = keys.select(*self.key_columns).dropDuplicates()
        df = self._read_raw()
        prune_col: str | None = None
        if self.bucket_by is not None:
            prune_col = BUCKET_COL
            key_parts = self._with_bucket(keys).select(BUCKET_COL)
        elif self.partition_by and self.partition_by in self.key_columns:
            prune_col = self.partition_by
            key_parts = keys.select(self.partition_by)
        if prune_col is not None:
            vals = [r[0] for r in key_parts.distinct().collect()]
            df = df.filter(_partition_match(prune_col, vals))
        out = df.join(keys, self.key_columns, "left_semi")
        if self.bucket_by is not None:
            out = out.drop(BUCKET_COL)
        return out

    def rebucket(self, new_bucket_by: int | None) -> None:
        """Layout evolution: rewrite the table into ``new_bucket_by``
        key-hash buckets (or back to flat with None) and update the
        layout metadata — the migration path the constructor's
        layout-mismatch error points at (Iceberg partition-spec
        evolution, done eagerly since parquet-core has no spec
        versioning to interpret old files through).

        One full read→write + atomic swap, same crash contract as the
        unpartitioned merge: the table directory is replaced by a pair
        of renames, never mutated in place.
        """
        if self.partition_by is not None and self.bucket_by is None:
            raise ValueError(
                "rebucket applies to flat or bucketed tables, not "
                f"naturally partitioned ones ({self.partition_by})"
            )
        if new_bucket_by is not None and new_bucket_by <= 0:
            raise ValueError(
                f"bucket_by must be positive: {new_bucket_by}"
            )
        with self._lock:
            _recover_swap(self.path)
            if not self.exists():
                raise ValueError(f"no table at {self.path}")
            if new_bucket_by == self.bucket_by:
                return
            df = self._read_raw()
            if self.bucket_by is not None:
                df = df.drop(BUCKET_COL)
            old_spec = (self.bucket_by, self.partition_by)
            self.bucket_by = new_bucket_by
            self.partition_by = (
                BUCKET_COL if new_bucket_by is not None else None
            )
            # staging plan reads the OLD directory while writing the
            # new one; the swap happens only after the write succeeds.
            # A failed write must restore the instance spec — the disk
            # still holds the old layout.
            staging = f"{self.path}.staging-{uuid.uuid4().hex}"
            try:
                if new_bucket_by is not None:
                    df = self._with_bucket(df)
                self._write(df, staging)
            except BaseException:
                self.bucket_by, self.partition_by = old_spec
                shutil.rmtree(staging, ignore_errors=True)
                raise
            old = f"{self.path}.old-{uuid.uuid4().hex}"
            os.replace(self.path, old)
            os.replace(staging, self.path)
            old_map = os.path.join(old, "_colmap.json")
            if os.path.exists(old_map):
                shutil.copy(old_map, self._colmap_path)
            self._write_layout()
            self._write_schema(df.schema)
            shutil.rmtree(old, ignore_errors=True)

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if BUCKET_COL in df.columns:
            raise ValueError(
                f"source already has reserved column {BUCKET_COL!r}"
            )
        return df.withColumn(
            BUCKET_COL,
            F.pmod(F.hash(*self.key_columns), F.lit(self.bucket_by)),
        )

    def _write(self, df: DataFrame, dest: str) -> None:
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(self.partition_by)
        if self.compression:
            w = w.option("compression", self.compression)
        if self.max_records_per_file:
            w = w.option("maxRecordsPerFile", self.max_records_per_file)
        w.parquet(dest)

    def create(self, df: DataFrame) -> None:
        if self.bucket_by is not None and BUCKET_COL not in df.columns:
            df = self._with_bucket(df)
        self._write(df, self.path)
        self._write_layout()
        self._write_schema(df.schema)

    def merge(
        self,
        source: DataFrame,
        op_col: str = "__op",
        ts_col: str = "__ts_ms",
        ts_guard: bool = False,
    ) -> None:
        """Copy-on-write merge.

        Unpartitioned: full rewrite to a staging dir + atomic swap
        (Spark can't overwrite a path that feeds the running plan).

        Partitioned: **partition-pruned rewrite** — the scale lever that
        makes merge cost proportional to the batch, not the table
        (Iceberg's `months(t.p) = months(s.p)` ON-clause pruning,
        reference :263-264, re-created for parquet). Affected partitions
        are: partitions of the source rows ∪ partitions of target rows
        whose KEYS appear in the batch (an update may move a row across
        partitions — its old copy must be rewritten away too). Only
        those partitions are merged and dynamically overwritten;
        untouched partition directories are not read or written.
        """
        with self._lock:
            self._merge_inner(source, op_col, ts_col, ts_guard)

    def recover(self) -> None:
        """Heal a crashed swap (see _recover_swap) without writing.
        Write ops run this automatically; call it explicitly when a
        reader finds the table path missing after a writer crash."""
        with self._lock:
            _recover_swap(self.path)

    def _merge_inner(
        self,
        source: DataFrame,
        op_col: str,
        ts_col: str,
        ts_guard: bool,
    ) -> None:
        _recover_swap(self.path)
        if self.bucket_by is not None:
            # stamp every batch row (deletes included — a delete must
            # rewrite the bucket holding its row) with its bucket
            source = self._with_bucket(source)
        if not self.exists():
            # NULL op is "not a delete" (same rule as merge_frames) —
            # a bare != would NULL-drop malformed events
            inserts = source.filter(
                F.coalesce(F.col(op_col) != DELETE_OP, F.lit(True))
            )
            # an all-deletes first batch would create a ZERO-FILE
            # parquet dir (Spark writes no files for an empty frame)
            # that every later read rejects with UNABLE_TO_INFER_SCHEMA
            # — deletes into a non-existent table are a no-op, so leave
            # the table uncreated (found by the backend-equivalence
            # property test).
            #
            # WRITE-FIRST, then roll back if empty — not a count()
            # pre-pass, and NOT isEmpty(): the CDC engine rides its
            # quarantine metrics on the FIRST action over the observed
            # batch plan, and a limit-1 probe short-circuits — metrics
            # get counted over only the rows the early exit happened to
            # scan, silently dropping quarantine rows (found by the
            # malformed-payload engine property). The parquet write
            # scans every row (no short-circuit), so it completes the
            # Observation exactly like the old count() did while saving
            # one full aggregate pass over the batch per table create.
            self.create(inserts)
            if not _has_data_files(self.path):
                shutil.rmtree(self.path, ignore_errors=True)
            return
        target = self._read_raw()
        if self.partition_by:
            self._merge_partitioned(
                target, source, op_col, ts_col, ts_guard
            )
            return
        merged = merge_frames(
            target, source, self.key_columns, op_col, ts_col, ts_guard
        )
        self._publish_rewrite(merged)

    def _publish_rewrite(self, merged: DataFrame) -> None:
        """Full-rewrite publish: write `merged` to a staging dir and
        swap it in with a pair of renames. The plan may read the live
        table directory — staging is a DIFFERENT path, so Spark's
        no-self-overwrite rule never triggers and no checkpoint /
        intermediate materialization is needed.

        Staging lives NEXT TO the table, not in /tmp: across
        filesystems shutil.move degrades to a recursive copy — not
        atomic, double the space, and a crash mid-copy loses the
        table path. Same-filesystem staging keeps the swap a pair of
        renames."""
        staging = f"{self.path}.staging-{uuid.uuid4().hex}"
        self._write(merged, staging)
        old = f"{self.path}.old-{uuid.uuid4().hex}"
        os.replace(self.path, old)
        os.replace(staging, self.path)
        # the rename map is table METADATA riding inside the data dir —
        # carry it across the atomic swap or renames would silently undo
        old_map = os.path.join(old, "_colmap.json")
        if os.path.exists(old_map):
            shutil.copy(old_map, self._colmap_path)
        self._write_layout()
        self._write_schema(merged.schema)
        shutil.rmtree(old, ignore_errors=True)

    def _merge_partitioned(
        self,
        target: DataFrame,
        source: DataFrame,
        op_col: str,
        ts_col: str,
        ts_guard: bool,
    ) -> None:
        from pyspark import StorageLevel

        p = self.partition_by
        # The source lineage is typically the whole upstream pipeline
        # (envelope parse + LWW window in the CDC path) and is consumed
        # by several actions below (partition discovery, the merge join,
        # survivors) — persist it once instead of re-parsing per action.
        source = source.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            self._merge_partitioned_inner(
                target, source, op_col, ts_col, ts_guard
            )
        finally:
            source.unpersist()

    def _merge_partitioned_inner(
        self,
        target: DataFrame,
        source: DataFrame,
        op_col: str,
        ts_col: str,
        ts_guard: bool,
    ) -> None:
        p = self.partition_by
        # ONE distinct for the whole affected-partition set: the old
        # shape deduped each branch separately (src_parts.distinct(),
        # moved_parts.distinct(), then union().distinct(), plus a
        # .distinct() on the semi-join probe side) — every inner
        # distinct is an extra exchange whose AQE stage jobs serialize
        # ahead of the collect (measured: 9 stage jobs ≈ 0.9 s per
        # merge at sf0.1). Map-side partial aggregation already
        # shrinks the few partition values before the single final
        # distinct, and a left-semi join never multiplies rows, so
        # dropping the inner dedups changes nothing but the job count.
        if p in self.key_columns or self.bucket_by is not None:
            # identity partition on a merge key (e.g. the __rds_id
            # fallback) or a synthetic key-hash bucket: the key
            # determines its partition, so an update can never move a
            # row across partitions — the batch's own partitions are
            # exactly the affected set. Skips a full target scan (the
            # moved-keys semi-join) per merge.
            all_parts = source.select(p).distinct()
        else:
            moved_parts = target.join(
                source.select(*self.key_columns),
                self.key_columns,
                "left_semi",
            ).select(p)
            all_parts = source.select(p).union(moved_parts).distinct()
        parts = [r[p] for r in all_parts.collect()]
        if not parts:  # empty batch → nothing to rewrite
            return
        # Full-rewrite detection: when the batch touches EVERY existing
        # partition (wide-keyspace drains, small tables), the "pruned"
        # path below degenerates to a full rewrite that ALSO pays a
        # full-target localCheckpoint materialization — strictly worse
        # than the unpartitioned staging+swap, which writes the table
        # exactly once (the plan reads the live directory and writes a
        # DIFFERENT path, so no checkpoint is needed). Directory names
        # are reconstructed with the same escaping the writer uses
        # (_partition_dir, proven by the stale-cleanup path), so the
        # comparison is exact.
        # (null partitions land as `col=__HIVE_DEFAULT_PARTITION__`,
        # which the prefix match already covers)
        existing_dirs = {
            e for e in os.listdir(self.path) if e.startswith(f"{p}=")
        }
        touched_dirs = {_partition_dir(p, v) for v in parts}
        if existing_dirs <= touched_dirs:
            merged = merge_frames(
                target, source, self.key_columns, op_col, ts_col, ts_guard
            )
            self._publish_rewrite(merged)
            return
        # Spark (rightly) refuses to overwrite a path its own plan reads
        # from, so the affected partitions must be materialized off the
        # source files first. localCheckpoint cuts the lineage (the
        # checkpointed plan no longer references the table's files) at
        # memory/local-disk cost proportional to the touched partitions
        # — one full write+read of a staging parquet copy cheaper than
        # the durable alternative. Tradeoff: checkpoint blocks are lost
        # with an executor, failing the job instead of recomputing; the
        # merge is wrapped in with_retry by callers and the overwrite is
        # idempotent, so a retry re-runs cleanly. Set durable_staging
        # for the parquet-staging variant on unreliable clusters.
        if self.durable_staging:
            staging_in = os.path.join(
                tempfile.gettempdir(), f"mergetable-in-{uuid.uuid4().hex}"
            )
            target.filter(_partition_match(p, parts)).write.parquet(
                staging_in
            )
            pruned_target = self.spark.read.parquet(staging_in)
        else:
            staging_in = None
            pruned_target = target.filter(
                _partition_match(p, parts)
            ).localCheckpoint(eager=True)
        from pyspark.sql import Observation

        merged = merge_frames(
            pruned_target, source, self.key_columns, op_col, ts_col, ts_guard
        ).filter(_partition_match(p, parts))
        # The surviving-partitions set rides the overwrite action via
        # observe(collect_set) — no second job, no persist of the merged
        # frame. Partition counts are metadata-sized (bounded by `parts`),
        # well within driver collect_set limits.
        obs = Observation()
        # collect_set drops NULL, so a surviving null partition needs
        # its own flag or the stale-cleanup below would delete it
        merged = merged.observe(
            obs,
            F.collect_set(F.col(p)).alias("parts"),
            F.max(
                F.when(F.col(p).isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("null_part"),
        )
        # dynamic partition overwrite replaces exactly the partitions
        # present in `merged`; a partition whose rows were all deleted
        # would be absent from `merged` and thus survive stale — write
        # an explicit empty frame for it? No: overwrite it by unioning
        # nothing is impossible, so delete those partition dirs directly.
        # Per-write option, NOT a session-conf toggle: many streams share
        # one SparkSession (streaming/runner.start_streams), and a
        # set/restore race would let a concurrent merge run under
        # 'static' — a static overwrite with partitionBy deletes every
        # untouched partition. The writer option is race-free and takes
        # precedence over the session conf.
        w = merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        )
        if self.compression:
            w = w.option("compression", self.compression)
        if self.max_records_per_file:
            w = w.option("maxRecordsPerFile", self.max_records_per_file)
        w.partitionBy(p).parquet(self.path)
        surviving = set(obs.get["parts"] or [])
        if obs.get["null_part"]:
            surviving.add(None)
        for stale in set(parts) - surviving:
            shutil.rmtree(
                os.path.join(self.path, _partition_dir(p, stale)),
                ignore_errors=True,
            )
        self._write_schema(merged.schema)
        if staging_in is not None:
            shutil.rmtree(staging_in, ignore_errors=True)


class MergeTableMOR:
    """Merge-on-read twin of MergeTable (Iceberg's MOR mode, re-created
    for the parquet core; reference :243-292 is COW-only).

    Write path: `merge` appends the LWW-compacted batch as ONE delta
    file — no read of the base, no rewrite, so ingest cost is O(batch)
    regardless of how many partitions the batch touches. The COW
    backend's merge cost is O(touched partitions); under update-heavy
    streams that rewrite amplification dominates, which is exactly the
    workload MOR exists for.

    Read path: base ∪ deltas → keep-last per key → drop deletes. The
    per-key order is (delta_seq) for reference parity (later batch
    wins unconditionally, matching COW ts_guard=False) or
    (__ts_ms, delta_seq) when ``ts_guard`` (newer-wins, matching COW
    ts_guard=True). Base rows participate with seq = -1, so one
    keep-last expresses the whole resolution — and `read` is
    semantically IDENTICAL to the COW backend's table state after the
    same batches (equivalence-tested in tests/test_mor.py).

    Read cost grows with the delta count; `compact` folds deltas into
    a new base (the background maintenance job at scale — trigger on
    `delta_count()` or delta bytes). Schema evolution: deltas may
    carry new columns; the union is by name with NULL back-fill.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_columns: Sequence[str],
        ts_guard: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_columns = list(key_columns)
        self.ts_guard = ts_guard
        # same in-process serialization as the COW backend (shared
        # registry): without it two concurrent merges read the same
        # delta count and the later overwrite of delta-{N} silently
        # clobbers the earlier batch
        self._lock = MergeTable._path_locks.setdefault(
            os.path.abspath(path), threading.Lock()
        )

    @property
    def base_path(self) -> str:
        return os.path.join(self.path, "base")

    @property
    def delta_dir(self) -> str:
        return os.path.join(self.path, "_deltas")

    def exists(self) -> bool:
        return os.path.exists(self.base_path)

    def _delta_paths(self) -> list[str]:
        import glob

        # only COMMITTED deltas count: a crash mid-write can leave a
        # partial dir (no _SUCCESS), and counting it would (a) shift
        # the next merge's sequence past a hole and (b) feed read()
        # a corrupt/empty frame. Partial dirs are invisible here and
        # overwritten by the next merge's staged rename.
        return sorted(
            p
            for p in glob.glob(os.path.join(self.delta_dir, "delta-*"))
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        )

    def delta_count(self) -> int:
        return len(self._delta_paths())

    def create(self, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.base_path)

    def merge(self, source: DataFrame, op_col: str = "__op") -> None:
        """Append the batch as one delta (source must be pre-compacted
        to one row per key, as the CDC pipeline guarantees)."""
        with self._lock:
            _recover_swap(self.base_path)
            if not self.exists():
                inserts = source.filter(
                    F.coalesce(F.col(op_col) != DELETE_OP, F.lit(True))
                )
                # same guard as the COW path: an all-deletes first
                # batch must not create a zero-file (unreadable) base.
                # Write-first then roll back if empty (not count(), not
                # isEmpty()) for the same observed-metrics reason
                # documented in MergeTable._merge_inner — one batch
                # scan instead of two.
                self.create(inserts)
                if not _has_data_files(self.base_path):
                    shutil.rmtree(self.base_path, ignore_errors=True)
                return
            # stage-then-rename: writing delta-N directly is not
            # retry-safe (with_retry wraps this in the CDC engine) — a
            # failed attempt's partial delta-N would be unioned by
            # read() or shift a blind recount. The staged write can
            # crash harmlessly (invisible to _delta_paths), and the
            # rename publishes a fully-written delta or nothing.
            import glob

            for leftover in glob.glob(
                os.path.join(self.delta_dir, ".staging-*")
            ):
                shutil.rmtree(leftover, ignore_errors=True)
            staging = os.path.join(
                self.delta_dir, f".staging-{uuid.uuid4().hex}"
            )
            source.write.mode("overwrite").parquet(staging)
            seq = len(self._delta_paths())
            dest = os.path.join(self.delta_dir, f"delta-{seq:010d}")
            if os.path.exists(dest):  # partial dir from a crash
                shutil.rmtree(dest)
            os.replace(staging, dest)

    def versions(self) -> list[int]:
        """Readable table versions: 0 = base only, k = base + first k
        deltas. The newest version is `delta_count()`."""
        return list(range(len(self._delta_paths()) + 1))

    def read(
        self,
        op_col: str = "__op",
        ts_col: str = "__ts_ms",
        as_of: int | None = None,
        keys: DataFrame | None = None,
    ) -> DataFrame:
        """Resolved table state; `as_of=k` time-travels to the state
        after the first k deltas (k=0 → base as written). Because the
        delta log is append-only, historical reads are just a prefix of
        the same union — no extra storage. `compact` folds deltas into
        the base and therefore truncates history below the compaction
        point (exactly Iceberg's expire-snapshots trade-off).

        ``keys`` restricts the read to the given key tuples BELOW the
        keep-last resolution: LWW is per key, so semi-joining base and
        deltas first is exact while keeping other keys' rows out of
        the resolution window entirely — the MOR point-lookup path
        (AQE broadcasts a small key batch)."""
        from functools import reduce

        from data_engineering_spark.operators.dedup import keep_last_agg

        if not os.path.exists(self.base_path):
            # reader inside a crashed compact-swap window: heal before
            # the base read raises PATH_NOT_FOUND (parity with the COW
            # reader's self-heal; no-op when there is no table)
            self.recover()
        paths = self._delta_paths()
        if as_of is not None:
            if not 0 <= as_of <= len(paths):
                raise ValueError(
                    f"as_of={as_of} out of range 0..{len(paths)}"
                )
            paths = paths[:as_of]
        frames = [
            self.spark.read.parquet(self.base_path).withColumn(
                "__delta_seq", F.lit(-1)
            )
        ] + [
            self.spark.read.parquet(p).withColumn("__delta_seq", F.lit(i))
            for i, p in enumerate(paths)
        ]
        # schema evolution: COW MERGE retains the TARGET's value for
        # columns the source schema LACKS (an explicit NULL overwrites
        # — Delta's UPDATE SET * rule, merge_frames.pick). After
        # unionByName back-fill that distinction is gone, so frames
        # that miss union columns are tagged with the column list they
        # actually carried and resolution switches to the carry-forward
        # fold. Uniform-schema history (the common case) keeps the
        # cheap untagged paths.
        union_cols = set()
        for f in frames:
            union_cols.update(c for c in f.columns if c != "__delta_seq")
        need_carry = any(
            union_cols - set(f.columns) for f in frames
        )
        if need_carry:
            frames = [
                f.withColumn(
                    "__sch",
                    F.array(
                        *[
                            F.lit(c)
                            for c in f.columns
                            if c != "__delta_seq"
                        ]
                    ),
                )
                for f in frames
            ]
        if len(frames) == 1:
            out = frames[0]
        else:
            out = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                frames,
            )
        if keys is not None:
            missing = [
                k for k in self.key_columns if k not in keys.columns
            ]
            if missing:
                raise ValueError(
                    f"lookup keys missing key columns: {missing}"
                )
            out = out.join(
                keys.select(*self.key_columns).dropDuplicates(),
                self.key_columns,
                "left_semi",
            )
        if op_col not in out.columns:
            out = out.withColumn(op_col, F.lit("r"))
        else:
            # unionByName null-fills frames that lack op_col (a base
            # created from a snapshot without __op, deltas with it):
            # those NULLs would make the != 'd' filter below silently
            # drop every untouched base row
            out = out.withColumn(
                op_col, F.coalesce(F.col(op_col), F.lit("r"))
            )
        if self.ts_guard or need_carry:
            # guard mode is NOT a global keep-last by ts: COW MERGE
            # semantics are SEQUENTIAL — a winning delete removes the
            # row AND its ts floor, so a later batch's OLDER-ts insert
            # recreates the key (NOT MATCHED → INSERT). A keep-last
            # over all history lets the dead row's higher ts suppress
            # that insert (probed divergence: c@100, d@100, u@50 —
            # COW keeps u@50, keep-last said deleted). Evolved-schema
            # histories need the fold too (carry-forward of columns a
            # winning row's schema lacked), in either mode. The fold
            # replays the batch order per key exactly.
            resolved = _fold_sequential(
                out,
                self.key_columns,
                op_col,
                ts_col,
                guard=self.ts_guard,
                sch_col="__sch" if need_carry else None,
            )
        else:
            # reference mode, uniform schema: later batch wins
            # unconditionally, so the sequential fold degenerates to
            # keep-last by batch order
            resolved = keep_last_agg(
                out, self.key_columns, "__delta_seq"
            )
        resolved = resolved.filter(F.col(op_col) != DELETE_OP).drop(
            "__delta_seq"
        )
        if need_carry:
            resolved = resolved.drop("__sch")
        return resolved

    def lookup(self, keys: DataFrame) -> DataFrame:
        """Point-read: resolved rows whose key tuple appears in
        ``keys`` (API parity with MergeTable.lookup). The filter is
        applied below the LWW resolution — see ``read(keys=...)``."""
        return self.read(keys=keys)

    def change_feed(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level changes between two versions (Delta's
        change-data-feed shape): the union of delta files
        (from_version, to_version], each row tagged with its
        `_commit_version`. No diffing is computed — the append-only
        delta log IS the feed, so this is a metadata-pruned scan of
        exactly the requested files. Downstream incremental consumers
        (sync a mart, invalidate a cache) read this instead of the
        table."""
        from functools import reduce

        paths = self._delta_paths()
        to_version = len(paths) if to_version is None else to_version
        if not 0 <= from_version <= to_version <= len(paths):
            raise ValueError(
                f"bad version range {from_version}..{to_version} "
                f"(have 0..{len(paths)})"
            )
        picked = [
            self.spark.read.parquet(p).withColumn(
                "_commit_version", F.lit(i + 1)
            )
            for i, p in enumerate(paths)
            if from_version <= i < to_version
        ]
        if not picked:
            return self.spark.read.parquet(self.base_path).limit(0).withColumn(
                "_commit_version", F.lit(0)
            )
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), picked
        )

    def recover(self) -> None:
        """Heal a crashed compact swap on the base (see _recover_swap).
        Write ops run this automatically."""
        with self._lock:
            _recover_swap(self.base_path)

    def compact(self) -> int:
        """Fold all deltas into a new base (atomic swap); returns the
        number of deltas folded. The MOR maintenance job: run when
        delta_count()/bytes crosses a threshold so read amplification
        stays bounded."""
        with self._lock:
            _recover_swap(self.base_path)
            paths = self._delta_paths()
            if not paths:
                return 0
            # same-filesystem staging: /tmp staging degrades the swap
            # to a non-atomic cross-device copy (see MergeTable swap)
            staging = f"{self.base_path}.staging-{uuid.uuid4().hex}"
            self.read().write.parquet(staging)
            old = f"{self.base_path}.old-{uuid.uuid4().hex}"
            os.replace(self.base_path, old)
            os.replace(staging, self.base_path)
            for p in paths:
                shutil.rmtree(p, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            return len(paths)
