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

Publishing: every ``MergeTable`` write (and the MOR base) is one commit
— immutable version directories, then one pointer-file replace
(``_commit_version``) — so readers see whole commits without a lock
and a crash at any step leaves the previous commit readable.
"""

from __future__ import annotations

import fcntl
import glob
import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_spark.cdc.schema_evolution import reconcile_types
from data_engineering_spark.types.frames import local_frame

UPSERT_OPS = ("c", "u", "r")
DELETE_OP = "d"

# Spark/Hive partition-directory escaping (ExternalCatalogUtils): these
# chars plus all control chars are %XX-encoded in dir names; NULL and
# empty partition values map to the default-partition sentinel. Needed
# whenever a directory name is RECONSTRUCTED from a value (dropping a
# merge's affected partitions from the live set) — a raw
# f"{col}={value}" misses the escaping and silently keeps a stale
# partition live.
_PART_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^')
_NULL_PART_DIR = "__HIVE_DEFAULT_PARTITION__"


def _partition_dir(col: str, value: str | None) -> str:
    """The leaf name Spark writes for a partition value, given the
    value's Spark string form (``cast(col as string)`` in the writing
    session's time zone — the partition writer's own rendering: Python's
    str() gives ``True`` for ``true``, ``1e+20`` for ``1.0E20``)."""
    if value is None or value == "":
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

# stored_bucket_by() sentinel: no committed table at the path
_LAYOUT_UNKNOWN = object()

# -- the commit: immutable version directories behind one pointer ----
#
# Every copy-on-write write goes through `_commit_version`, under the
# table's writer lock. Leaves live in `v-<n>/`, or `<p>=<value>/v-<n>/`
# when partitioned (the layout Spark discovers with basePath=<table>),
# and are never modified once committed (Iceberg's snapshot commit,
# reference :133-135). Crash contract: the pointer names complete
# versions; whatever it does not name is garbage for the next commit's
# expiry, which keeps the current and the previous commit so a reader
# planned one commit earlier can still finish (reference :405-423
# expire_snapshots, with a fixed retention).

POINTER = "_current.json"
_STAGING = "_staging-"
_FLAT = {"partition_by": None, "bucket_by": None}
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


class _TableLock:
    """A table's writer lock, held from reading the pointer to
    replacing it: a thread lock for this process's writers, then an
    flock on the table directory for other processes' (the admin CLI's
    compact beside a running pipeline). Without it two writers that
    read the same pointer claim the same version slot, each expires the
    other's staging, and the later pointer replace drops the earlier
    commit."""

    def __init__(self, path: str) -> None:
        self.path, self._thread, self._fd = path, threading.Lock(), -1

    def __enter__(self) -> None:
        self._thread.acquire()
        try:
            os.makedirs(self.path, exist_ok=True)
            self._fd = os.open(self.path, os.O_RDONLY)
            fcntl.flock(self._fd, fcntl.LOCK_EX)
        except BaseException:
            self.__exit__()
            raise

    def __exit__(self, *exc) -> None:
        if self._fd >= 0:
            os.close(self._fd)  # releases the flock
        self._fd = -1
        self._thread.release()


_PATH_LOCKS: dict[str, _TableLock] = {}


def _path_lock(path: str) -> _TableLock:
    path = os.path.abspath(path)
    return _PATH_LOCKS.setdefault(path, _TableLock(path))


def read_commit(path: str) -> dict | None:
    """The table's committed state (the parsed pointer), or None when
    ``path`` holds no committed table."""
    try:
        with open(os.path.join(path, POINTER)) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None


def _head(path: str) -> dict:
    commit = read_commit(path)
    if commit is None:
        raise FileNotFoundError(f"no table at {path}")
    return commit


def live_dirs(path: str) -> list[str] | None:
    """Absolute live leaf directories of the pointer table at ``path``,
    or None when ``path`` is not one (a plain parquet directory, or
    nothing). The maintenance tools resolve tables through this, so
    they never count or rewrite the retained previous version or a
    crashed attempt's leftovers."""
    commit = read_commit(path)
    if commit is None:
        return None
    return [os.path.join(path, d) for d in commit["live"]]


def _refuse_unversioned(path: str) -> None:
    """Parquet data outside version slots with no pointer is a table
    this class did not write (or wrote before pointer commits): there
    is no committed schema or live set to read it through."""
    if read_commit(path) is not None:
        return
    for root, dirs, files in os.walk(path):
        # Spark's hidden-path rule: skip _x and .x, but not _p=v
        dirs[:] = [
            d for d in dirs if "=" in d or not d.startswith(("_", "."))
        ]
        if not os.path.basename(root).startswith("v-") and any(
            f.endswith(".parquet") for f in files
        ):
            raise ValueError(
                f"{path} holds parquet data but no {POINTER}: not a "
                "pointer-committed table. Load it with spark.read and "
                "create() a fresh table from it."
            )


def _read_commit(spark: SparkSession, path: str, commit: dict) -> DataFrame:
    """One commit's rows, physical column names. The committed schema
    is passed in, so building the read runs no schema-inference job,
    and files written before a widening read with the widened type."""
    schema = T.StructType.fromJson(commit["schema"])
    if not commit["live"]:
        return local_frame(spark, [], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", path)
        .parquet(*[os.path.join(path, d) for d in commit["live"]])
    )


def _union_schema(
    committed: T.StructType, incoming: T.StructType
) -> T.StructType:
    """Committed schema after adding files of ``incoming``: shared
    columns widened (raising on an unpromotable change), new columns
    appended."""
    widened = reconcile_types(incoming, committed)
    names = set(committed.fieldNames())
    return T.StructType(
        [
            T.StructField(f.name, widened.get(f.name, f.dataType))
            for f in committed.fields
        ]
        + [f for f in incoming.fields if f.name not in names]
    )


def _kept_files_unreadable(
    committed: T.StructType, incoming: T.StructType
) -> bool:
    """True when adding ``incoming`` widens a bigint column to double.
    Spark's parquet reader applies every other widening widen_type
    makes to old files on read (INT32 to bigint, double or decimal,
    float to double, decimal to wider decimal — probed on Spark 4.1),
    but not INT64 to double, so no file of the old version may stay
    live."""
    old = {f.name: f.dataType for f in committed.fields}
    return any(
        isinstance(old[c], T.LongType) and isinstance(dt, T.DoubleType)
        for c, dt in reconcile_types(incoming, committed).items()
    )


def _move_leaves(
    path: str, staging: str, version: int, part: str | None
) -> list[str]:
    """Move each leaf of a finished staging write into its version
    slot; returns the slots, relative to the table. A slot above the
    committed version can only hold a crashed attempt's leftover (no
    commit names it), so it is cleared first."""
    slot = f"v-{version}"
    if part is None:
        leaves = [("", staging)]
    else:
        leaves = [
            (e, os.path.join(staging, e))
            for e in sorted(os.listdir(staging))
            if e.startswith(f"{part}=")
        ]
    out = []
    for pdir, src in leaves:
        dest = os.path.join(path, pdir, slot)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.rmtree(dest, ignore_errors=True)
        os.replace(src, dest)
        out.append(f"{pdir}/{slot}" if pdir else slot)
    return out


def _replace_pointer(path: str, commit: dict) -> None:
    """Publish ``commit``. The pointer is the only record of the live
    files, schema and rename map, so it is flushed to disk before the
    replace (a power loss must not leave it empty) and the directory
    after it (so the replace itself is durable)."""
    tmp = os.path.join(path, f"{_STAGING}{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(commit, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, POINTER))
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _expire(path: str, commit: dict) -> None:
    """Delete every version directory that neither ``commit`` nor its
    predecessor names, crash leftovers and staging included."""
    keep = {*commit["live"], *commit["previous"]}
    for e in os.listdir(path):
        full = os.path.join(path, e)
        if e.startswith(_STAGING):
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)
        elif e.startswith("v-") and e not in keep:
            shutil.rmtree(full, ignore_errors=True)
        elif "=" in e and os.path.isdir(full):
            for v in os.listdir(full):
                if v.startswith("v-") and f"{e}/{v}" not in keep:
                    shutil.rmtree(os.path.join(full, v), ignore_errors=True)
            if not os.listdir(full):
                os.rmdir(full)


def _commit_version(
    path: str,
    df: DataFrame | None,
    layout: dict,
    keep: Sequence[str] = (),
    colmap: dict | None = None,
    options: dict | None = None,
    skip_empty: bool = False,
) -> None:
    """The one write path of a copy-on-write table: stage ``df`` (None
    for a metadata-only commit), move its leaves into version slots,
    replace the pointer — new live set = ``keep`` + the moved leaves —
    then expire. ``layout`` is the stored spec ({"partition_by",
    "bucket_by"}); ``colmap`` None keeps the committed rename map.
    ``skip_empty`` commits nothing when the staged write holds no
    rows. The plan behind ``df`` may read the live
    version: it writes to a different path."""
    cur = read_commit(path)
    version = cur["version"] + 1 if cur else 1
    part = BUCKET_COL if layout["bucket_by"] else layout["partition_by"]
    live = list(keep)
    schema = T.StructType.fromJson(cur["schema"]) if cur else None
    if df is not None:
        staging = os.path.join(path, f"{_STAGING}{uuid.uuid4().hex}")
        try:
            w = df.write.mode("overwrite")
            if part:
                w = w.partitionBy(part)
            for k, v in (options or {}).items():
                w = w.option(k, v)
            w.parquet(staging)
            if skip_empty and not _has_data_files(staging):
                return
            live += _move_leaves(path, staging, version, part)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        # the committed schema is the union of the live files' schemas:
        # a full rewrite leaves only df's; a partial one adds df's to
        # the kept files'. The partition column goes last, where a
        # basePath read puts it.
        schema = _union_schema(schema, df.schema) if keep else df.schema
        if part:
            schema = T.StructType(
                [f for f in schema.fields if f.name != part]
                + [schema[part]]
            )
    commit = {
        "version": version,
        "live": live,
        "previous": cur["live"] if cur else [],
        "schema": schema.jsonValue(),
        "partition_by": layout["partition_by"],
        "bucket_by": layout["bucket_by"],
        "colmap": colmap if colmap is not None else (cur or {}).get(
            "colmap", {}
        ),
    }
    _replace_pointer(path, commit)
    _expire(path, commit)


def rewrite_live(
    spark: SparkSession,
    path: str,
    transform: Callable[[DataFrame], DataFrame],
) -> None:
    """Commit ``transform`` of the pointer table's live rows as one new
    version with the same layout and rename map (physical names are
    kept) — how maintenance compaction rewrites a table."""
    with _path_lock(path):
        commit = _head(path)
        layout = {k: commit[k] for k in ("partition_by", "bucket_by")}
        _commit_version(
            path, transform(_read_commit(spark, path, commit)), layout
        )


class MergeTable:
    """Parquet-backed keyed table with MERGE semantics (the parquet-core
    stand-in for an Iceberg table).

    Layout: immutable version directories behind one pointer file,
    ``_current.json`` (see `_commit_version`). Every write — `merge`,
    `append`, `create`, `rebucket`, `rename_column` — stages its
    output, moves it into new version slots and replaces the pointer;
    `read` resolves the pointer once and scans exactly the live
    directories with the committed schema, so readers need no lock and
    never see a half-published write. On a real lakehouse this is
    Iceberg's job (see merge_into_sql); the class exists so the whole
    CDC pipeline runs and is testable on plain parquet.

    `bucket_by=N` gives a table with NO natural partition column the
    partition-pruned merge path anyway (Iceberg's `bucket(N, key)`
    hidden-partition transform): rows land in a synthetic
    `__bucket = pmod(hash(keys), N)` partition, so a merge rewrites
    only the buckets its batch keys hash into — O(batch-touched
    buckets), not O(table). Because the bucket is a function of the
    merge keys, an update can never move a row across buckets, which
    also licenses the identity-partition fast path (no full-table
    moved-keys scan per merge). The column is hidden metadata:
    `read()` never returns it and batches never supply it.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_columns: Sequence[str],
        partition_by: str | None = None,
        bucket_by: int | None = None,
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
        # pmod(hash, wrong_N), replace the wrong bucket directories and
        # keep the old row copies live — silent duplicates. Iceberg
        # prevents this by making the partition spec TABLE metadata,
        # not caller config; same here (the pointer's bucket_by).
        _refuse_unversioned(path)
        stored = self.stored_bucket_by(path)
        if stored is not _LAYOUT_UNKNOWN and stored != bucket_by:
            raise ValueError(
                f"table at {path} is laid out with bucket_by={stored} "
                f"but was opened with bucket_by={bucket_by}; merging "
                "would rewrite the wrong directories and duplicate "
                "rows. Open with the stored value, or migrate with "
                "rebucket()."
            )
        # writer knobs (Iceberg's write.target-file-size / codec table
        # properties, parquet-core edition): codec per table, and a row
        # ceiling per file so one fat task can't emit a 10 GB file that
        # defeats downstream parallelism.
        self.compression = compression
        self.max_records_per_file = max_records_per_file
        # writers of one path, across threads and processes (see
        # _TableLock); readers never need it. Object stores have no
        # flock: there the Iceberg backend's optimistic commit does it.
        self._lock = _path_lock(path)

    def exists(self) -> bool:
        return read_commit(self.path) is not None

    @staticmethod
    def stored_bucket_by(path: str):
        """The table's committed bucket layout: an int, None (laid out
        flat / naturally partitioned), or _LAYOUT_UNKNOWN when no table
        is committed at ``path``."""
        commit = read_commit(path)
        return _LAYOUT_UNKNOWN if commit is None else commit["bucket_by"]

    def _commit(
        self,
        df: DataFrame | None,
        keep: Sequence[str] = (),
        colmap: dict | None = None,
        skip_empty: bool = False,
    ) -> None:
        layout = {
            "partition_by": (
                None if self.bucket_by is not None else self.partition_by
            ),
            "bucket_by": self.bucket_by,
        }
        options = {}
        if self.compression:
            options["compression"] = self.compression
        if self.max_records_per_file:
            options["maxRecordsPerFile"] = self.max_records_per_file
        _commit_version(
            self.path, df, layout, keep, colmap, options, skip_empty
        )

    # -- column-rename evolution (metadata-only, Iceberg-style) --------
    #
    # `rename_column` rewrites NO data: it commits a physical→logical
    # name map in the pointer. Files written before the rename keep the
    # old physical column; files written after carry the new name;
    # `read()` reconciles both with one coalesce per renamed column.
    # This is the same trick Iceberg plays with field-ids, done with
    # names because parquet-core has no id channel.

    def rename_column(self, old: str, new: str) -> None:
        with self._lock:
            commit = _head(self.path)
            cols = self._hide_bucket(self._read_raw(commit)).columns
            if old not in cols:
                raise ValueError(f"no such column: {old}")
            if new in cols:
                raise ValueError(f"column already exists: {new}")
            if old in self.key_columns or old == self.partition_by:
                raise ValueError(
                    f"cannot rename key/partition column: {old}"
                )
            m = dict(commit["colmap"])
            # transitive chains (a→b committed earlier, now b→c): every
            # physical name that currently maps to `old` follows it
            for phys, logical in list(m.items()):
                if logical == old:
                    m[phys] = new
            m[old] = new
            self._commit(None, keep=commit["live"], colmap=m)

    @staticmethod
    def _apply_colmap(df: DataFrame, colmap: dict[str, str]) -> DataFrame:
        for phys, logical in colmap.items():
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

    def _read_raw(self, commit: dict) -> DataFrame:
        return self._apply_colmap(
            _read_commit(self.spark, self.path, commit), commit["colmap"]
        )

    def read(self) -> DataFrame:
        # the synthetic bucket column is layout metadata, not table
        # content — hiding it here keeps schema-diff/evolution and every
        # downstream consumer unaware the table is bucketed
        return self._hide_bucket(self._read_raw(_head(self.path)))

    def _hide_bucket(self, df: DataFrame) -> DataFrame:
        return df.drop(BUCKET_COL) if self.bucket_by is not None else df

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
        df = self._read_raw(_head(self.path))
        pruned = self._key_partitions(keys)
        if pruned is not None:
            df = df.filter(_partition_match(*pruned))
        return self._hide_bucket(
            df.join(keys, self.key_columns, "left_semi")
        )

    def _key_partitions(self, keys: DataFrame) -> tuple[str, list] | None:
        """(partition column, the keys' partition values) when the
        layout maps keys to partitions — one metadata-sized collect —
        else None."""
        if self.bucket_by is not None:
            parts = self._with_bucket(keys).select(BUCKET_COL)
        elif self.partition_by and self.partition_by in self.key_columns:
            parts = keys.select(self.partition_by)
        else:
            return None
        return self.partition_by, [r[0] for r in parts.distinct().collect()]

    def rebucket(self, new_bucket_by: int | None) -> None:
        """Layout evolution: rewrite the table into ``new_bucket_by``
        key-hash buckets (or back to flat with None) and commit the new
        layout with it — the migration path the constructor's
        layout-mismatch error points at (Iceberg partition-spec
        evolution, done eagerly since parquet-core has no spec
        versioning to interpret old files through)."""
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
            commit = _head(self.path)
            if new_bucket_by == self.bucket_by:
                return
            df = self._hide_bucket(self._read_raw(commit))
            old_spec = (self.bucket_by, self.partition_by)
            self.bucket_by = new_bucket_by
            self.partition_by = (
                BUCKET_COL if new_bucket_by is not None else None
            )
            # a failed commit must restore the instance spec — the
            # pointer still names the old layout
            try:
                if new_bucket_by is not None:
                    df = self._with_bucket(df)
                self._commit(df)
            except BaseException:
                self.bucket_by, self.partition_by = old_spec
                raise

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if BUCKET_COL in df.columns:
            raise ValueError(
                f"source already has reserved column {BUCKET_COL!r}"
            )
        return df.withColumn(
            BUCKET_COL,
            F.pmod(F.hash(*self.key_columns), F.lit(self.bucket_by)),
        )

    def create(self, df: DataFrame) -> None:
        """Commit ``df`` as the whole table content."""
        if self.bucket_by is not None:
            df = self._with_bucket(df)
        with self._lock:
            self._commit(df)

    def append(self, df: DataFrame) -> None:
        """Commit ``df``'s rows next to the live data (the keyless CDC
        path; Iceberg's append snapshot). The first append creates the
        table; a later one with no rows commits nothing. New columns
        read as NULL on older rows. Once the live leaves reach Spark's
        parallel-listing threshold (and twice the partition count), the
        append folds the table and the batch into one version, as MOR
        auto-compaction folds deltas: past it every read would run a
        listing job."""
        if self.bucket_by is not None:
            df = self._with_bucket(df)
        with self._lock:
            commit = read_commit(self.path)
            if commit is None:
                self._commit(df)
                return
            live, current = commit["live"], self._read_raw(commit)
            crowded = len(live) >= max(
                int(self.spark.conf.get(_LISTING_THRESHOLD)),
                2 * len({os.path.dirname(d) for d in live}),
            )
            if crowded or _kept_files_unreadable(current.schema, df.schema):
                df = current.unionByName(df, allowMissingColumns=True)
                live = []
            self._commit(df, keep=live, skip_empty=True)

    def merge(
        self,
        source: DataFrame,
        op_col: str = "__op",
        ts_col: str = "__ts_ms",
        ts_guard: bool = False,
    ) -> None:
        """Copy-on-write merge, published as one commit.

        Unpartitioned: merge_frames over the live version, written as
        the next version in full.

        Partitioned: **partition-pruned rewrite** — the scale lever that
        makes merge cost proportional to the batch, not the table
        (Iceberg's `months(t.p) = months(s.p)` ON-clause pruning,
        reference :263-264, re-created for parquet). Affected partitions
        are: partitions of the source rows ∪ partitions of target rows
        whose KEYS appear in the batch (an update may move a row across
        partitions — its old copy must be rewritten away too). Only
        those partitions are read and written; the commit keeps every
        other partition's live directory and drops the affected ones
        (a partition whose rows were all deleted writes nothing and so
        leaves the live set).
        """
        with self._lock:
            if self.bucket_by is not None:
                # stamp every batch row (deletes included — a delete
                # must rewrite the bucket holding its row)
                source = self._with_bucket(source)
            commit = read_commit(self.path)
            if commit is None:
                # NULL op is "not a delete" (same rule as merge_frames).
                # An all-deletes first batch commits nothing (found by
                # the backend-equivalence property). WRITE-FIRST, then
                # drop the staging if empty — not count(), and NOT
                # isEmpty(): the CDC engine's quarantine metrics ride
                # the FIRST action over the observed batch, and a
                # limit-1 probe would count only the rows it scanned.
                self._commit(
                    source.filter(
                        F.coalesce(F.col(op_col) != DELETE_OP, F.lit(True))
                    ),
                    skip_empty=True,
                )
                return
            target = self._read_raw(commit)
            if not self.partition_by or _kept_files_unreadable(
                target.schema, source.schema
            ):
                # a full rewrite (also when no old file may stay live)
                self._commit(
                    merge_frames(
                        target, source, self.key_columns, op_col, ts_col,
                        ts_guard,
                    )
                )
                return
            from pyspark import StorageLevel

            # The source lineage is typically the whole upstream
            # pipeline (envelope parse + LWW in the CDC path) and is
            # consumed twice below (partition discovery, the merge
            # write) — persist it once instead of re-parsing per action.
            source = source.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                self._merge_partitioned(
                    commit, target, source, op_col, ts_col, ts_guard
                )
            finally:
                source.unpersist()

    def _merge_partitioned(
        self,
        commit: dict,
        target: DataFrame,
        source: DataFrame,
        op_col: str,
        ts_col: str,
        ts_guard: bool,
    ) -> None:
        p = self.partition_by
        # ONE distinct for the whole affected-partition set: every
        # inner distinct is an extra exchange whose AQE stage jobs
        # serialize ahead of the collect (measured: 9 stage jobs ≈
        # 0.9 s per merge at sf0.1). Map-side partial aggregation
        # already shrinks the few partition values before the single
        # final distinct, and a left-semi join never multiplies rows.
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
        rows = all_parts.select(p, F.col(p).cast("string")).collect()
        if not rows:  # empty batch → nothing to rewrite
            return
        # the affected partitions' live directories leave the live set;
        # names are rebuilt from the values' Spark string form with the
        # writer's escaping (_partition_dir), so the comparison with the
        # committed leaf names is exact for every partition type
        touched = {_partition_dir(p, s) for _, s in rows}
        # "" is written to the NULL partition and reads back as NULL:
        # when that directory is touched, its NULL rows are affected
        parts = [v for v, _ in rows]
        if f"{p}={_NULL_PART_DIR}" in touched:
            parts.append(None)
        merged = merge_frames(
            target.filter(_partition_match(p, parts)),
            source,
            self.key_columns,
            op_col,
            ts_col,
            ts_guard,
        ).filter(_partition_match(p, parts))
        self._commit(
            merged,
            keep=[
                d for d in commit["live"] if d.split("/", 1)[0] not in touched
            ],
        )


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
        # same writer serialization as the COW backend (shared
        # registry): without it two concurrent merges read the same
        # delta count and the later overwrite of delta-{N} silently
        # clobbers the earlier batch
        self._lock = _path_lock(path)
        _refuse_unversioned(self.base_path)

    @property
    def base_path(self) -> str:
        """The base: a pointer-committed flat table (see
        `_commit_version`), replaced whole by `create` and `compact`."""
        return os.path.join(self.path, "base")

    @property
    def delta_dir(self) -> str:
        return os.path.join(self.path, "_deltas")

    def exists(self) -> bool:
        return read_commit(self.base_path) is not None

    def _base(self) -> DataFrame:
        return _read_commit(self.spark, self.base_path, _head(self.base_path))

    def _commit_base(self, df: DataFrame, skip_empty: bool = False) -> None:
        _commit_version(
            self.base_path, df, _FLAT, skip_empty=skip_empty
        )

    def _delta_paths(self) -> list[str]:
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
        with self._lock:
            self._commit_base(df)

    def merge(self, source: DataFrame, op_col: str = "__op") -> None:
        """Append the batch as one delta (source must be pre-compacted
        to one row per key, as the CDC pipeline guarantees)."""
        with self._lock:
            if not self.exists():
                inserts = source.filter(
                    F.coalesce(F.col(op_col) != DELETE_OP, F.lit(True))
                )
                # an all-deletes first batch commits no base; written
                # first for the reason given in MergeTable.merge
                self._commit_base(inserts, skip_empty=True)
                return
            # stage-then-rename: writing delta-N directly is not
            # retry-safe (with_retry wraps this in the CDC engine) — a
            # failed attempt's partial delta-N would be unioned by
            # read() or shift a blind recount. The staged write can
            # crash harmlessly (invisible to _delta_paths), and the
            # rename publishes a fully-written delta or nothing.
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

        base = self._base()
        paths = self._delta_paths()
        if as_of is not None:
            if not 0 <= as_of <= len(paths):
                raise ValueError(
                    f"as_of={as_of} out of range 0..{len(paths)}"
                )
            paths = paths[:as_of]
        frames = [base.withColumn("__delta_seq", F.lit(-1))] + [
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
            return self._base().limit(0).withColumn(
                "_commit_version", F.lit(0)
            )
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), picked
        )

    def compact(self) -> int:
        """Fold all deltas into a new base commit; returns the number of
        deltas folded. The MOR maintenance job: run when
        delta_count()/bytes crosses a threshold so read amplification
        stays bounded. The folded deltas are removed after the base
        commit; a crash in between leaves them to be replayed over a
        base that already holds them."""
        with self._lock:
            paths = self._delta_paths()
            if not paths:
                return 0
            self._commit_base(self.read())
            for p in paths:
                shutil.rmtree(p, ignore_errors=True)
            return len(paths)
