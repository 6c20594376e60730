"""Batch snapshot engine: partitioned JDBC scan → lake append.

Parity with /root/reference/sanpshot_script.py (S2-S4, K3, K5):

- PK discovery and table discovery are SQL pushed to MySQL's
  information_schema via the JDBC ``query`` option (:67-85, :249-256).
- When a PK exists, the scan is range-partitioned: probe
  ``SELECT min(pk), max(pk)`` (pushed down, :91-101), then read with
  ``partitionColumn/lowerBound/upperBound/numPartitions`` (:117-129).
- Post-read: sanitize names, boolean→int compat cast, stamp system
  columns, repartition for write parallelism, append + audit-log row.
- One pass over the source: the appended row count is observed on the
  write itself, and the one-row audit record is a driver-local Arrow
  frame, so a snapshot runs three jobs (bounds probe, append, audit
  row) and starts no Python worker.

No MySQL in the test environment: the SQL builders and the post-read
transform are unit-tested; `read_table` only *builds* the reader.

Scale notes vs the reference's constants: numPartitions=5 and
repartition(500) are workload constants there; here they're parameters
— at 100 TB you size scan partitions from (max-min)/rows-per-task and
write partitions from target file size, not fixed numbers.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, DataFrameReader, Observation, SparkSession
from pyspark.sql import functions as F

from data_engineering_spark.types.casts import (
    compat_cast_booleans,
    sanitize_columns,
)
from data_engineering_spark.types.frames import local_frame


@dataclass
class JdbcConfig:
    url: str
    user: str
    password: str
    driver: str = "com.mysql.cj.jdbc.Driver"
    fetchsize: int = 10_000
    # Identifier quote char for the source dialect: '`' (MySQL, default),
    # '"' (ANSI/Postgres), or '' for validate-only (no quoting — needed
    # for engines like Derby that case-fold unquoted names; names are
    # then restricted to [A-Za-z_][A-Za-z0-9_$]*).
    ident_quote: str = "`"


# --- SQL builders (pushed to the source, reference :67-85, :249-256) -------
#
# Identifier hygiene: names discovered from information_schema flow back
# into these statements, so a hostile table name is an injection vector
# (the reference interpolates raw f-strings, :67-85). Every identifier is
# backtick-quoted with embedded backticks doubled (MySQL escape rule) and
# rejected outright if it contains quotes or control characters; string
# literals get their quotes/backslashes escaped.

import re as _re

_BARE_IDENT = _re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")


def _ident(name: str, quote: str = "`") -> str:
    """Quote an identifier for the source dialect; reject unquotable
    names. With quote='' no quoting is applied and only strictly-safe
    bare names pass."""
    if not quote:
        if not _BARE_IDENT.match(name or ""):
            raise ValueError(f"unsafe SQL identifier: {name!r}")
        return name
    if not name or any(ch in name for ch in "\x00\n\r\x1a"):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    # Embedded quote chars are neutralized by doubling (the SQL escape
    # rule inside a quoted identifier); other characters are inert there.
    return f"{quote}{name.replace(quote, quote * 2)}{quote}"


def _lit(value: str) -> str:
    """Escape a string literal for a single-quoted MySQL context."""
    return value.replace("\\", "\\\\").replace("'", "''")


def primary_key_sql(database: str, table: str) -> str:
    return (
        "SELECT COLUMN_NAME FROM information_schema.columns "
        f"WHERE table_schema = '{_lit(database)}' "
        f"AND table_name = '{_lit(table)}' "
        "AND COLUMN_KEY = 'PRI' ORDER BY ORDINAL_POSITION"
    )


def bounds_sql(
    key: str, database: str, table: str, quote: str = "`"
) -> str:
    k = _ident(key, quote)
    return (
        f"SELECT min({k}) AS lo, max({k}) AS hi "
        f"FROM {_ident(database, quote)}.{_ident(table, quote)}"
    )


def discover_tables_sql(db_pattern: str) -> str:
    return (
        "SELECT CONCAT(table_schema, '.', table_name) AS full_name "
        "FROM information_schema.tables "
        f"WHERE table_schema REGEXP '{_lit(db_pattern)}'"
    )


# --- reader builders -------------------------------------------------------

def _base_reader(spark: SparkSession, cfg: JdbcConfig) -> DataFrameReader:
    return (
        spark.read.format("jdbc")
        .option("url", cfg.url)
        .option("user", cfg.user)
        .option("password", cfg.password)
        .option("driver", cfg.driver)
    )


def query_reader(
    spark: SparkSession, cfg: JdbcConfig, sql: str, fetchsize: int = 50
) -> DataFrameReader:
    """Arbitrary pushdown query (metadata probes use small fetch sizes,
    reference :77, :98, :156)."""
    return _base_reader(spark, cfg).option("query", sql).option(
        "fetchsize", str(fetchsize)
    )


def table_reader(
    spark: SparkSession,
    cfg: JdbcConfig,
    database: str,
    table: str,
    key: str | None = None,
    lower: int | None = None,
    upper: int | None = None,
    num_partitions: int = 5,
) -> DataFrameReader:
    """Range-partitioned parallel scan when PK bounds are known
    (reference :117-129); single-partition fallback otherwise (:131-141)."""
    r = (
        _base_reader(spark, cfg)
        .option(
            "dbtable",
            f"{_ident(database, cfg.ident_quote)}"
            f".{_ident(table, cfg.ident_quote)}",
        )
        .option("fetchsize", str(cfg.fetchsize))
    )
    if key is not None and lower is not None and upper is not None:
        r = (
            r.option("partitionColumn", key)
            .option("lowerBound", str(lower))
            .option("upperBound", str(upper))
            .option("numPartitions", str(num_partitions))
        )
    return r


# --- post-read transform (pure; unit-testable without a database) ----------

def prepare_snapshot_frame(
    df: DataFrame, tenant_id: int, rds_id: int
) -> DataFrame:
    """sanitize → compat cast → stamp system columns
    (reference :217-232: __op='r' marks snapshot rows as reads)."""
    out = compat_cast_booleans(sanitize_columns(df))
    return (
        out.withColumn("__op", F.lit("r"))
        .withColumn("__tenant_id", F.lit(tenant_id))
        .withColumn("__rds_id", F.lit(rds_id))
        .withColumn("__dp_update_ts", F.current_timestamp())
    )


def append_snapshot(
    df: DataFrame, dest_path: str, write_partitions: int | None = None
) -> int:
    """Append to the lake and return the number of rows appended.
    `write_partitions` only when the natural parallelism is wrong
    (reference hardcodes repartition(500), :233 — at local scale that's
    500 tiny files; default leaves AQE in charge).

    The count rides the write: ``count(1)`` is observed on the exact
    frame the writer consumes, so the source is scanned once and the
    count is the rows actually written."""
    if write_partitions:
        df = df.repartition(write_partitions)
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "append"
    ).parquet(dest_path)
    return obs.get["rows"]


def audit_log_sql(rds_id: int, database: str, table: str, sink: str) -> str:
    """Audit row recording a completed snapshot (reference :235)."""
    return (
        f"INSERT INTO insert_log{int(rds_id)} VALUES "
        f"('{_lit(database)}', '{_lit(table)}', '{_lit(sink)}')"
    )


def record_audit(
    spark: SparkSession,
    lake_root: str,
    rds_id: int,
    database: str,
    table: str,
    sink: str,
) -> None:
    """Parquet-backend audit log: append one row to
    ``{lake_root}/insert_log{rds_id}`` (schema per FIXTURES.md A4). The
    snapshot discovery loop anti-joins against this to skip tables
    already loaded (reference :257-262). posixpath (not os.path): the
    lake root may be a URI (s3a://...), and Spark's writer handles it
    either way."""
    import posixpath

    row = local_frame(
        spark,
        [(database, table, sink)],
        "schema string, name string, tableName string",
    )
    row.coalesce(1).write.mode("append").parquet(
        posixpath.join(lake_root, f"insert_log{rds_id}")
    )


def snapshotted_tables(
    spark: SparkSession, lake_root: str, rds_id: int
) -> set[str]:
    """Schema-qualified ``db.table`` names already recorded in the audit
    log (driver-side set, small by construction — one row per table ever
    snapshotted). Qualification matters: with a multi-database pattern
    like ``oms.*`` every database carries the same table names (the
    reference's layout, sanpshot_script.py:257-262 compares
    CONCAT(schema,'.',name)), so a bare-name set would silently skip
    oms2.sales after oms1.sales was loaded."""
    import posixpath

    from pyspark.errors import AnalysisException

    # probe through Spark, not os.path: a driver-local existence check
    # is always False for s3a://-/hdfs://-rooted lakes, which would
    # empty the skip set and silently re-append EVERY table on rerun
    path = posixpath.join(lake_root, f"insert_log{rds_id}")
    try:
        log = spark.read.parquet(path)
    except AnalysisException:
        return set()
    return {
        f"{r['schema']}.{r['name']}"
        for r in log.select("schema", "name").collect()
    }


# --- orchestration (reference sanpshot_script.py :199-269) -----------------

def snapshot_table(
    spark: SparkSession,
    cfg: JdbcConfig,
    database: str,
    table: str,
    lake_root: str,
    rds_id: int,
    tenant_id: int,
    num_partitions: int = 5,
    write_partitions: int | None = None,
    key: str | None = "auto",
) -> int:
    """One table end-to-end: PK probe → bounds probe → (range-
    partitioned) scan → sanitize/compat/stamp → append → audit row.
    Returns the row count appended (0 for an empty table).

    ``key='auto'`` discovers the PK via MySQL's information_schema;
    pass an explicit column (or None for a single-partition scan) on
    dialects without that catalog (Derby, Postgres, ...).
    """
    import posixpath

    if key == "auto":
        pk_rows = (
            query_reader(spark, cfg, primary_key_sql(database, table), 50)
            .load()
            .collect()
        )
        key = pk_rows[0][0] if pk_rows else None

    if key is not None:
        bounds = (
            query_reader(
                spark, cfg,
                bounds_sql(key, database, table, cfg.ident_quote),
                10,
            )
            .load()
            .collect()[0]
        )
        lo, hi = bounds[0], bounds[1]
        try:
            lower = int(lo) if lo is not None else None
            upper = int(hi) if hi is not None else None
        except (TypeError, ValueError):
            # non-integral PK (varchar/UUID/date): JDBC range
            # partitioning needs numeric bounds — fall back to a
            # single-partition scan instead of aborting the whole
            # multi-table snapshot run on one string-keyed table
            key = None
    if key is not None:
        reader = table_reader(
            spark, cfg, database, table,
            key=key,
            lower=lower,
            upper=upper,
            num_partitions=num_partitions,
        )
    else:
        reader = table_reader(spark, cfg, database, table)

    df = reader.load()
    prepared = prepare_snapshot_frame(df, tenant_id=tenant_id, rds_id=rds_id)
    dest = posixpath.join(lake_root, database, table)
    # through Hadoop FS, not os.path: the lake root may be s3a://
    dest_path = spark._jvm.org.apache.hadoop.fs.Path(dest)
    fs = dest_path.getFileSystem(spark._jsc.hadoopConfiguration())
    existed = fs.exists(dest_path)
    # write first, count on the way: one scan of the source. An empty
    # append still writes a directory holding one zero-row part file,
    # so an empty source deletes the destination it created — no lake
    # table and no audit row for a table with no rows.
    n = append_snapshot(prepared, dest, write_partitions)
    if n == 0:
        if not existed:
            fs.delete(dest_path, True)
        return 0
    record_audit(spark, lake_root, rds_id, database, table, dest)
    return n


def run_snapshot(
    spark: SparkSession,
    cfg: JdbcConfig,
    db_pattern: str,
    lake_root: str,
    rds_id: int,
    tenant_id: int,
    num_partitions: int = 5,
) -> dict[str, int]:
    """Discover tables matching the database pattern, skip ones already
    in the audit log, snapshot the rest sequentially (the reference's
    module body, :241-269). Returns {db.table: rows}."""
    discovered = [
        r[0]
        for r in query_reader(
            spark, cfg, discover_tables_sql(db_pattern), 50
        )
        .load()
        .collect()
    ]
    done = snapshotted_tables(spark, lake_root, rds_id)
    results: dict[str, int] = {}
    for full_name in discovered:
        database, _, table = full_name.partition(".")
        if full_name in done:
            continue
        results[full_name] = snapshot_table(
            spark, cfg, database, table, lake_root,
            rds_id=rds_id, tenant_id=tenant_id,
            num_partitions=num_partitions,
        )
    return results


# --- reverse ETL: lake -> JDBC upsert sink ---------------------------------


def upsert_sql(
    target: str,
    staging: str,
    keys: list[str],
    cols: list[str],
    dialect: str = "ansi",
    quote: str = '"',
) -> str:
    """Set-based upsert from a staging table into `target`, per dialect:

    - 'ansi': MERGE INTO (Derby/Oracle/DB2/SQL Server family)
    - 'mysql': INSERT ... AS new ON DUPLICATE KEY UPDATE (8.0+ alias
      form; the VALUES() form is deprecated)
    - 'postgres': INSERT ... ON CONFLICT (keys) DO UPDATE

    Identifiers pass through the same `_ident` hygiene as the snapshot
    readers (names may come from catalogs — injection surface).
    """
    q = lambda n: _ident(n, quote)  # noqa: E731
    key_set = set(keys)
    upd = [c for c in cols if c not in key_set]
    col_list = ", ".join(q(c) for c in cols)
    if dialect == "ansi":
        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
        ins_vals = ", ".join(f"s.{q(c)}" for c in cols)
        matched = (
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"t.{q(c)} = s.{q(c)}" for c in upd)
            + " "
            if upd
            else ""
        )
        return (
            f"MERGE INTO {q(target)} t USING {q(staging)} s ON ({on}) "
            + matched
            + f"WHEN NOT MATCHED THEN INSERT ({col_list}) "
            + f"VALUES ({ins_vals})"
        )
    if dialect == "mysql":
        sets = ", ".join(f"{q(c)} = new.{q(c)}" for c in upd or keys)
        return (
            f"INSERT INTO {q(target)} ({col_list}) "
            + f"SELECT {col_list} FROM {q(staging)} AS new "
            + f"ON DUPLICATE KEY UPDATE {sets}"
        )
    if dialect == "postgres":
        conflict = ", ".join(q(k) for k in keys)
        action = (
            "DO UPDATE SET "
            + ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in upd)
            if upd
            else "DO NOTHING"
        )
        return (
            f"INSERT INTO {q(target)} ({col_list}) "
            + f"SELECT {col_list} FROM {q(staging)} "
            + f"ON CONFLICT ({conflict}) {action}"
        )
    raise ValueError(f"unknown dialect: {dialect}")


def jdbc_upsert(
    spark: SparkSession,
    df,
    cfg: JdbcConfig,
    target: str,
    keys: list[str],
    staging: str | None = None,
    dialect: str = "ansi",
    num_partitions: int | None = None,
) -> None:
    """Reverse ETL: upsert a DataFrame into a relational target — the
    inverse of the snapshot engine (reference sanpshot_script.py reads
    MySQL -> lake; serving pipelines need lake -> DB just as often).

    Scale shape: executors load `df` into a STAGING table in parallel
    over Spark's JDBC writer (one connection per partition — size with
    `num_partitions`, the same knob as the reference's repartition(500)
    pre-append); then ONE driver-side set-based statement merges
    staging into the target inside the database, which is transactional
    and index-aware there. Rows never funnel through the driver, and
    the database sees a single bulk operation instead of per-row
    upserts. Staging is dropped afterwards.
    """
    # Spark's JDBC writer QUOTES the staging table name it creates
    # (exact case), while quote-less statements (ident_quote="") are
    # case-folded by upper-folding engines (Derby/Oracle/DB2). Upper-case
    # the default staging name there so the created identifier and the
    # folded reference coincide.
    if staging is None:
        # unique suffix: concurrent upserts into the same target must not
        # share (and overwrite) one staging table
        import uuid as _uuid

        staging = f"{target}_stg_{_uuid.uuid4().hex[:8]}"
        if not cfg.ident_quote:
            staging = staging.upper()
    quote = cfg.ident_quote
    # validate early (raises on hostile names before any side effect)
    sql = upsert_sql(target, staging, keys, df.columns, dialect, quote)

    w = df if num_partitions is None else df.repartition(num_partitions)
    if not quote:
        # the writer also quotes COLUMN names in its CREATE TABLE; on an
        # upper-folding engine the quote-less MERGE below can only see
        # them if they are created upper-case
        w = w.toDF(*[c.upper() for c in w.columns])
    (
        w.write.format("jdbc")
        .option("url", cfg.url)
        .option("dbtable", staging)
        .option("user", cfg.user)
        .option("password", cfg.password)
        .option("driver", cfg.driver)
        .mode("overwrite")
        .save()
    )
    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName(cfg.driver)
    except Exception:
        pass  # embedded drivers self-register once the writer has run
    conn = jvm.java.sql.DriverManager.getConnection(
        cfg.url, cfg.user, cfg.password
    )
    try:
        st = conn.createStatement()
        try:
            st.executeUpdate(sql)
        finally:
            # drop staging even when the MERGE fails — a leftover table
            # would collide with (or leak into) the next run
            try:
                st.executeUpdate(f"DROP TABLE {_ident(staging, quote)}")
            except Exception:
                pass  # MERGE error is the one worth surfacing
            st.close()
    finally:
        conn.close()
