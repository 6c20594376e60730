"""File-format source/sink helpers beyond parquet (SURVEY.md §2.1/§2.2).

The lake core is parquet; real pipelines also land CSV/JSON drops and
exchange ORC. These helpers pin the options that make those formats
safe at scale:

- **Explicit schema on read** for CSV/JSON — schema inference is a
  full extra pass over the data (a non-starter at 100 TB) and type
  drift between files silently corrupts columns. `FAILFAST` so a
  malformed row fails the job instead of becoming a NULL island
  (pair with the CDC quarantine pattern when dead-lettering is
  wanted).
- **ORC** is full-fidelity and supports predicate pushdown + column
  pruning like parquet (asserted in tests/test_formats.py on the
  plan, not assumed).
- **Avro** ships as an external Spark module; this sandbox has no jar
  and no network, so `read`/`write` with fmt="avro" raise a clear
  NotImplementedError (import-gated, same policy as PIL/protobuf).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_spark.operators.materialize import attach

SUPPORTED = ("parquet", "orc", "csv", "json", "text")

_CSV_DEFAULTS = {
    "header": "true",
    "mode": "FAILFAST",
    # ISO-8601 with microseconds: round-trips Spark timestamps exactly
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "escape": '"',
}
_JSON_DEFAULTS = {
    "mode": "FAILFAST",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _check_fmt(fmt: str) -> None:
    if fmt == "avro":
        raise NotImplementedError(
            "avro needs the external spark-avro module (not in this "
            "environment; no network to fetch it) — use orc/parquet"
        )
    if fmt not in SUPPORTED:
        raise ValueError(f"unsupported format {fmt!r}; one of {SUPPORTED}")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write `df` as `fmt` with scale-safe defaults (see module doc)."""
    _check_fmt(fmt)
    opts = dict(_CSV_DEFAULTS) if fmt == "csv" else (
        dict(_JSON_DEFAULTS) if fmt == "json" else {}
    )
    opts.update(options)
    w = df.write.format(fmt).mode("overwrite").options(**opts)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Read `path` as `fmt`. CSV/JSON REQUIRE a schema — inference is a
    second full scan and is nondeterministic under type drift."""
    _check_fmt(fmt)
    if fmt in ("csv", "json") and schema is None:
        raise ValueError(
            f"{fmt} read requires an explicit schema: inference costs a "
            "full extra pass and drifts under mixed-type files"
        )
    opts = dict(_CSV_DEFAULTS) if fmt == "csv" else (
        dict(_JSON_DEFAULTS) if fmt == "json" else {}
    )
    opts.update(options)
    r = spark.read.format(fmt).options(**opts)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def read_text_documents(
    spark: SparkSession,
    path: str,
    wholetext: bool = True,
    line_sep: str | None = None,
    path_glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Raw-text document ingestion — the front door of an LLM data
    pipeline (a directory/bucket of .txt/.md/.html files → one row per
    document, or one row per line with ``wholetext=False``).

    Built on Spark's native `text` source, so listing, split planning
    and predicate-free scans are all JVM-side. ``wholetext=True`` makes
    each FILE one row (document semantics; files are not split, so a
    single 10 GB file caps parallelism — shard upstream). The document
    id is the file path (`input_file_name` is unstable under task
    retries on some stores; `_metadata.file_path` is the committed
    value).

    Returns (doc_path, text). With ``wholetext=False`` each line is a
    row and NO within-file ordinal is provided — the text source does
    not expose one, and per-line order across splits is not
    reconstructable after a shuffle. When line numbers matter, read
    with ``wholetext=True`` and explode:
    ``df.select("doc_path", F.posexplode(F.split("text", chr(10))))``
    (files are unsplit there, so the ordinal is exact).
    """
    from pyspark.sql import functions as F

    r = spark.read.format("text").option("wholetext", str(wholetext).lower())
    if line_sep is not None:
        r = r.option("lineSep", line_sep)
    if path_glob is not None:
        r = r.option("pathGlobFilter", path_glob)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    df = r.load(path)
    return df.select(
        F.col("_metadata.file_path").alias("doc_path"),
        F.col("value").alias("text"),
    )


def read_binary_documents(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Opaque-binary ingestion via Spark's native `binaryFile` source —
    the multimodal front door (a bucket of images/audio/video → rows of
    (path, length, mod_time, content) that feed `multimodal.decode_*`).

    Scale notes: binary files are never split (one file = one row in
    one task) — parallelism equals file count, so millions of small
    objects are the good case and giant archives should be unpacked
    upstream; `spark.sql.files.maxPartitionBytes` governs how many
    small files coalesce into one task. Filter on `length` BEFORE
    decoding (it comes from the file listing, so a size cap prunes
    without reading payloads).
    """
    r = spark.read.format("binaryFile")
    if path_glob is not None:
        r = r.option("pathGlobFilter", path_glob)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    from pyspark.sql import functions as F

    return r.load(path).select(
        F.col("path").alias("doc_path"),
        F.col("length").alias("byte_size"),
        F.col("modificationTime").alias("mod_time"),
        F.col("content").alias("payload"),
    )


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingestion with a dead-letter channel: PERMISSIVE
    parse against the explicit schema, corrupt lines captured via
    `columnNameOfCorruptRecord` and returned separately instead of
    failing the job (FAILFAST, `read_table`'s default policy) or
    silently becoming NULL islands.

    Returns (good, quarantined): `good` has exactly `schema`'s
    columns; `quarantined` is (raw_line) for reprocessing — the same
    philosophy as the CDC envelope quarantine. The split is one cached
    scan, two filters; schema is still explicit (no inference pass).
    Free the cached scan with `operators.materialize.release` on
    either frame once done with both.
    """
    corrupt = "__corrupt_record"
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType())]
    )
    df = (
        spark.read.format("json")
        .options(
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=corrupt,
            **options,
        )
        .schema(full)
        .load(path)
        # PERMISSIVE JSON requires caching/materializing before
        # filtering on the corrupt column (Spark raises
        # AnalysisException on corrupt-column-only queries otherwise)
        .cache()
    )
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    # both returned frames read through the cached parent, which the
    # caller otherwise has no handle to release — a per-call cache
    # leak on a long-lived ingest driver
    return attach(good, df), attach(bad, df)


def read_parquet_robust(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[str]]:
    """Parquet read that survives corrupt files — the landing-zone
    reality where an upstream writer died mid-file or a transfer
    truncated bytes. Returns (frame over the GOOD files, list of
    corrupt file paths for quarantine/alerting).

    Detection is a driver-side footer probe per file (parquet ends with
    the 4-byte magic 'PAR1'; a missing/truncated footer is exactly how
    partial writes present) — metadata-scale I/O: 4 bytes per file,
    never data. This beats `spark.sql.files.ignoreCorruptFiles=true`
    for pipelines because the bad files are NAMED instead of silently
    skipped session-wide: the caller can quarantine them and alert,
    and the conf stays off so unexpected corruption elsewhere still
    fails loudly."""
    import glob as _glob

    files = sorted(
        p
        for p in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith(("_", "."))
    )
    good, bad = [], []
    for p in files:
        try:
            with open(p, "rb") as f:
                if os.path.getsize(p) < 12:
                    bad.append(p)
                    continue
                f.seek(-4, os.SEEK_END)
                (good if f.read(4) == b"PAR1" else bad).append(p)
        except OSError:
            bad.append(p)
    if not good:
        raise ValueError(f"no readable parquet files under {path}")
    # basePath: an explicit file list disables partition discovery, so
    # without it a hive-partitioned dataset would silently LOSE its
    # partition columns in the returned frame
    return spark.read.option("basePath", path).parquet(*good), bad
