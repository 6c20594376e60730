"""Incremental batch ingestion: a file ledger for exactly-once-per-file
processing without Structured Streaming.

The landing-zone pattern (Auto Loader's directory-listing mode,
re-created on plain Spark): upstream drops files into a directory; each
pipeline run must process every file exactly once, survive crashes, and
never rescan what it already ingested. The ledger is a parquet table of
processed files; a run is

    ledger = FileLedger(spark, ledger_path)
    batch = ledger.new_files(landing_dir, suffix=".parquet")
    df = spark.read.parquet(*[f.path for f in batch])
    ...merge df...
    ledger.commit(batch)

Crash semantics: commit happens AFTER the downstream write, so a crash
in between re-presents the same files next run — at-least-once at the
file level, which the keyed MERGE downstream turns into exactly-once
row effect (the same idempotence contract the CDC pipeline relies on).

Scale shape: the listing enumerates (path, size, mtime) through the
table's Hadoop FileSystem — works on HDFS/S3A the same as local — and
the processed-set diff happens over file METADATA (one row per file,
never data). The ledger append is one tiny parquet write per batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from data_engineering_spark.types.frames import local_frame


@dataclass(frozen=True)
class FileInfo:
    path: str
    size: int
    mtime_ms: int


class FileLedger:
    def __init__(self, spark: SparkSession, ledger_path: str) -> None:
        self.spark = spark
        self.ledger_path = ledger_path

    def _exists(self) -> bool:
        # through Hadoop FS, same as _list: os.path.exists is always
        # False for hdfs://-/s3a://-addressed ledgers, which would make
        # processed_paths() return empty and re-present EVERY committed
        # file on every run — silently breaking exactly-once on the
        # very stores the module docstring promises
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.ledger_path)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(p))

    def processed_paths(self) -> set[str]:
        if not self._exists():
            return set()
        return {
            r["path"]
            for r in self.spark.read.parquet(self.ledger_path)
            .select("path")
            .collect()
        }

    def _list(self, directory: str, recursive: bool) -> list[FileInfo]:
        """Enumerate through Hadoop's FileSystem so the same code lists
        local paths, HDFS and s3a:// — not os.listdir."""
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        p = jvm.org.apache.hadoop.fs.Path(directory)
        fs = p.getFileSystem(jsc.hadoopConfiguration())
        if not fs.exists(p):
            return []
        base = p.toUri().getPath()
        it = fs.listFiles(p, recursive)
        out = []
        while it.hasNext():
            st = it.next()
            # hidden-file rule applies to EVERY path component below
            # the listing root, same as Spark scans: recursive
            # listFiles descends into _temporary/.staging dirs of
            # in-flight writers, whose leaf names look normal — those
            # are uncommitted data that will be ingested twice (or
            # vanish mid-read) if accepted here
            rel = st.getPath().toUri().getPath()
            if rel.startswith(base):
                rel = rel[len(base):]
            if any(
                part.startswith(("_", "."))
                for part in rel.split("/")
                if part
            ):
                continue
            out.append(
                FileInfo(
                    path=st.getPath().toString(),
                    size=int(st.getLen()),
                    mtime_ms=int(st.getModificationTime()),
                )
            )
        return out

    def new_files(
        self,
        directory: str,
        suffix: str = "",
        recursive: bool = True,
    ) -> list[FileInfo]:
        """Stable-ordered list of not-yet-committed files."""
        seen = self.processed_paths()
        return sorted(
            (
                f
                for f in self._list(directory, recursive)
                if f.path.endswith(suffix) and f.path not in seen
            ),
            key=lambda f: f.path,
        )

    def commit(self, files: list[FileInfo], batch_id: int | None = None) -> None:
        if not files:
            return
        if batch_id is None:
            batch_id = self.next_batch_id()
        df = local_frame(
            self.spark,
            [(f.path, f.size, f.mtime_ms, batch_id) for f in files],
            "path string, size long, mtime_ms long, batch_id long",
        )
        df.coalesce(1).write.mode("append").parquet(self.ledger_path)

    def next_batch_id(self) -> int:
        if not self._exists():
            return 0
        row = (
            self.spark.read.parquet(self.ledger_path)
            .selectExpr("max(batch_id) AS m")
            .collect()[0]
        )
        return int(row["m"]) + 1 if row["m"] is not None else 0
