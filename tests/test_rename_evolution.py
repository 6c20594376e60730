"""Column-rename evolution on MergeTable (metadata-only, no rewrite)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.operators.merge import (
    MergeTable,
    live_dirs,
    read_commit,
)


def _live_files(spark, t: MergeTable) -> set[str]:
    return set(spark.read.parquet(*live_dirs(t.path)).inputFiles())


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "id long, val string, __ts_ms long, __op string"
    )


def test_rename_is_metadata_only_and_survives_merge(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "rn"), ["id"])
    t.merge(_batch(spark, [(1, "a", 100, "c"), (2, "b", 100, "c")]))
    files_before = _live_files(spark, t)

    t.rename_column("val", "value")
    # no data rewrite happened
    assert _live_files(spark, t) == files_before
    assert sorted(t.read().columns) == sorted(
        ["id", "value", "__ts_ms", "__op"]
    )
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got == {1: "a", 2: "b"}

    # a post-rename batch uses the NEW name; merge mixes old-name files
    # with new-name rows and read() reconciles
    t.merge(
        spark.createDataFrame(
            [(2, "b2", 200, "u"), (3, "c", 200, "c")],
            "id long, value string, __ts_ms long, __op string",
        )
    )
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # rename map survived the copy-on-write commit
    assert read_commit(t.path)["colmap"] == {"val": "value"}


def test_rename_chain_and_guards(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "chain"), ["id"])
    t.merge(_batch(spark, [(1, "x", 100, "c")]))
    t.rename_column("val", "v2")
    t.rename_column("v2", "v3")
    assert {r["id"]: r["v3"] for r in t.read().collect()} == {1: "x"}
    assert "v2" not in t.read().columns and "val" not in t.read().columns

    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v3", "id")
    with pytest.raises(ValueError, match="key/partition"):
        t.rename_column("id", "pk")


def test_rename_on_partitioned_table(spark, tmp_path):
    t = MergeTable(
        spark, str(tmp_path / "part"), ["id"], partition_by="p"
    )
    b1 = spark.createDataFrame(
        [(1, "a", 1, 100, "c"), (2, "b", 2, 100, "c")],
        "id long, val string, p int, __ts_ms long, __op string",
    )
    t.merge(b1)
    t.rename_column("val", "value")
    b2 = spark.createDataFrame(
        [(3, "c", 1, 200, "c")],
        "id long, value string, p int, __ts_ms long, __op string",
    )
    t.merge(b2)  # touches only partition 1; partition 2 keeps old name
    got = {r["id"]: (r["value"], r["p"]) for r in t.read().collect()}
    assert got == {1: ("a", 1), 2: ("b", 2), 3: ("c", 1)}
