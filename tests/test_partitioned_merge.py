"""Partition-pruned MERGE: only touched partitions are rewritten."""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest

from data_engineering_spark.operators.merge import MergeTable, live_dirs


def part_dirs(path: str, part: str) -> list[str]:
    """The partition's live leaf directories (the pointer's view)."""
    return [
        d for d in live_dirs(path)
        if os.path.basename(os.path.dirname(d)) == part
    ]


def files_in(path: str, part: str) -> dict[str, float]:
    return {
        f: os.path.getmtime(f)
        for d in part_dirs(path, part)
        for f in glob.glob(os.path.join(d, "*.parquet"))
    }


def mk(spark, rows):
    return spark.createDataFrame(
        rows, "id long, val string, month string, __ts_ms long, __op string"
    )


def test_partitioned_merge_only_touches_affected(spark, tmp_path):
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], partition_by="month")
    t.merge(mk(spark, [
        (1, "a", "2024-01", 100, "c"),
        (2, "b", "2024-02", 100, "c"),
        (3, "c", "2024-03", 100, "c"),
    ]))
    before_feb = files_in(path, "month=2024-02")
    before_mar = files_in(path, "month=2024-03")
    mar_dirs = part_dirs(path, "month=2024-03")
    jan_dirs = part_dirs(path, "month=2024-01")
    assert before_feb and before_mar

    # touch only January
    t.merge(mk(spark, [(1, "A", "2024-01", 200, "u")]))

    assert files_in(path, "month=2024-02") == before_feb
    assert files_in(path, "month=2024-03") == before_mar
    assert part_dirs(path, "month=2024-03") == mar_dirs
    assert part_dirs(path, "month=2024-01") != jan_dirs
    out = {r["id"]: (r["val"], r["month"]) for r in t.read().collect()}
    assert out == {1: ("A", "2024-01"), 2: ("b", "2024-02"),
                   3: ("c", "2024-03")}


def test_partition_moving_update(spark, tmp_path):
    """An update that moves a row across partitions must delete the old
    copy (the old partition is affected via the key semi-join)."""
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], partition_by="month")
    t.merge(mk(spark, [
        (1, "a", "2024-01", 100, "c"),
        (2, "b", "2024-02", 100, "c"),
    ]))
    t.merge(mk(spark, [(1, "a2", "2024-03", 200, "u")]))
    out = {r["id"]: r["month"] for r in t.read().collect()}
    assert out == {1: "2024-03", 2: "2024-02"}
    assert t.read().count() == 2  # no duplicate left in 2024-01


def test_partition_fully_deleted(spark, tmp_path):
    """Deleting every row of a partition drops it from the live set
    (its staging write produces no leaf to replace it with)."""
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], partition_by="month")
    t.merge(mk(spark, [
        (1, "a", "2024-01", 100, "c"),
        (2, "b", "2024-02", 100, "c"),
    ]))
    t.merge(mk(spark, [(1, None, "2024-01", 200, "d")]))
    out = {r["id"]: r["month"] for r in t.read().collect()}
    assert out == {2: "2024-02"}
    assert part_dirs(path, "month=2024-01") == []


def test_partitioned_delete_and_insert_same_batch(spark, tmp_path):
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], partition_by="month")
    t.merge(mk(spark, [(1, "a", "2024-01", 100, "c")]))
    t.merge(mk(spark, [
        (1, None, "2024-01", 200, "d"),
        (9, "new", "2024-01", 200, "c"),
    ]))
    out = {r["id"]: r["val"] for r in t.read().collect()}
    assert out == {9: "new"}


def test_partitioned_schema_evolution_preserves_new_columns(spark, tmp_path):
    """A widened batch touching one partition must not lose its new
    column when untouched partitions still carry the old schema."""
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], partition_by="month")
    t.merge(mk(spark, [
        (1, "a", "2024-01", 100, "c"),
        (2, "b", "2024-02", 100, "c"),
    ]))
    wide = spark.createDataFrame(
        [(3, "c", "2024-01", 0.5, 200, "c")],
        "id long, val string, month string, disc double, "
        "__ts_ms long, __op string",
    )
    t.merge(wide)
    out = {r["id"]: r for r in t.read().collect()}
    assert out[3]["disc"] == 0.5
    assert out[2]["disc"] is None  # untouched partition, old schema
    assert out[1]["disc"] is None  # rewritten partition, backfilled


def test_partitioned_empty_batch_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], partition_by="month")
    t.merge(mk(spark, [(1, "a", "2024-01", 100, "c")]))
    empty = mk(spark, []).limit(0)
    t.merge(empty)
    assert t.read().count() == 1


def test_concurrent_partitioned_merges_no_cross_table_damage(spark, tmp_path):
    """Regression for the session-conf race: two partitioned merges on
    DIFFERENT tables running concurrently in one SparkSession must each
    overwrite only their own touched partitions. (The old
    implementation toggled spark.sql.sources.partitionOverwriteMode on
    the shared session; a restore racing another merge's write turned
    it into a static overwrite that deleted every untouched partition.)
    """
    from concurrent.futures import ThreadPoolExecutor

    tables = []
    for name in ("ta", "tb"):
        t = MergeTable(spark, str(tmp_path / name), ["id"],
                       partition_by="month")
        t.merge(mk(spark, [
            (1, "a", "2024-01", 100, "c"),
            (2, "b", "2024-02", 100, "c"),
            (3, "c", "2024-03", 100, "c"),
        ]))
        tables.append(t)

    def touch_january(t: MergeTable, tag: str) -> None:
        for i in range(3):
            t.merge(mk(spark, [(1, f"{tag}{i}", "2024-01", 200 + i, "u")]))

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [
            ex.submit(touch_january, t, tag)
            for t, tag in zip(tables, ("x", "y"))
        ]
        for f in futs:
            f.result()

    for t, tag in zip(tables, ("x", "y")):
        out = {r["id"]: r["val"] for r in t.read().collect()}
        # untouched partitions survived; January holds the last update
        assert out == {1: f"{tag}2", 2: "b", 3: "c"}


def test_full_touch_batch_replaces_every_partition(spark, tmp_path):
    """A batch touching EVERY existing partition is the same commit as
    a pruned one with every partition replaced: no live directory of
    the previous version survives, while a subset batch keeps the
    untouched partitions' directories."""
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], partition_by="pt")

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, pt string, val string, __ts_ms long, __op string"
        )

    t.merge(mk([(1, "a", "v1", 100, "c"), (2, "b", "v2", 100, "c")]))
    created = set(live_dirs(path))

    # subset batch: only partition 'a' touched -> 'b' stays live as is
    t.merge(mk([(1, "a", "v1b", 200, "u")]))
    subset = set(live_dirs(path))
    assert subset & created == set(part_dirs(path, "pt=b"))

    # full-touch batch: both partitions replaced
    t.merge(mk([(1, "a", "v1c", 300, "u"), (3, "b", "v3", 300, "c")]))
    assert not set(live_dirs(path)) & subset

    got = sorted((r["id"], r["pt"], r["val"]) for r in t.read().collect())
    assert got == [(1, "a", "v1c"), (2, "b", "v2"), (3, "b", "v3")]


@pytest.mark.parametrize(
    "old_type, new_type, value",
    [("int", "bigint", 2**40), ("bigint", "double", 0.5)],
)
def test_widened_batch_touching_one_partition_reads_back(
    spark, tmp_path, old_type, new_type, value
):
    """Regression: a batch widening int to bigint that touches one of
    two partitions left files of both types live, and the next read()
    failed with CANNOT_MERGE_SCHEMAS. The committed schema carries the
    widened type and old files read through it — except bigint files,
    which Spark cannot read as double, so that widening rewrites every
    partition."""
    t = MergeTable(spark, str(tmp_path / "t"), ["id"], partition_by="month")
    t.merge(spark.createDataFrame(
        [(1, 10, "2024-01", 100, "c"), (2, 20, "2024-02", 100, "c")],
        f"id long, qty {old_type}, month string, __ts_ms long, __op string",
    ))
    t.merge(spark.createDataFrame(
        [(1, value, "2024-01", 200, "u")],
        f"id long, qty {new_type}, month string, __ts_ms long, __op string",
    ))
    df = t.read()
    assert dict(df.dtypes)["qty"] == new_type
    assert {r["id"]: r["qty"] for r in df.collect()} == {1: value, 2: 20}


def test_append_new_column_reads_null_on_old_rows(spark, tmp_path):
    """A keyless append whose batch adds a column commits it into the
    table schema: old rows read it as NULL, and no row is lost. A
    batch widening bigint to double (a type Spark cannot read old
    bigint files as) rewrites the table once."""
    t = MergeTable(spark, str(tmp_path / "t"), [])
    t.append(spark.createDataFrame(
        [(1, "a", 5), (2, "b", 6)], "id long, v string, n long"
    ))
    t.append(spark.createDataFrame(
        [(3, "c", 0.5)], "id long, v string, disc double"
    ))
    got = {r["id"]: (r["v"], r["disc"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}
    t.append(spark.createDataFrame([(4, 1.5)], "id long, n double"))
    df = t.read()
    assert dict(df.dtypes)["n"] == "double"
    assert {r["id"]: r["n"] for r in df.collect()} == {
        1: 5.0, 2: 6.0, 3: None, 4: 1.5
    }


@pytest.mark.parametrize(
    "ptype, a, b",
    [
        ("boolean", True, False),
        ("double", 1e20, 0.5),
        ("timestamp", datetime(2024, 1, 1, 0, 0, 0, 500000),
         datetime(2024, 3, 1)),
        ("string", "", "x"),
    ],
)
def test_merge_on_non_string_partition_replaces_its_leaf(
    spark, tmp_path, ptype, a, b
):
    """Regression: the touched partitions' leaf names were rebuilt with
    Python's str() (``True``, ``1e+20``, ``.500000``) instead of Spark's
    rendering (``true``, ``1.0E20``, ``.5``), so an update kept the old
    leaf live next to the new one and every updated row read twice.
    An empty string is written to the NULL partition and reads back as
    NULL; updating it must replace that leaf too."""
    schema = f"id long, val string, p {ptype}, __ts_ms long, __op string"
    t = MergeTable(spark, str(tmp_path / "t"), ["id"], partition_by="p")
    t.merge(spark.createDataFrame(
        [(1, "a", a, 100, "c"), (2, "b", b, 100, "c")], schema
    ))
    t.merge(spark.createDataFrame([(1, "A", a, 200, "u")], schema))
    assert sorted((r["id"], r["val"]) for r in t.read().collect()) == [
        (1, "A"), (2, "b")
    ]
    t.merge(spark.createDataFrame([(2, "b", b, 300, "d")], schema))
    assert [(r["id"], r["val"]) for r in t.read().collect()] == [(1, "A")]
    assert len(live_dirs(t.path)) == 1
