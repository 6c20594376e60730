"""Hidden key-hash bucketing for unpartitioned COW tables.

A keyed table with no natural partition column used to pay a full-table
rewrite per merge (SCALE.md "Known limits"). `bucket_by=N` recreates
Iceberg's bucket(N, key) hidden-partition transform on the parquet
core: merges rewrite only the buckets the batch's keys hash into, and
the synthetic column never leaks into `read()`.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig
from data_engineering_spark.operators.merge import (
    BUCKET_COL,
    MergeTable,
    live_dirs,
)


def mk(spark, rows):
    return spark.createDataFrame(
        rows, "id long, val string, __ts_ms long, __op string"
    )


def bucket_files(path: str) -> dict[str, float]:
    """The live data files (the pointer's leaf directories) by mtime."""
    return {
        f: os.path.getmtime(f)
        for d in live_dirs(path)
        for f in glob.glob(os.path.join(d, "*.parquet"))
    }


def bucket_of(f: str) -> str:
    # <table>/__bucket=<b>/v-<n>/<file>
    return os.path.basename(os.path.dirname(os.path.dirname(f)))


def physical(spark, path: str):
    """The live files read with their bucket column (read() hides it)."""
    return spark.read.option("basePath", path).parquet(*live_dirs(path))


def test_bucketed_matches_flat_state(spark, tmp_path):
    """Bucketing is pure layout: every batch sequence must leave the
    same logical content as the flat (full-rewrite) table."""
    flat = MergeTable(spark, str(tmp_path / "flat"), ["id"])
    buck = MergeTable(spark, str(tmp_path / "buck"), ["id"], bucket_by=8)
    batches = [
        [(i, f"v{i}", 100, "c") for i in range(50)],
        [(1, "upd", 200, "u"), (2, None, 200, "d"), (60, "new", 200, "c")],
        [(60, None, 300, "d"), (3, "late", 300, "u")],
    ]
    for b in batches:
        flat.merge(mk(spark, b))
        buck.merge(mk(spark, b))
    f_rows = sorted(map(tuple, flat.read().collect()))
    b_rows = sorted(map(tuple, buck.read().collect()))
    assert f_rows == b_rows
    assert BUCKET_COL not in buck.read().columns


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], bucket_by=16)
    t.merge(mk(spark, [(i, f"v{i}", 100, "c") for i in range(200)]))
    before = bucket_files(path)
    assert len({bucket_of(f) for f in before}) > 4  # spread out

    t.merge(mk(spark, [(7, "UPD", 200, "u")]))

    # the touched bucket is the one key 7 hashes into — read it back
    # from the physical layout rather than re-deriving the hash here
    touched = {
        r["b"]
        for r in physical(spark, path)
        .filter(F.col("id") == 7)
        .select(F.col(BUCKET_COL).cast("string").alias("b"))
        .collect()
    }
    assert len(touched) == 1
    (bucket_val,) = touched
    touched_dir = f"{BUCKET_COL}={bucket_val}"
    # every other bucket's live files are exactly the ones before
    after = bucket_files(path)
    untouched = {f: m for f, m in before.items() if bucket_of(f) != touched_dir}
    assert untouched == {
        f: m for f, m in after.items() if bucket_of(f) != touched_dir
    }, "untouched bucket rewritten"
    out = {r["id"]: r["val"] for r in t.read().collect()}
    assert out[7] == "UPD" and len(out) == 200


def test_delete_rewrites_its_bucket_only(spark, tmp_path):
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], bucket_by=8)
    t.merge(mk(spark, [(i, f"v{i}", 100, "c") for i in range(80)]))
    (victim,) = {
        r["b"]
        for r in physical(spark, path)
        .filter(F.col("id") == 5)
        .select(F.col(BUCKET_COL).cast("string").alias("b"))
        .collect()
    }
    victim_dir = f"{BUCKET_COL}={victim}"
    before = bucket_files(path)
    t.merge(mk(spark, [(5, None, 200, "d")]))
    after = bucket_files(path)
    assert {f: m for f, m in before.items() if bucket_of(f) != victim_dir} == {
        f: m for f, m in after.items() if bucket_of(f) != victim_dir
    }
    assert t.read().filter(F.col("id") == 5).count() == 0
    assert t.read().count() == 79


def test_bucketed_schema_evolution(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), ["id"], bucket_by=4)
    t.merge(mk(spark, [(1, "a", 100, "c"), (2, "b", 100, "c")]))
    evolved = spark.createDataFrame(
        [(1, "a2", "extra", 200, "u")],
        "id long, val string, note string, __ts_ms long, __op string",
    )
    t.merge(evolved)
    out = {r["id"]: (r["val"], r["note"]) for r in t.read().collect()}
    assert out == {1: ("a2", "extra"), 2: ("b", None)}
    assert BUCKET_COL not in t.read().columns


def test_bucket_by_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="exclusive"):
        MergeTable(spark, str(tmp_path / "a"), ["id"],
                   partition_by="month", bucket_by=4)
    with pytest.raises(ValueError, match="positive"):
        MergeTable(spark, str(tmp_path / "b"), ["id"], bucket_by=0)
    with pytest.raises(ValueError, match="key_columns"):
        MergeTable(spark, str(tmp_path / "c"), [], bucket_by=4)
    t = MergeTable(spark, str(tmp_path / "d"), ["id"], bucket_by=4)
    poisoned = mk(spark, [(1, "a", 100, "c")]).withColumn(
        BUCKET_COL, F.lit(0)
    )
    with pytest.raises(ValueError, match="reserved"):
        t.merge(poisoned)


def test_cdc_engine_default_bucket_by(spark, tmp_path):
    """The LakeConfig knob buckets keyed-unpartitioned tables, leaves
    partitioned/keyless/MOR tables alone, and the table cache does not
    thrash on repeated lookups."""
    cfg = LakeConfig(root=str(tmp_path / "lake"), default_bucket_by=8)
    eng = CdcEngine(spark, cfg)
    t = eng.get_table("orders", ["id"])
    assert isinstance(t, MergeTable) and t.bucket_by == 8
    assert t.partition_by == BUCKET_COL
    assert eng.get_table("orders", ["id"]) is t  # cache stable

    part = eng.get_table("events", ["id"], partition_by="month")
    assert part.bucket_by is None and part.partition_by == "month"
    keyless = eng.get_table("logs", [])
    assert keyless.bucket_by is None and keyless.partition_by is None

    mor_cfg = LakeConfig(
        root=str(tmp_path / "mor"), backend="mor", default_bucket_by=8
    )
    mor_eng = CdcEngine(spark, mor_cfg)
    mt = mor_eng.get_table("orders", ["id"])
    assert not isinstance(mt, MergeTable)

    t.merge(mk(spark, [(1, "a", 100, "c")]))
    t.merge(mk(spark, [(1, "a2", 200, "u")]))
    assert [(r["id"], r["val"]) for r in t.read().collect()] == [(1, "a2")]


def test_lookup_bucketed_prunes_and_matches(spark, tmp_path):
    """lookup() must return exactly the keyed rows AND touch only the
    bucket directories the batch's keys hash into."""
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], bucket_by=16)
    t.merge(mk(spark, [(i, f"v{i}", 100, "c") for i in range(400)]))

    keys = spark.createDataFrame([(3,), (250,), (999,)], "id long")
    got = t.lookup(keys)
    assert BUCKET_COL not in got.columns
    assert sorted((r["id"], r["val"]) for r in got.collect()) == [
        (3, "v3"),
        (250, "v250"),
    ]

    # physical pruning: the scan carries LITERAL partition filters on
    # the synthetic bucket column (inputFiles() can't show this — it
    # lists the pre-pruning file index — so assert on the plan, the
    # same way test_dpp pins static pruning)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert BUCKET_COL in plan
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert scan_lines, f"no partition filters in plan:\n{plan[:2000]}"
    assert any(BUCKET_COL in ln for ln in scan_lines)


def test_lookup_identity_partition_and_flat(spark, tmp_path):
    rows = [(i, f"v{i}", 100, "c") for i in range(40)]
    ident = MergeTable(
        spark, str(tmp_path / "ident"), ["id"], partition_by="id"
    )
    ident.merge(mk(spark, rows))
    flat = MergeTable(spark, str(tmp_path / "flat"), ["id"])
    flat.merge(mk(spark, rows))

    keys = spark.createDataFrame([(7,), (12,)], "id long")
    for t in (ident, flat):
        got = sorted((r["id"], r["val"]) for r in t.lookup(keys).collect())
        assert got == [(7, "v7"), (12, "v12")]
    # identity layout prunes on the keys' own partition values
    plan = (
        ident.lookup(keys)._jdf.queryExecution().executedPlan().toString()
    )
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert scan_lines and any(
        "id" in ln and "7" in ln and "12" in ln for ln in scan_lines
    ), f"no literal partition filters in plan:\n{plan[:2000]}"


def test_lookup_missing_key_column_raises(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), ["id"], bucket_by=4)
    t.merge(mk(spark, [(1, "a", 100, "c")]))
    with pytest.raises(ValueError, match="missing key columns"):
        t.lookup(spark.createDataFrame([("x",)], "other string"))


def test_layout_mismatch_refused(spark, tmp_path):
    """The bucket layout is table metadata: opening an existing table
    with a different bucket_by must refuse instead of dynamically
    overwriting the wrong directories (silent duplicates)."""
    path = str(tmp_path / "t")
    MergeTable(spark, path, ["id"], bucket_by=16).merge(
        mk(spark, [(i, f"v{i}", 100, "c") for i in range(50)])
    )
    with pytest.raises(ValueError, match="bucket_by=16"):
        MergeTable(spark, path, ["id"], bucket_by=8)
    with pytest.raises(ValueError, match="bucket_by=16"):
        MergeTable(spark, path, ["id"])
    # a directory of parquet data with no pointer has no committed
    # layout to check against: every open is refused, naming the path
    plain = str(tmp_path / "plain")
    mk(spark, [(1, "a", 100, "c")]).write.partitionBy("id").parquet(plain)
    for kwargs in ({}, {"bucket_by": 16}):
        with pytest.raises(ValueError, match="no _current.json") as e:
            MergeTable(spark, plain, ["id"], **kwargs)
        assert plain in str(e.value)

    flat_path = str(tmp_path / "flat")
    MergeTable(spark, flat_path, ["id"]).merge(
        mk(spark, [(1, "a", 100, "c")])
    )
    with pytest.raises(ValueError, match="bucket_by=None"):
        MergeTable(spark, flat_path, ["id"], bucket_by=8)


def test_rebucket_migrates_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], bucket_by=16)
    t.merge(mk(spark, [(i, f"v{i}", 100, "c") for i in range(120)]))
    before = sorted(map(tuple, t.read().collect()))

    t.rebucket(4)
    assert t.bucket_by == 4 and t.partition_by == BUCKET_COL
    assert sorted(map(tuple, t.read().collect())) == before
    dirs = {os.path.basename(os.path.dirname(d)) for d in live_dirs(path)}
    assert dirs <= {f"{BUCKET_COL}={i}" for i in range(4)}
    # metadata follows: reopen with 4 works, stale 16 is refused
    MergeTable(spark, path, ["id"], bucket_by=4)
    with pytest.raises(ValueError, match="bucket_by=4"):
        MergeTable(spark, path, ["id"], bucket_by=16)

    # merges keep working against the new layout
    t.merge(mk(spark, [(3, "UPD", 200, "u")]))
    assert t.lookup(
        spark.createDataFrame([(3,)], "id long")
    ).collect()[0]["val"] == "UPD"

    # ... and back to flat
    t.rebucket(None)
    assert t.bucket_by is None and t.partition_by is None
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[3] == "UPD" and len(got) == 120


def test_rebucket_rejects_natural_partition(spark, tmp_path):
    t = MergeTable(
        spark, str(tmp_path / "t"), ["id"], partition_by="id"
    )
    t.merge(mk(spark, [(1, "a", 100, "c")]))
    with pytest.raises(ValueError, match="naturally partitioned"):
        t.rebucket(4)


def test_cdc_engine_adopts_stored_layout(spark, tmp_path):
    """A changed default_bucket_by only affects NEW tables; existing
    tables keep their on-disk layout (Iceberg's spec-is-table-metadata
    rule), so a config flip can't corrupt or trip the guard."""
    root = str(tmp_path / "lake")
    eng8 = CdcEngine(spark, LakeConfig(root=root, default_bucket_by=8))
    t8 = eng8.get_table("orders", ["id"])
    t8.merge(mk(spark, [(1, "a", 100, "c"), (2, "b", 100, "c")]))

    eng16 = CdcEngine(
        spark, LakeConfig(root=root, default_bucket_by=16)
    )
    t = eng16.get_table("orders", ["id"])
    assert t.bucket_by == 8  # adopted, not config
    t.merge(mk(spark, [(1, "a2", 200, "u")]))
    assert {r["id"]: r["val"] for r in t.read().collect()} == {
        1: "a2",
        2: "b",
    }
    # brand-new table in the same engine gets the new config
    fresh = eng16.get_table("items", ["id"])
    assert fresh.bucket_by == 16

    # flat-created table stays flat under a bucketing config
    eng_flat = CdcEngine(spark, LakeConfig(root=str(tmp_path / "l2")))
    f = eng_flat.get_table("orders", ["id"])
    f.merge(mk(spark, [(1, "a", 100, "c")]))
    eng_b = CdcEngine(
        spark, LakeConfig(root=str(tmp_path / "l2"), default_bucket_by=8)
    )
    assert eng_b.get_table("orders", ["id"]).bucket_by is None


def test_mor_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """compact() commits the new base like any COW write: a crash at
    any commit step leaves read() at the pre-compact state, and the
    next merge and compact proceed."""
    from data_engineering_spark.operators.merge import MergeTableMOR
    from tests.test_table_commit import COMMIT_STEPS, Crash, crash

    for step in COMMIT_STEPS:
        t = MergeTableMOR(spark, str(tmp_path / step), ["id"])
        t.merge(mk(spark, [(1, "a", 100, "c"), (2, "b", 100, "c")]))
        t.merge(mk(spark, [(1, "a2", 200, "u")]))
        before = sorted(map(tuple, t.read().select("id", "val").collect()))
        with monkeypatch.context() as m:
            m.setattr(f"data_engineering_spark.operators.merge.{step}", crash)
            with pytest.raises(Crash):
                t.compact()
        assert sorted(
            map(tuple, t.read().select("id", "val").collect())
        ) == before
        t.merge(mk(spark, [(3, "c", 300, "c")]))
        assert t.compact() >= 1
        got = {r["id"]: r["val"] for r in t.read().collect()}
        assert got == {1: "a2", 2: "b", 3: "c"}, step


def test_delete_last_row_leaves_readable_empty_table(spark, tmp_path):
    """Regression (backend-equivalence property counterexample): a
    batch whose deletes remove the table's LAST rows used to leave a
    zero-data-file directory — the dynamic overwrite of the empty
    merged frame writes nothing and the stale-partition cleanup removes
    the emptied bucket dirs — and every later read died with
    UNABLE_TO_INFER_SCHEMA. The pointer's committed schema now makes
    "exists but empty" a readable state, matching the MOR backend."""
    for kwargs in ({"bucket_by": 4}, {}):
        sub = "buck" if kwargs else "flat"
        t = MergeTable(spark, str(tmp_path / sub), ["id"], **kwargs)
        t.merge(mk(spark, [(0, "a", 0, "c")]))
        t.merge(mk(spark, [(0, "a", 0, "d")]))
        assert t.exists()
        df = t.read()
        assert df.count() == 0
        assert set(df.columns) == {"id", "val", "__ts_ms", "__op"}
        assert BUCKET_COL not in df.columns
        # lookup on the empty table exercises the bucket-pruned path
        keys = spark.createDataFrame([(0,)], "id long")
        assert t.lookup(keys).count() == 0
        # and the table comes back to life on the next batch
        t.merge(mk(spark, [(1, "b", 1, "c"), (0, "a2", 1, "c")]))
        got = {r["id"]: r["val"] for r in t.read().collect()}
        assert got == {0: "a2", 1: "b"}


def test_partitioned_delete_all_rows_readable(spark, tmp_path):
    """Same last-row-delete regression on a NATURALLY partitioned
    table (partition column not a merge key, so the moved-keys path
    runs too)."""
    t = MergeTable(spark, str(tmp_path / "p"), ["id"], partition_by="pt")
    df = spark.createDataFrame(
        [(1, "x", "a", 100, "c"), (2, "y", "b", 100, "c")],
        "id long, val string, pt string, __ts_ms long, __op string",
    )
    t.merge(df)
    dels = spark.createDataFrame(
        [(1, "x", "a", 200, "d"), (2, "y", "b", 200, "d")],
        "id long, val string, pt string, __ts_ms long, __op string",
    )
    t.merge(dels)
    assert t.exists()
    assert t.read().count() == 0
    assert "pt" in t.read().columns
