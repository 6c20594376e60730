"""MergeTable's one commit: immutable version directories behind the
``_current.json`` pointer. Readers need no lock, a failure at any
commit step leaves a readable committed state, and the next commit
expires everything but the current and previous versions."""

from __future__ import annotations

import glob
import os
import random
import subprocess
import sys
import threading

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.operators.merge import (
    BUCKET_COL,
    MergeTable,
    read_commit,
)
from tests.test_backend_equivalence_props import _py_lww, _spark_batch

# the three steps of a commit, in order: after the staging write the
# leaves move into version slots, then the pointer is replaced, then
# old versions expire. Failing a step simulates a crash right before it.
COMMIT_STEPS = ("_move_leaves", "_replace_pointer", "_expire")


class Crash(RuntimeError):
    pass


def crash(*_a, **_k):
    raise Crash("injected failure")


def _state(t: MergeTable) -> list:
    if not t.exists():
        return []
    return sorted(
        (r["id"], r["val"], r["__ts_ms"]) for r in t.read().collect()
    )


def _version_dirs(path: str) -> set[str]:
    return {
        os.path.relpath(d, path)
        for d in glob.glob(os.path.join(path, "v-*"))
        + glob.glob(os.path.join(path, "*=*", "v-*"))
    }


def _assert_expired(path: str) -> None:
    """On disk: exactly the current and previous commits' leaves."""
    commit = read_commit(path)
    assert _version_dirs(path) == {*commit["live"], *commit["previous"]}
    assert not glob.glob(os.path.join(path, "_staging-*"))


def _batches(seed: int, n: int) -> list:
    rng = random.Random(seed)
    return [
        [
            (rng.randrange(10), rng.choice("abcd"), 10 * b + i,
             rng.choice("cud"))
            for i in range(8)
        ]
        for b in range(n)
    ]


def _partitioned_batch(spark, batch):
    return _spark_batch(spark, batch).withColumn(
        "pt", (F.col("id") % 3).cast("string")
    )


def test_unlocked_reader_sees_only_committed_prefixes(spark, tmp_path):
    """A reader thread with no lock races merges on a flat and a
    partitioned table: no read fails, and every state it observes is
    the python LWW replay of some committed batch prefix."""
    batches = _batches(seed=7, n=6)
    prefixes = [_py_lww(batches[:i]) for i in range(len(batches) + 1)]
    flat = MergeTable(spark, str(tmp_path / "flat"), ["id"])
    part = MergeTable(spark, str(tmp_path / "part"), ["id"], partition_by="pt")
    done = threading.Event()
    seen: list = []
    errors: list = []

    def reader():
        while not done.is_set():
            for t in (flat, part):
                try:
                    seen.append((t.path, _state(t)))
                except Exception as e:  # noqa: BLE001 - the failure under test
                    errors.append(f"{type(e).__name__}: {e}"[:300])

    th = threading.Thread(target=reader, daemon=True)
    th.start()
    try:
        for b in batches:
            flat.merge(_spark_batch(spark, b))
            part.merge(_partitioned_batch(spark, b))
    finally:
        done.set()
        th.join()
    assert errors == []
    assert len(seen) >= 4, "reader never overlapped the merges"
    for path, state in seen:
        assert state in prefixes, (path, state)
    assert _state(flat) == _state(part) == prefixes[-1]


@pytest.mark.parametrize("step", COMMIT_STEPS)
def test_failure_at_each_commit_step(spark, tmp_path, monkeypatch, step):
    """Failing before the pointer replace leaves the state before the
    batch; failing after it (before expiry) leaves the state after.
    The next merge succeeds and expires every version dir that neither
    of the last two commits names — crash leftovers included."""
    b1, b2, b3, b4 = _batches(seed=11, n=4)
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"], partition_by="pt")
    t.merge(_partitioned_batch(spark, b1))
    t.merge(_partitioned_batch(spark, b2))
    with monkeypatch.context() as m:
        m.setattr(f"data_engineering_spark.operators.merge.{step}", crash)
        with pytest.raises(Crash):
            t.merge(_partitioned_batch(spark, b3))
    landed = step == "_expire"
    assert _state(t) == _py_lww([b1, b2, b3] if landed else [b1, b2])
    t.merge(_partitioned_batch(spark, b4))
    assert _state(t) == _py_lww([b1, b2, b3, b4] if landed else [b1, b2, b4])
    _assert_expired(path)


@pytest.mark.parametrize("step", COMMIT_STEPS)
def test_rename_survives_failed_commit(spark, tmp_path, monkeypatch, step):
    """The rename map is committed with the data: a merge that fails
    at any commit step never undoes an earlier rename."""
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, ["id"])
    t.merge(_spark_batch(spark, [(1, "a", 1, "c"), (2, "b", 1, "c")]))
    t.rename_column("val", "value")
    renamed = _spark_batch(spark, [(2, "b2", 2, "u")]).withColumnRenamed(
        "val", "value"
    )
    with monkeypatch.context() as m:
        m.setattr(f"data_engineering_spark.operators.merge.{step}", crash)
        with pytest.raises(Crash):
            t.merge(renamed)
    assert "value" in t.read().columns and "val" not in t.read().columns
    t.merge(
        _spark_batch(spark, [(3, "c", 3, "c")]).withColumnRenamed(
            "val", "value"
        )
    )
    got = {r["id"]: r["value"] for r in t.read().collect()}
    assert got == {1: "a", 2: "b2" if step == "_expire" else "b", 3: "c"}
    _assert_expired(path)


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "read-time job guard")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def test_read_and_lookup_build_no_jobs(spark, tmp_path):
    """Building read() and lookup() resolves the pointer and passes the
    committed schema: no schema-inference job. A bucketed lookup runs
    only its documented key-bucket collect."""
    rows = [(i, "v", i % 4, 1, "c") for i in range(20)]
    schema = "id long, val string, pt int, __ts_ms long, __op string"
    tables = {
        "flat": MergeTable(spark, str(tmp_path / "flat"), ["id"]),
        "part": MergeTable(
            spark, str(tmp_path / "part"), ["id"], partition_by="pt"
        ),
        "buck": MergeTable(spark, str(tmp_path / "buck"), ["id"], bucket_by=4),
    }
    for t in tables.values():
        t.merge(spark.createDataFrame(rows, schema))
    keys = spark.createDataFrame([(3,), (7,)], "id long")
    for name, t in tables.items():
        assert _jobs(spark, f"read_{name}", t.read) == 0, name
        lookup_jobs = _jobs(spark, f"lookup_{name}", lambda: t.lookup(keys))
        bucket_jobs = (
            _jobs(spark, f"parts_{name}", lambda: t._key_partitions(keys))
            if name == "buck"
            else 0
        )
        assert lookup_jobs == bucket_jobs, name
    assert BUCKET_COL not in tables["buck"].read().columns


_HOLD_LOCK = """
import sys
from data_engineering_spark.operators.merge import _path_lock
with _path_lock(sys.argv[1]):
    print("held", flush=True)
    sys.stdin.readline()
"""


def test_writer_waits_for_another_process(spark, tmp_path):
    """The writer lock is exclusive across processes (a compact from
    the admin CLI beside a running pipeline): while another process
    holds it, an append here waits, and it lands once released."""
    path = str(tmp_path / "t")
    t = MergeTable(spark, path, [])
    t.append(spark.createDataFrame([(1,)], "id long"))
    batch = spark.createDataFrame([(2,)], "id long")
    holder = subprocess.Popen(
        [sys.executable, "-c", _HOLD_LOCK, path],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    writer = threading.Thread(target=t.append, args=(batch,))
    try:
        assert holder.stdout.readline().strip() == "held"
        writer.start()
        writer.join(2.0)
        assert writer.is_alive(), "append ran under another process's lock"
        assert read_commit(path)["version"] == 1
    finally:
        holder.communicate("\n", timeout=60)
    writer.join(120)
    assert not writer.is_alive()
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]


def test_appends_keep_live_leaves_under_listing_threshold(spark, tmp_path):
    """Each append adds a live leaf; once the live set reaches Spark's
    parallel-listing threshold the next append folds the table into
    one version, so a read never lists with a Spark job and no row is
    lost."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        t = MergeTable(spark, str(tmp_path / "t"), [])
        counts = []
        for i in range(10):
            t.append(spark.createDataFrame([(i,)], "id long"))
            counts.append(len(read_commit(t.path)["live"]))
            if counts[-1] == 4:
                assert _jobs(spark, f"listing_{i}", t.read) == 0
        assert counts == [1, 2, 3, 4, 1, 2, 3, 4, 1, 2]
        assert sorted(r["id"] for r in t.read().collect()) == list(range(10))
    finally:
        spark.conf.set(key, old)
