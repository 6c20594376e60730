"""Training-export preparation tests (operators/export_prep.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.operators.export_prep import (
    FIM_MID,
    FIM_PRE,
    FIM_SUF,
    fim_transform,
    shuffle_shards,
)

SF = "/root/testdata/sf0.001"


def test_shuffle_shards_deterministic_total_and_balanced(spark):
    d = load_table(spark, SF, "documents")
    n = d.count()
    a = shuffle_shards(d, 8).select("doc_id", "shard", "shard_pos")
    rows = {r["doc_id"]: (r["shard"], r["shard_pos"]) for r in a.collect()}
    again = {
        r["doc_id"]: (r["shard"], r["shard_pos"])
        for r in shuffle_shards(d, 8)
        .select("doc_id", "shard", "shard_pos")
        .collect()
    }
    assert rows == again and len(rows) == n  # deterministic, total
    # positions are 0..size-1 per shard (a real permutation)
    per_shard: dict[int, list[int]] = {}
    for s, p in rows.values():
        per_shard.setdefault(s, []).append(p)
    assert set(per_shard) == set(range(8))
    for poss in per_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # md5 uniformity: no shard more than 2x the ideal share
    assert max(len(v) for v in per_shard.values()) <= 2 * (n / 8)
    # a different salt reshuffles
    other = {
        r["doc_id"]: (r["shard"], r["shard_pos"])
        for r in shuffle_shards(d, 8, salt="shuf2")
        .select("doc_id", "shard", "shard_pos")
        .collect()
    }
    assert other != rows


def test_shuffle_shards_plan_has_no_global_sort(spark):
    from data_engineering_spark.plans.explain import scale_violations

    d = load_table(spark, SF, "documents")
    found = scale_violations(shuffle_shards(d, 8))
    assert not any(found), found


def test_shuffle_shards_rejects_bad_counts(spark):
    d = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="n_shards"):
        shuffle_shards(d, 0)


def test_fim_reassembles_to_original(spark):
    """Stripping the sentinels and reordering PSM -> original text:
    the transform loses no bytes. Non-FIM rows pass through verbatim;
    short docs are never selected."""
    d = load_table(spark, SF, "documents")
    src = {r["doc_id"]: r["text"] for r in d.collect()}
    out = fim_transform(d).collect()
    n_fim = 0
    for r in out:
        orig = src[r["doc_id"]]
        if not r["is_fim"]:
            assert r["out_text"] == orig
            continue
        n_fim += 1
        t = r["out_text"]
        assert t.startswith(FIM_PRE)
        pre, rest = t[len(FIM_PRE):].split(FIM_SUF, 1)
        suf, mid = rest.split(FIM_MID, 1)
        assert pre + mid + suf == orig
        assert len(orig) >= 32 and pre and suf
    # ~50% of eligible docs get transformed (md5-uniform pick)
    eligible = sum(1 for t in src.values() if len(t) >= 32)
    assert 0.3 * eligible < n_fim < 0.7 * eligible


def test_fim_rate_bounds_and_zero_rate(spark):
    d = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="fim_rate_pct"):
        fim_transform(d, fim_rate_pct=101)
    none = fim_transform(d, fim_rate_pct=0)
    assert none.filter(F.col("is_fim")).count() == 0


def test_write_training_shards_layout_and_order(spark, tmp_path):
    """The materialized layout: shard=K directories whose files hold
    rows physically ordered by shard_pos, with membership identical to
    the hash-oracled assignment."""
    from data_engineering_spark.operators.export_prep import (
        write_training_shards,
    )

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    write_training_shards(d, out, 4)
    expect: dict[int, dict[int, int]] = {}
    for r in (
        shuffle_shards(d, 4).select("doc_id", "shard", "shard_pos").collect()
    ):
        expect.setdefault(r["shard"], {})[r["shard_pos"]] = r["doc_id"]
    import os

    dirs = sorted(
        p for p in os.listdir(out) if p.startswith("shard=")
    )
    assert dirs == [f"shard={k}" for k in range(4)]
    for k in range(4):
        rows = spark.read.parquet(f"{out}/shard={k}").collect()
        # membership matches the assignment...
        assert {r["doc_id"] for r in rows} == set(expect[k].values())
        # ...and the physical row order inside the shard IS shard_pos
        assert [r["doc_id"] for r in rows] == [
            expect[k][p] for p in range(len(rows))
        ]


def test_fim_stream_equals_batch(spark, tmp_path):
    """FIM is stateless, so the streaming wiring (file source +
    checkpointed foreachBatch) must reproduce the batch transform
    exactly, whatever the micro-batch slicing."""
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    # two file drops -> at least two micro-batches
    d.filter(F.col("doc_id") % 2 == 0).write.parquet(
        src, mode="overwrite"
    )
    d.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    got: list = []

    def sink(batch_df, _bid):
        got.extend(fim_transform(batch_df).collect())

    q = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = {
        r["doc_id"]: (r["is_fim"], r["out_text"])
        for r in fim_transform(d).collect()
    }
    assert {
        r["doc_id"]: (r["is_fim"], r["out_text"]) for r in got
    } == batch
    assert len(got) == len(batch)


def test_fim_plan_is_shuffle_free_scan_project(spark):
    from data_engineering_spark.plans.explain import plan_string

    d = load_table(spark, SF, "documents")
    plan = plan_string(fim_transform(d))
    assert "Exchange" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
