"""Round-trip + pushdown tests for the non-parquet format helpers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.catalog import load_table
from data_engineering_spark.sources.formats import (
    read_table,
    write_table,
)

SF = "/root/testdata/sf0.001"


def _norm(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("fmt", ["orc", "csv", "json"])
def test_round_trip_orders(spark, tmp_path, fmt):
    """orders has ints, strings, decimals and dates — every column must
    survive the format round-trip exactly (CSV/JSON via explicit
    schema; ORC natively)."""
    src = load_table(spark, SF, "orders")
    path = str(tmp_path / fmt)
    write_table(src, path, fmt)
    back = read_table(spark, path, fmt, schema=src.schema)
    assert back.schema == src.schema
    assert _norm(back) == _norm(src)


def test_round_trip_events_timestamps(spark, tmp_path):
    """Microsecond timestamps survive CSV (the configured
    timestampFormat) and ORC."""
    src = load_table(spark, SF, "events").select("event_id", "ts")
    for fmt in ("orc", "csv"):
        path = str(tmp_path / f"ev_{fmt}")
        write_table(src, path, fmt)
        back = read_table(spark, path, fmt, schema=src.schema)
        assert _norm(back) == _norm(src), fmt


def test_csv_requires_schema(spark, tmp_path):
    src = load_table(spark, SF, "region")
    path = str(tmp_path / "csv")
    write_table(src, path, "csv")
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, path, "csv")


def test_avro_gated(spark, tmp_path):
    src = load_table(spark, SF, "region")
    with pytest.raises(NotImplementedError, match="spark-avro"):
        write_table(src, str(tmp_path / "avro"), "avro")


def test_orc_predicate_pushdown_and_pruning(spark, tmp_path):
    """ORC scans must push filters and prune columns like parquet — the
    scale properties the lake relies on, asserted on the plan."""
    src = load_table(spark, SF, "orders")
    path = str(tmp_path / "orc_push")
    write_table(src, path, "orc")
    q = (
        read_table(spark, path, "orc")
        .filter(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_totalprice")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_totalprice" in read_schema
    assert "o_comment" not in read_schema  # pruned


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """partition_by produces hive-layout dirs and the reader prunes
    partitions on filter (PartitionFilters in the scan)."""
    import os

    src = load_table(spark, SF, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "by_year")
    write_table(src, path, "orc", partition_by=["o_year"])
    years = {
        d for d in os.listdir(path) if d.startswith("o_year=")
    }
    assert len(years) > 1
    q = read_table(spark, path, "orc").filter(F.col("o_year") == 1995)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert q.count() == src.filter(F.col("o_year") == 1995).count()


def test_read_text_documents_wholetext_and_lines(spark, tmp_path):
    from data_engineering_spark.sources.formats import read_text_documents

    (tmp_path / "a.txt").write_text("alpha line one\nalpha line two\n")
    (tmp_path / "b.txt").write_text("beta doc\n")
    (tmp_path / "skip.md").write_text("not matched\n")

    docs = read_text_documents(
        spark, str(tmp_path), wholetext=True, path_glob="*.txt"
    )
    rows = {r["doc_path"].rsplit("/", 1)[-1]: r["text"] for r in docs.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    assert rows["a.txt"] == "alpha line one\nalpha line two\n"

    lines = read_text_documents(
        spark, str(tmp_path), wholetext=False, path_glob="a.txt"
    )
    assert sorted(r["text"] for r in lines.collect()) == [
        "alpha line one", "alpha line two",
    ]


def test_read_binary_documents_feeds_wav_decode(spark, tmp_path):
    """End-to-end multimodal ingestion: a directory of WAV files read
    through the binaryFile source and decoded — listing-level columns
    (byte_size) available for pre-decode pruning."""
    import io
    import wave

    from data_engineering_spark.operators.multimodal import decode_wav
    from data_engineering_spark.sources.formats import (
        read_binary_documents,
    )

    def wav_bytes(rate, frames_b):
        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames_b)
        w.close()
        return buf.getvalue()

    (tmp_path / "one.wav").write_bytes(wav_bytes(8000, b"\x00\x00" * 80))
    (tmp_path / "two.wav").write_bytes(wav_bytes(16000, b"\x00\x00" * 320))
    (tmp_path / "noise.bin").write_bytes(b"junk")

    raw = read_binary_documents(spark, str(tmp_path), path_glob="*.wav")
    assert raw.count() == 2
    assert {c for c in raw.columns} == {
        "doc_path", "byte_size", "mod_time", "payload"
    }

    src = raw.select(
        F.row_number()
        .over(__import__("pyspark.sql.window", fromlist=["Window"])
              .Window.orderBy("doc_path"))
        .cast("long")
        .alias("id"),
        "payload",
    )
    out = {r["sample_rate"]: r for r in decode_wav(src).collect()}
    assert out[8000]["n_frames"] == 80
    assert out[16000]["n_frames"] == 320
    assert out[16000]["duration_ms"] == 320 * 1000 // 16000


def test_read_json_with_quarantine(spark, tmp_path):
    from data_engineering_spark.operators.materialize import release
    from data_engineering_spark.sources.formats import (
        read_json_with_quarantine,
    )

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": "a"}\n'
        "this is not json\n"
        '{"id": 2, "v": "b"}\n'
        '{"id": "NOT_A_NUMBER_{", "v": []}\n'
    )
    spark.catalog.clearCache()
    good, bad = read_json_with_quarantine(
        spark, str(p), "id bigint, v string"
    )
    assert sorted((r["id"], r["v"]) for r in good.collect()) == [
        (1, "a"), (2, "b"),
    ]
    bad_lines = sorted(r["raw_line"] for r in bad.collect())
    assert len(bad_lines) == 2
    assert any("not json" in l for l in bad_lines)
    # the cached scan behind both frames is attached for the caller
    release(good)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_read_parquet_robust_names_corrupt_files(spark, tmp_path):
    from data_engineering_spark.sources.formats import read_parquet_robust

    path = str(tmp_path / "land")
    spark.range(10).coalesce(1).write.parquet(path)
    # a truncated transfer and an upstream writer that died mid-file
    with open(f"{path}/part-trunc.parquet", "wb") as f:
        f.write(b"PAR1" + b"\x00" * 100)  # header ok, footer missing
    with open(f"{path}/part-empty.parquet", "wb") as f:
        f.write(b"PA")

    df, bad = read_parquet_robust(spark, path)
    assert df.count() == 10
    assert sorted(os.path.basename(b) for b in bad) == [
        "part-empty.parquet", "part-trunc.parquet"]

    import pytest
    spark.range(1).coalesce(1).write.parquet(str(tmp_path / "allbad"))
    for p in os.listdir(str(tmp_path / "allbad")):
        if p.endswith(".parquet"):
            with open(f"{tmp_path}/allbad/{p}", "wb") as f:
                f.write(b"nope")
    with pytest.raises(ValueError, match="no readable"):
        read_parquet_robust(spark, str(tmp_path / "allbad"))
