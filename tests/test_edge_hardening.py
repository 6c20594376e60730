"""Regression tests for review-found edge cases: SQL-NULL leaking
through delete predicates and partition pruning, partition-directory
escaping, MOR base/delta op-column backfill, MOR merge concurrency,
duplicate tar members, and degenerate text inputs."""

from __future__ import annotations

import io
import os
import tarfile

from pyspark.sql import functions as F

from data_engineering_spark.operators.merge import (
    MergeTable,
    MergeTableMOR,
    _partition_dir,
    read_commit,
)


_SCHEMA = "id int, val string, __ts_ms long, __op string"


def _batch(spark, rows, schema=_SCHEMA):
    return spark.createDataFrame(rows, schema)


def test_null_op_event_is_not_a_delete(spark, tmp_path):
    """A malformed CDC event with NULL __op made is_delete SQL-NULL and
    filter(~NULL) silently DELETED the target row; NULL must mean
    'not a delete' and upsert normally."""
    t = MergeTable(spark, str(tmp_path / "t"), ["id"])
    t.merge(_batch(spark, [(1, "a", 100, "c"), (2, "b", 100, "c")]))
    t.merge(_batch(spark, [(1, "a2", 200, None), (3, "c", 200, None)]))
    rows = {r["id"]: r["val"] for r in t.read().collect()}
    assert rows == {1: "a2", 2: "b", 3: "c"}


def test_null_op_on_create_path_inserts(spark, tmp_path):
    t = MergeTable(spark, str(tmp_path / "t"), ["id"])
    t.merge(_batch(spark, [(1, "a", 100, None), (2, "b", 100, "d")]))
    assert {r["id"] for r in t.read().collect()} == {1}


def test_guarded_delete_with_null_ts_is_ignored_not_applied(
    spark, tmp_path
):
    """ts_guard means newer-wins; a delete with NULL __ts_ms has no
    defensible 'newer' claim, and the old NULL leak APPLIED it."""
    t = MergeTable(spark, str(tmp_path / "t"), ["id"])
    t.merge(_batch(spark, [(1, "a", 100, "c")]), ts_guard=True)
    t.merge(_batch(spark, [(1, None, None, "d")]), ts_guard=True)
    assert {r["id"]: r["val"] for r in t.read().collect()} == {1: "a"}


def test_null_partition_rows_survive_partitioned_merge(spark, tmp_path):
    """isin() is SQL-NULL for NULL partition values — both the batch's
    null-partition rows and the table's existing null partition were
    silently dropped."""
    t = MergeTable(
        spark, str(tmp_path / "t"), ["id"], partition_by="pt"
    )
    b1 = spark.createDataFrame(
        [(1, "a", "p1", 100, "c"), (2, "b", None, 100, "c")],
        "id int, val string, pt string, __ts_ms long, __op string",
    )
    t.merge(b1)
    b2 = spark.createDataFrame(
        [(2, "b2", None, 200, "u"), (3, "c", None, 200, "c")],
        "id int, val string, pt string, __ts_ms long, __op string",
    )
    t.merge(b2)
    rows = {r["id"]: (r["val"], r["pt"]) for r in t.read().collect()}
    assert rows == {1: ("a", "p1"), 2: ("b2", None), 3: ("c", None)}

    # deleting every null-partition row must drop its directory from
    # the live set
    b3 = spark.createDataFrame(
        [(2, None, None, 300, "d"), (3, None, None, 300, "d")],
        "id int, val string, pt string, __ts_ms long, __op string",
    )
    t.merge(b3)
    assert {r["id"] for r in t.read().collect()} == {1}
    assert not [
        d for d in read_commit(t.path)["live"]
        if d.startswith("pt=__HIVE_DEFAULT_PARTITION__/")
    ]


def test_stale_partition_cleanup_with_escaped_value(spark, tmp_path):
    """Spark writes 'a/b' as pt=a%2Fb; a cleanup built from the raw
    name removed nothing, and deleted rows resurrected on read."""
    assert _partition_dir("pt", "a/b") == "pt=a%2Fb"
    t = MergeTable(
        spark, str(tmp_path / "t"), ["id"], partition_by="pt"
    )
    b1 = spark.createDataFrame(
        [(1, "a", "a/b", 100, "c"), (2, "b", "keep", 100, "c")],
        "id int, val string, pt string, __ts_ms long, __op string",
    )
    t.merge(b1)
    b2 = spark.createDataFrame(
        [(1, None, "a/b", 200, "d")],
        "id int, val string, pt string, __ts_ms long, __op string",
    )
    t.merge(b2)
    assert {r["id"] for r in t.read().collect()} == {2}
    assert not [
        d for d in read_commit(t.path)["live"] if d.startswith("pt=a%2Fb/")
    ]


def test_mor_base_without_op_survives_delta_reads(spark, tmp_path):
    """Base loaded without __op + deltas with it: unionByName null-
    fills base __op, and the != 'd' read filter dropped the whole
    untouched base."""
    t = MergeTableMOR(spark, str(tmp_path / "t"), ["id"])
    t.create(
        spark.createDataFrame(
            [(1, "a", 100), (2, "b", 100)],
            "id int, val string, __ts_ms long",
        )
    )
    t.merge(_batch(spark, [(3, "c", 200, "c"), (2, None, 200, "d")]))
    rows = {r["id"]: r["val"] for r in t.read().collect()}
    assert rows == {1: "a", 3: "c"}
    # compact must preserve exactly the same state
    t.compact()
    assert {
        r["id"]: r["val"] for r in t.read().collect()
    } == rows


def test_mor_concurrent_merges_keep_both_batches(spark, tmp_path):
    """Two threads merging the same MOR table computed the same delta
    seq and the later overwrite clobbered the earlier batch."""
    import threading

    t = MergeTableMOR(spark, str(tmp_path / "t"), ["id"])
    t.create(_batch(spark, [(1, "a", 100, "c")]))
    b1 = _batch(spark, [(2, "b", 200, "c")])
    b2 = _batch(spark, [(3, "c", 200, "c")])
    th = [
        threading.Thread(target=t.merge, args=(b,)) for b in (b1, b2)
    ]
    [x.start() for x in th]
    [x.join() for x in th]
    assert t.delta_count() == 2
    assert {r["id"] for r in t.read().collect()} == {1, 2, 3}


def test_tar_duplicate_member_latest_wins(spark, tmp_path):
    """A repeated member name (tar update semantics) must not throw on
    map_from_entries; the later entry's payload wins."""
    from data_engineering_spark.sources.tar_shards import (
        read_tar_members,
        webdataset_records,
    )

    shard = tmp_path / "s0.tar"
    with tarfile.open(shard, "w") as tf:
        for name, payload in [
            ("0001.txt", b"old"),
            ("0001.json", b"{}"),
            ("0001.txt", b"new"),
        ]:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    recs = webdataset_records(
        read_tar_members(spark, str(shard))
    ).collect()
    assert len(recs) == 1
    parts = {k: bytes(v) for k, v in recs[0]["parts"].items()}
    assert parts == {"txt": b"new", "json": b"{}"}
    assert recs[0]["n_parts"] == 2


def test_tokens_and_simhash_degenerate_inputs(spark):
    from data_engineering_spark.operators.text import simhash64, tokens

    df = spark.createDataFrame(
        [(1, "a b"), (2, "   "), (3, ""), (4, None)], ["id", "text"]
    )
    out = {
        r["id"]: r["t"]
        for r in df.select("id", tokens("text").alias("t")).collect()
    }
    assert out == {1: ["a", "b"], 2: [], 3: [], 4: None}

    sh = df.select(
        "id",
        simhash64(
            F.when(F.col("id") == 1, F.array(F.lit("abc")))
            .otherwise(F.array().cast("array<string>"))
        ).alias("fp"),
    ).collect()
    fps = {r["id"]: r["fp"] for r in sh}
    assert fps[1] is not None
    assert fps[2] is None and fps[3] is None and fps[4] is None


def test_degrees_dedup_bidirectional_and_selfloop(spark):
    from data_engineering_spark.operators.graph import degrees

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (2, 4)],
        "doc_a long, doc_b long",
    )
    deg = {r["vertex"]: r["degree"] for r in degrees(edges).collect()}
    assert deg == {1: 1, 2: 2, 4: 1}


def test_with_salt_spreads_identical_rows_across_partitions(spark):
    from data_engineering_spark.operators.skew import with_salt

    # one bot key, every row identical after projection — the pure
    # content hash gave them all ONE salt and re-pinned the skew
    df = (
        spark.range(2000)
        .repartition(16)
        .select(F.lit("bot").alias("user"), F.lit(1).alias("v"))
    )
    salts = {r["__salt"] for r in with_salt(df, 8).collect()}
    assert len(salts) > 1
    # still deterministic across two executions of the same plan
    a = sorted(r["__salt"] for r in with_salt(df, 8).collect())
    b = sorted(r["__salt"] for r in with_salt(df, 8).collect())
    assert a == b


def test_mor_delta_write_survives_failed_attempt(spark, tmp_path):
    """A crashed attempt's partial delta dir must not shift the next
    attempt's sequence or feed read() a corrupt frame."""
    t = MergeTableMOR(spark, str(tmp_path / "t"), ["id"])
    t.create(_batch(spark, [(1, "a", 100, "c")]))
    t.merge(_batch(spark, [(2, "b", 200, "c")]))
    # simulate a crash mid-write: a delta dir without _SUCCESS
    partial = os.path.join(str(tmp_path / "t"), "_deltas", "delta-0000000001")
    os.makedirs(partial)
    assert t.delta_count() == 1  # partial is invisible
    t.merge(_batch(spark, [(3, "c", 300, "c")]))  # retry lands on seq 1
    assert t.delta_count() == 2
    assert {r["id"] for r in t.read().collect()} == {1, 2, 3}


def test_cdc_null_kafka_key_rows_not_collapsed(spark, tmp_path):
    """A flaky producer that drops the message key on SOME records of a
    keyed table: the raw-key LWW previously put every NULL-key record
    in ONE group and kept only the latest (valid rows silently lost).
    NULL-key rows must survive grouped by payload, and duplicate
    payload keys among them must still compact to the newest row
    (the exact post-parse compaction) instead of duplicating the key."""
    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig
    from tests.cdc_fixtures import envelope_frame, sale

    engine = CdcEngine(spark, LakeConfig(root=str(tmp_path / "lake")))
    rows = [
        sale(spark, 1, 10, 1.0, op="c", ts_ms=1000),
        sale(spark, 2, 20, 2.0, op="c", ts_ms=1001),
        sale(spark, 3, 30, 3.0, op="c", ts_ms=1002),
        # same payload key as sale 1, newer — must win, not duplicate
        sale(spark, 1, 11, 1.5, op="u", ts_ms=2000),
    ]
    # keys survive on sales 2/3 (so the key schema is inferable), but
    # BOTH of sale 1's records and sale 3's record lose theirs
    env = envelope_frame(spark, rows).withColumn(
        "key",
        F.when(F.col("__ts_ms") == 1001, F.col("key")),
    )
    engine.process_batch(env, 0)
    read = engine.tables["sales"].read().collect()
    got = {r["sale_id"]: r["item_id"] for r in read}
    assert len(read) == 3  # no duplicated sale_id rows
    assert got == {1: 11, 2: 20, 3: 30}


def test_get_table_rebuilds_on_config_drift(spark, tmp_path):
    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig

    engine = CdcEngine(spark, LakeConfig(root=str(tmp_path / "lake")))
    t1 = engine.get_table("t", [])
    assert t1.key_columns == []
    t2 = engine.get_table("t", ["id"], partition_by=None)
    assert t2.key_columns == ["id"]
    assert engine.get_table("t", ["id"]) is t2  # stable when unchanged


def test_file_ledger_skips_temporary_dirs(spark, tmp_path):
    from data_engineering_spark.sources.incremental import FileLedger

    landing = tmp_path / "landing"
    (landing / "_temporary" / "0").mkdir(parents=True)
    (landing / ".staging").mkdir()
    (landing / "_temporary" / "0" / "part-0.parquet").write_bytes(b"x")
    (landing / ".staging" / "part-1.parquet").write_bytes(b"x")
    (landing / "good.parquet").write_bytes(b"x")
    ledger = FileLedger(spark, str(tmp_path / "ledger"))
    files = ledger.new_files(str(landing), suffix=".parquet")
    assert [os.path.basename(f.path) for f in files] == ["good.parquet"]


def test_scd2_merge_string_order_cols(spark):
    """order_cols were force-cast to long, so string sequence ids
    became NULL and ties broke nondeterministically vs the rebuild."""
    from data_engineering_spark.operators.scd import scd2_build, scd2_merge

    initial = spark.createDataFrame(
        [(1, "a", 100, "evt-001")],
        "id int, val string, ts long, seq string",
    )
    dim = scd2_build(initial, ["id"], ["val"], "ts", order_cols=["seq"])
    delta = spark.createDataFrame(
        [(1, "b", 200, "evt-002"), (1, "c", 200, "evt-003")],
        "id int, val string, ts long, seq string",
    )
    merged = scd2_merge(dim, delta, ["id"], ["val"], "ts", order_cols=["seq"])
    rebuilt = scd2_build(
        initial.unionByName(delta), ["id"], ["val"], "ts", order_cols=["seq"]
    )
    key = lambda df: sorted(  # noqa: E731
        (r["id"], r["val"], r["valid_from"], r["is_current"])
        for r in df.collect()
    )
    assert key(merged) == key(rebuilt)
    cur = [r["val"] for r in merged.collect() if r["is_current"]]
    assert cur == ["c"]  # evt-003 is the string-ordered winner


def test_canonical_url_strips_adjacent_utm_params(spark):
    from data_engineering_spark.operators.filters import canonical_url

    df = spark.createDataFrame(
        [
            (1, "HTTP://A.com/p?utm_source=x&utm_medium=y&id=1"),
            (2, "http://a.com/p?utm_source=x&utm_medium=y&utm_term=z"),
            (3, "http://a.com/p?id=1&utm_a=1&utm_b=2"),
            (4, "http://a.com/p?utm_only=1"),
        ],
        "id int, url string",
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", canonical_url("url").alias("c")).collect()
    }
    assert got == {
        1: "http://a.com/p?id=1",
        2: "http://a.com/p",
        3: "http://a.com/p?id=1",
        4: "http://a.com/p",
    }


def test_scrub_pii_counts_match_redactions(spark):
    from data_engineering_spark.operators.filters import scrub_pii

    df = spark.createDataFrame(
        [(1, "see https://x.com/a@b.co now or mail c@d.io")],
        "doc_id long, text string",
    )
    r = scrub_pii(df).collect()[0]
    # one URL tag (the @ inside it is NOT separately an email) and one
    # standalone email tag; counts must equal tags in clean_text
    assert r["clean_text"].count("<URL>") == r["n_urls"] == 1
    assert r["clean_text"].count("<EMAIL>") == r["n_emails"] == 1
    assert r["n_phones"] == 0


def test_cap_per_group_default_tiebreak_is_stable(spark):
    from data_engineering_spark.operators.filters import cap_per_group

    df = (
        spark.range(400)
        .select(
            (F.col("id") % 4).alias("g"),
            F.lit(7).alias("score"),
            F.col("id").alias("payload"),
        )
        .repartition(13)
    )
    a = sorted(
        map(tuple, cap_per_group(df, ["g"], "score", 5).collect())
    )
    b = sorted(
        map(
            tuple,
            cap_per_group(df.repartition(3), ["g"], "score", 5).collect(),
        )
    )
    assert a == b and len(a) == 20


def test_binned_range_join_left_and_semi(spark):
    from data_engineering_spark.operators.timeseries import binned_range_join
    import pytest

    points = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-03-05 00:00:00")],
        "pid int, pt string",
    ).select("pid", F.col("pt").cast("timestamp").alias("pt"))
    iv = spark.createDataFrame(
        [(100, "2024-01-01 00:00:00", "2024-01-02 00:00:00")],
        "iid int, s string, e string",
    ).select(
        "iid",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    left = binned_range_join(points, iv, "pt", "s", "e", how="left").collect()
    by_pid = {r["pid"]: r["iid"] for r in left}
    assert by_pid == {1: 100, 2: None}  # unmatched point SURVIVES
    semi = binned_range_join(points, iv, "pt", "s", "e", how="left_semi")
    assert [r["pid"] for r in semi.collect()] == [1]
    anti = binned_range_join(points, iv, "pt", "s", "e", how="left_anti")
    assert [r["pid"] for r in anti.collect()] == [2]
    with pytest.raises(ValueError, match="point-side"):
        binned_range_join(points, iv, "pt", "s", "e", how="full")


def test_interval_join_same_ts_name(spark):
    from data_engineering_spark.operators.timeseries import interval_join

    purchases = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "user int, ts string"
    ).select("user", F.col("ts").cast("timestamp").alias("ts"))
    clicks = spark.createDataFrame(
        [(1, "2024-01-01 09:50:00", "c1"), (1, "2024-01-01 08:00:00", "c2")],
        "user int, ts string, cid string",
    ).select(
        "user", F.col("ts").cast("timestamp").alias("ts"), "cid"
    )
    out = interval_join(
        purchases,
        clicks,
        ["user"],
        "ts",
        "ts",
        F.expr("INTERVAL -30 MINUTES"),
        F.expr("INTERVAL 0 MINUTES"),
    )
    assert [r["cid"] for r in out.collect()] == ["c1"]


def test_asof_join_null_keys_unmatched(spark):
    from data_engineering_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(None, 10, "L1"), ("k", 10, "L2")],
        "k string, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(None, 9, "R-null"), ("k", 9, "R-k")],
        "k string, ts long, rtag string",
    )
    out = {
        r["tag"]: r["rtag"]
        for r in asof_join(left, right, ["k"], "ts", "ts").collect()
    }
    assert out == {"L1": None, "L2": "R-k"}


def test_image_decode_quarantines_bad_payloads(spark):
    from data_engineering_spark.operators.multimodal import (
        decode_image_pixels,
        decode_images,
        resize_images_nearest,
    )

    good = b"P2\n# hdr comment\n2 2 255\n0 64 # raster comment\n128 255\n"
    bad = b"\x89PNG not really decodable here"
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad))],
        "id long, payload binary",
    )
    meta = {r["id"]: r["width"] for r in decode_images(df).collect()}
    assert meta == {1: 2, 2: None}
    px = {r["id"]: r["pixels"] for r in decode_image_pixels(df).collect()}
    assert bytes(px[1]) == bytes([0, 64, 128, 255]) and px[2] is None
    rs = {
        r["id"]: r["width"]
        for r in resize_images_nearest(df, 4, 4).collect()
    }
    assert rs == {1: 4, 2: None}


def test_pnm_ascii_rejects_out_of_range_sample(spark):
    from data_engineering_spark.operators.multimodal import (
        decode_images,
    )

    over = b"P2\n2 1 255\n0 999\n"
    df = spark.createDataFrame(
        [(1, bytearray(over))], "id long, payload binary"
    )
    assert decode_images(df).collect()[0]["width"] is None


def test_watermarked_window_counts_supports_append_mode(spark, tmp_path):
    """Grouping by window(...).getField('start') strips the event-time
    metadata: Spark then rejects append mode outright ('streaming
    aggregations without watermark') and never reclaims window state.
    The canonical group-by-window form must start in append mode."""
    from data_engineering_spark.streaming.stateful import (
        watermarked_window_counts,
    )

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [("2024-01-01 00:01:00", "a"), ("2024-01-01 02:00:00", "a")],
        "ts string, event_type string",
    ).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(
        "ts timestamp, event_type string"
    ).parquet(str(src))
    agg = watermarked_window_counts(stream, "30 minutes", "1 hour")
    out = tmp_path / "out"
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the first window is behind the watermark after the 02:00 event
    # and must have been emitted as final
    spark.read.parquet(str(out)).count()  # schema/read sanity
    # batch semantics unchanged
    batch = spark.read.parquet(str(src))
    rows = {
        (r["window_start"].hour, r["window_start"].minute, r["event_type"]):
            r["n_events"]
        for r in watermarked_window_counts(batch, "30 minutes", "1 hour")
        .collect()
    }
    assert rows == {(0, 0, "a"): 1, (2, 0, "a"): 1}


def test_snapshot_table_non_integer_pk_falls_back(spark, tmp_path):
    """A varchar/UUID primary key cannot range-partition a JDBC scan;
    the snapshot must fall back to a single-partition read instead of
    crashing the whole run on int()."""
    from data_engineering_spark.snapshot.jdbc_snapshot import (
        JdbcConfig,
        snapshot_table,
    )

    jvm = spark._jvm
    url = "jdbc:derby:memory:strpk"
    conn = jvm.java.sql.DriverManager.getConnection(f"{url};create=true")
    st = conn.createStatement()
    try:
        st.execute(
            "CREATE TABLE items (uid VARCHAR(36) PRIMARY KEY, v INT)"
        )
        for i in range(5):
            st.execute(f"INSERT INTO items VALUES ('id-{i:04d}', {i})")
        conn.commit()
        cfg = JdbcConfig(
            url=url,
            user="",
            password="",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
            ident_quote="",
        )
        n = snapshot_table(
            spark,
            cfg,
            "APP",
            "items",
            str(tmp_path / "lake"),
            rds_id=1,
            tenant_id=1,
            key="uid",  # explicit varchar key -> bounds are strings
        )
        assert n == 5
    finally:
        st.execute("DROP TABLE items")
        conn.commit()


def test_debezium_precise_decimal_decodes(spark):
    import base64

    from data_engineering_spark.cdc.envelope import (
        _decode_precise_decimal,
        apply_semantic_conversions,
    )

    def b64(unscaled, nbytes):
        return base64.b64encode(
            unscaled.to_bytes(nbytes, "big", signed=True)
        ).decode()

    df = spark.createDataFrame(
        [
            (1, b64(192, 2)),
            (2, b64(-15, 1)),
            (3, b64(12345678901234567890123, 10)),
            (4, None),
            (5, "%%% not base64"),
        ],
        "id int, amount string",
    )
    out = {
        r["id"]: r["amount"]
        for r in apply_semantic_conversions(
            df, {"amount": "decimal:2"}
        ).collect()
    }
    from decimal import Decimal

    assert out[1] == Decimal("1.92")
    assert out[2] == Decimal("-0.15")
    assert out[3] == Decimal("123456789012345678901.23")
    assert out[4] is None and out[5] is None
    # scale rides the kind tag
    one = spark.createDataFrame([(b64(-15, 1),)], "v string")
    assert one.select(
        _decode_precise_decimal("v", 1).alias("d")
    ).collect()[0]["d"] == Decimal("-1.5")


def test_verify_shards_fails_closed_on_missing_shard(spark, tmp_path):
    import shutil

    from data_engineering_spark.operators.shards import (
        verify_shards,
        write_sharded_dataset,
    )

    df = spark.range(20).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), "id").alias("t")
    )
    path = str(tmp_path / "ds")
    write_sharded_dataset(df, path, ["doc_id"], shard_size=5)
    ok_all = verify_shards(spark, path, ["doc_id"])
    assert [r["ok"] for r in ok_all.collect()] == [True] * 4
    shutil.rmtree(f"{path}/shard=3")
    after = {r["shard"]: r["ok"] for r in verify_shards(spark, path, ["doc_id"]).collect()}
    assert after[3] is False  # NOT NULL: the verifier must fail CLOSED


def test_align_batch_typed_backfill_writes_parquet(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_engineering_spark.cdc.schema_evolution import align_batch

    batch = spark.createDataFrame([(1, "x")], "id long, a string")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("a", StringType()),
            StructField("gone", LongType()),
        ]
    )
    aligned = align_batch(batch, ["id", "a", "gone"], table_schema=schema)
    assert dict(aligned.dtypes)["gone"] == "bigint"
    aligned.write.parquet(str(tmp_path / "t"))  # void type would fail


def test_compact_preserves_partition_layout(spark, tmp_path):
    """compact_table flattened hive-partitioned tables: the rewrite
    must keep the key=value directory layout (and with it, pruning)."""
    from data_engineering_spark.operators.maintenance import compact_table

    path = str(tmp_path / "t")
    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("pt"), F.col("id").alias("v")
    )
    # many tiny files per partition to trigger compaction
    df.repartition(40).write.partitionBy("pt").parquet(path)
    assert compact_table(spark, path, target_file_bytes=1 << 20) is True
    assert sorted(
        d for d in os.listdir(path) if d.startswith("pt=")
    ) == ["pt=0", "pt=1", "pt=2"]
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert back.filter(F.col("pt") == "1").count() == 667


def test_backfill_removes_stale_empty_partition(spark, tmp_path):
    """A transform that drops every row of a requested partition must
    not leave the old rows behind (dynamic overwrite only replaces
    partitions present in the output)."""
    from data_engineering_spark.operators.backfill import (
        backfill_partitions,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "pt string, v int"
    )
    df.write.partitionBy("pt").parquet(src)
    df.write.partitionBy("pt").parquet(tgt)

    n = backfill_partitions(
        spark,
        src,
        tgt,
        "pt",
        ["a"],
        transform=lambda d: d.filter(F.col("v") > 100),  # drops ALL of 'a'
    )
    assert n == 0
    left = spark.read.parquet(tgt)
    assert {(r["pt"], r["v"]) for r in left.collect()} == {("b", 3)}


def test_run_checks_fails_closed_on_empty_table(spark):
    from data_engineering_spark.operators.checks import (
        completeness,
        run_checks,
    )

    empty = spark.createDataFrame([], "x string")
    report = run_checks(empty, [completeness("x", 0.9)]).collect()
    assert report[0]["passed"] is False  # NULL verdict would pass gates


def test_zonemap_null_stats_and_partition_columns(spark, tmp_path):
    from data_engineering_spark.operators.zonemap import (
        build_zonemap,
        pruned_read,
    )

    path = str(tmp_path / "t")
    good = spark.createDataFrame(
        [(1, 5, "p1"), (2, 6, "p1")], "id int, v int, pt string"
    )
    nulls = spark.createDataFrame(
        [(3, None, "p2"), (4, None, "p2")], "id int, v int, pt string"
    )
    good.coalesce(1).write.partitionBy("pt").parquet(path)
    nulls.coalesce(1).write.mode("append").partitionBy("pt").parquet(path)
    zm = build_zonemap(spark, path, ["v"])
    out, kept, total = pruned_read(spark, path, zm, ranges={"v": (5, 6)})
    rows = out.collect()
    # the all-NULL file pruned without a TypeError, and the hive
    # partition column survived the leaf-file read
    assert kept == 1 and total == 2
    assert {(r["id"], r["pt"]) for r in rows} == {(1, "p1"), (2, "p1")}


def test_weighted_quantile_rejects_degenerate_q(spark):
    import pytest

    from data_engineering_spark.operators.profile import weighted_quantile

    df = spark.createDataFrame([("g", 1, 1)], "g string, v int, w int")
    with pytest.raises(ValueError, match="q must be"):
        weighted_quantile(df, "v", "w", ["g"], q=0.0)
    with pytest.raises(ValueError, match="q must be"):
        weighted_quantile(df, "v", "w", ["g"], q=1.5)


def test_parquet_robust_keeps_partition_columns(spark, tmp_path):
    from data_engineering_spark.sources.formats import read_parquet_robust

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "pt string, v int"
    ).write.partitionBy("pt").parquet(path)
    df, bad = read_parquet_robust(spark, path)
    assert bad == []
    assert {(r["pt"], r["v"]) for r in df.collect()} == {("a", 1), ("b", 2)}


def test_regression_and_pca_tolerate_null_rows(spark):
    from data_engineering_spark.operators.pca import linear_regression_fit

    clean = spark.createDataFrame(
        [(1.0, 3.0), (2.0, 5.0), (3.0, 7.0)], "x double, y double"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(None, 9.0), (4.0, None)], "x double, y double")
    )
    a = linear_regression_fit(clean, ["x"], "y")
    b = linear_regression_fit(dirty, ["x"], "y")
    import numpy as np

    assert np.allclose(a.coefficients, b.coefficients)
    assert not np.isnan(b.coefficients).any()


def test_align_to_columns_typed_backfill(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_engineering_spark.types.casts import align_to_columns

    df = spark.createDataFrame([(1,)], "id long")
    schema = StructType(
        [StructField("id", LongType()), StructField("gone", StringType())]
    )
    out = align_to_columns(df, ["id", "gone"], schema=schema)
    assert dict(out.dtypes)["gone"] == "string"
    out.write.parquet(str(tmp_path / "t"))  # void would fail here


def test_mysql_unsigned_widens():
    from data_engineering_spark.types.mappings import mysql_type_to_spark

    assert mysql_type_to_spark("int unsigned") == "bigint"
    assert mysql_type_to_spark("INT(10) UNSIGNED") == "bigint"
    assert mysql_type_to_spark("bigint unsigned") == "decimal(20,0)"
    assert mysql_type_to_spark("tinyint unsigned") == "int"
    assert mysql_type_to_spark("int") == "int"
    assert mysql_type_to_spark("decimal(20,2) unsigned") == "decimal(38,2)"


def test_eager_checkpoint_preserves_caller_cache(spark):
    from data_engineering_spark.operators.materialize import eager_checkpoint
    from pyspark import StorageLevel

    df = spark.range(100).persist()
    df.count()
    out = eager_checkpoint(df)
    assert out.count() == 100
    # the caller's persist must survive the helper
    assert df.storageLevel != StorageLevel.NONE
    df.unpersist()

def test_eager_checkpoint_single_fused_action(spark):
    """The r11 fusion contract: eager_checkpoint runs ONE job (the
    count materializes the lazy checkpoint — no separate checkpoint
    job), truncates lineage to an RDD scan, and releases its temp
    cache. A regression back to count-then-eager-checkpoint doubles
    the job count for this shuffle-free frame."""
    from pyspark import StorageLevel

    from data_engineering_spark.operators.materialize import (
        eager_checkpoint,
    )

    sc = spark.sparkContext

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            return fn(), len(
                sc.statusTracker().getJobIdsForGroup(group)
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    df = spark.range(1_000).selectExpr("id", "id * 2 AS v")
    out, n_fused = jobs_in("eager-ckpt-fused", lambda: eager_checkpoint(df))

    # the pre-fusion shape for comparison: count to materialize the
    # cache, THEN a separate eager checkpoint job
    def old_shape():
        df2 = spark.range(1_000).selectExpr("id", "id * 2 AS v")
        cached = df2.persist()
        cached.count()
        o = cached.localCheckpoint(eager=True)
        cached.unpersist(blocking=False)
        return o

    _, n_old = jobs_in("eager-ckpt-old", old_shape)
    # the fusion must save the standalone checkpoint job (AQE may add
    # stage jobs to BOTH shapes equally; the relative claim is stable)
    assert n_fused < n_old, f"fused {n_fused} jobs vs old {n_old}"
    # lineage truncated: the returned plan is an RDD scan, not the query
    assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()
    # the helper's temporary persist is released
    assert df.storageLevel == StorageLevel.NONE
    assert out.count() == 1_000
