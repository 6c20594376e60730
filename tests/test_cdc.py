"""Golden CDC tests (SURVEY.md §5): envelope → dedup → schema → merge,
asserting final table state for every scenario FIXTURES.md A3 requires."""

from __future__ import annotations

import pytest

from data_engineering_spark.cdc.envelope import (
    infer_from_envelope_schema,
    stamp_multitenant,
)
from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig

from tests.cdc_fixtures import SALES_FIELDS, envelope, envelope_frame, sale


@pytest.fixture()
def engine(spark, tmp_path):
    return CdcEngine(spark, LakeConfig(root=str(tmp_path / "lake")))


def state(engine, table="sales"):
    df = engine.tables[table].read()
    return {
        r["sale_id"]: r
        for r in df.collect()
    }


def test_insert_update_delete_lifecycle(spark, engine):
    # insert two keys
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 1, 10, 9.99, op="c", ts_ms=1000),
        sale(spark, 2, 20, 19.99, op="c", ts_ms=1001),
    ]))
    s = state(engine)
    assert set(s) == {1, 2} and s[1]["item_id"] == 10

    # update key 1, delete key 2
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 1, 11, 10.99, op="u", ts_ms=2000),
        sale(spark, 2, 20, 19.99, op="d", ts_ms=2001),
    ]))
    s = state(engine)
    assert set(s) == {1} and s[1]["item_id"] == 11 and s[1]["__op"] == "u"


def test_last_write_wins_within_batch(spark, engine):
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 7, 1, 1.0, op="c", ts_ms=1000),
        sale(spark, 7, 2, 2.0, op="u", ts_ms=3000),
        sale(spark, 7, 3, 3.0, op="u", ts_ms=2000),  # out of order
    ]))
    s = state(engine)
    assert s[7]["item_id"] == 2  # max __ts_ms wins, not last row


def test_replay_idempotent(spark, engine):
    batch = envelope_frame(spark, [
        sale(spark, 1, 10, 9.99, op="c", ts_ms=1000),
        sale(spark, 2, 20, 19.99, op="c", ts_ms=1001),
    ])
    engine.process_batch(batch)
    first = state(engine)
    engine.process_batch(batch)  # replay (checkpoint loss simulation)
    assert {k: (v["item_id"], v["price"]) for k, v in state(engine).items()} == {
        k: (v["item_id"], v["price"]) for k, v in first.items()
    }


def test_late_event_overwrites_by_default(spark, engine):
    """Reference parity (SURVEY §2.9): cross-batch MERGE has no ts
    guard, so an older event arriving later still overwrites."""
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 1, 99, 9.0, op="u", ts_ms=5000),
    ]))
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 1, 11, 1.0, op="u", ts_ms=1000),  # older!
    ]))
    assert state(engine)[1]["item_id"] == 11


def test_ts_guard_keeps_newer(spark, tmp_path):
    eng = CdcEngine(spark, LakeConfig(root=str(tmp_path / "l2"), ts_guard=True))
    eng.process_batch(envelope_frame(spark, [
        sale(spark, 1, 99, 9.0, op="u", ts_ms=5000),
    ]))
    eng.process_batch(envelope_frame(spark, [
        sale(spark, 1, 11, 1.0, op="u", ts_ms=1000),
    ]))
    assert state(eng)[1]["item_id"] == 99  # newer stored row survives


def test_new_column_evolution(spark, engine):
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 1, 10, 9.99, op="c", ts_ms=1000),
    ]))
    wide_fields = SALES_FIELDS + [
        {"field": "discount", "type": "float64", "optional": True}
    ]
    engine.process_batch(envelope_frame(spark, [
        envelope(
            {"sale_id": 2},
            {"sale_id": 2, "item_id": 20, "price": 5.0, "discount": 0.1},
            op="c",
            ts_ms=2000,
            fields=wide_fields,
        ),
    ]))
    s = state(engine)
    assert s[2]["discount"] == pytest.approx(0.1)
    assert s[1]["discount"] is None  # back-filled NULL for old rows


def test_missing_column_backfill(spark, engine):
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 1, 10, 9.99, op="c", ts_ms=1000),
    ]))
    narrow = [f for f in SALES_FIELDS if f["field"] != "item_id"]
    engine.process_batch(envelope_frame(spark, [
        envelope(
            {"sale_id": 3},
            {"sale_id": 3, "price": 2.0},
            op="c",
            ts_ms=2000,
            fields=narrow,
        ),
    ]))
    s = state(engine)
    assert s[3]["item_id"] is None and s[1]["item_id"] == 10


def test_tenant_isolation(spark, engine):
    """Same key from two tenants/rds ids must not collide — merge keys
    include __rds_id/__tenant_id (reference :260-270)."""
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 5, 1, 1.0, op="c", ts_ms=1000, db="oms1", rds_id=1),
        sale(spark, 5, 2, 2.0, op="c", ts_ms=1000, db="oms2", rds_id=1),
    ]))
    rows = engine.tables["sales"].read().collect()
    assert len(rows) == 2
    by_tenant = {r["__tenant_id"]: r["item_id"] for r in rows}
    assert by_tenant == {1: 1, 2: 2}

    # delete in tenant 2 must not touch tenant 1
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 5, 2, 2.0, op="d", ts_ms=2000, db="oms2", rds_id=1),
    ]))
    rows = engine.tables["sales"].read().collect()
    assert len(rows) == 1 and rows[0]["__tenant_id"] == 1


def test_keyless_table_appends(spark, engine):
    rows = [
        envelope({}, {"sale_id": i, "item_id": i, "price": 1.0},
                 op="c", ts_ms=1000 + i)
        for i in range(3)
    ]
    engine.process_batch(envelope_frame(spark, rows))
    engine.process_batch(envelope_frame(spark, rows))  # append again
    assert engine.tables["sales"].read().count() == 6


def test_multi_table_dispatch(spark, engine):
    """The reference routes a whole batch to the first table seen
    (:396) — ours must dispatch per table."""
    engine.process_batch(envelope_frame(spark, [
        sale(spark, 1, 10, 1.0, op="c", ts_ms=1000, table="sales"),
        envelope({"order_id": 1}, {"order_id": 1, "units": 5, "price": 9.0},
                 op="c", ts_ms=1000, table="orders",
                 fields=[
                     {"field": "order_id", "type": "int64", "optional": False},
                     {"field": "units", "type": "int32", "optional": True},
                     {"field": "price", "type": "float32", "optional": True},
                 ]),
    ]))
    assert set(engine.tables) == {"sales", "orders"}
    assert engine.tables["orders"].read().collect()[0]["units"] == 5


def test_monthly_partitioning_from_created_column(spark, tmp_path):
    """A non-nullable Debezium-timestamp 'create*' column triggers
    MONTHS partitioning on disk (reference :212-213 → :145); events in
    different months land in different partition directories and a later
    batch rewrites only its month."""
    import glob
    import os

    from data_engineering_spark.operators.merge import live_dirs

    eng = CdcEngine(spark, LakeConfig(root=str(tmp_path / "lake")))
    fields = SALES_FIELDS + [
        {
            "field": "created_at",
            "type": "int64",
            "optional": False,
            "name": "io.debezium.time.Timestamp",
        }
    ]
    jan = 1704067200000   # 2024-01-01
    mar = 1709251200000   # 2024-03-01
    eng.process_batch(envelope_frame(spark, [
        envelope({"sale_id": 1},
                 {"sale_id": 1, "item_id": 1, "price": 1.0, "created_at": jan},
                 op="c", ts_ms=1000, fields=fields),
        envelope({"sale_id": 2},
                 {"sale_id": 2, "item_id": 2, "price": 2.0, "created_at": mar},
                 op="c", ts_ms=1000, fields=fields),
    ]))
    path = eng.tables["sales"].path

    def live_parts():
        # partition dir -> its live version dir
        return {
            os.path.basename(os.path.dirname(d)): d for d in live_dirs(path)
        }

    assert sorted(live_parts()) == ["__part=2024-01", "__part=2024-03"]

    mar_dir = live_parts()["__part=2024-03"]
    mar_files = set(glob.glob(os.path.join(mar_dir, "*")))
    eng.process_batch(envelope_frame(spark, [
        envelope({"sale_id": 1},
                 {"sale_id": 1, "item_id": 9, "price": 1.5, "created_at": jan},
                 op="u", ts_ms=2000, fields=fields),
    ]))
    assert live_parts()["__part=2024-03"] == mar_dir
    assert set(glob.glob(os.path.join(mar_dir, "*"))) == mar_files
    s = state(eng)
    assert s[1]["item_id"] == 9
    import datetime as dt
    assert s[1]["created_at"] == dt.datetime(2024, 1, 1)


def test_multitenant_stamp_and_schema_inference(spark):
    frame = envelope_frame(spark, [sale(spark, 1, 1, 1.0, db="oms7", rds_id=3)])
    stamped = stamp_multitenant(frame)
    r = stamped.collect()[0]
    assert r["__tenant_id"] == 7 and r["__rds_id"] == 3

    inferred = infer_from_envelope_schema(
        {"fields": SALES_FIELDS}, {"sale_id": 1}
    )
    assert inferred.key_columns == ["sale_id"]
    by_name = {f.name: f for f in inferred.struct.fields}
    assert by_name["sale_id"].nullable is False
    assert by_name["item_id"].dataType.simpleString() == "int"
    assert by_name["price"].dataType.simpleString() == "float"


def test_malformed_envelope_quarantined(spark, tmp_path):
    """A payload that fails JSON parsing must not poison the keyed
    merge with a NULL-key row: it lands in _quarantine/{table} and the
    well-formed rows flow through."""
    import os

    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig

    schema_part = (
        '{"type":"struct","fields":['
        '{"field":"id","type":"int64","optional":false},'
        '{"field":"v","type":"string","optional":true}]}'
    )
    def env(key, payload):
        return (
            key,
            '{"schema": ' + schema_part + ', "payload": ' + payload + "}",
            "t.oms1.s", "s", "c", 100, "oms1",
        )
    rows = [
        env('{"id": 1}', '{"id":1,"v":"a"}'),
        ('{"id": 2}', "NOT VALID JSON", "t.oms1.s", "s", "c", 200, "oms1"),
        env('{"id": 3}', '{"id":3,"v":"c"}'),
    ]
    df = spark.createDataFrame(
        rows,
        "key string, value string, __topic string, __table string,"
        " __op string, __ts_ms long, __db string",
    )
    root = str(tmp_path / "lake")
    eng = CdcEngine(spark, LakeConfig(root=root))
    eng.process_batch(df)

    table = eng.tables["s"].read()
    assert {r["id"] for r in table.collect()} == {1, 3}
    assert table.filter(table.id.isNull()).count() == 0
    quarantined = spark.read.parquet(os.path.join(root, "_quarantine", "s"))
    assert quarantined.count() == 1
    assert quarantined.collect()[0]["__ts_ms"] == 200


def test_quarantine_off_reference_parity(spark, tmp_path):
    """quarantine=False preserves the reference's behavior: the
    malformed row's NULL key enters the table."""
    import os

    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig

    schema_part = (
        '{"type":"struct","fields":['
        '{"field":"id","type":"int64","optional":false},'
        '{"field":"v","type":"string","optional":true}]}'
    )
    rows = [
        ('{"id": 1}',
         '{"schema": ' + schema_part + ', "payload": {"id":1,"v":"a"}}',
         "t.oms1.s", "s", "c", 100, "oms1"),
        ('{"id": 2}', "NOT VALID JSON", "t.oms1.s", "s", "c", 200, "oms1"),
    ]
    df = spark.createDataFrame(
        rows,
        "key string, value string, __topic string, __table string,"
        " __op string, __ts_ms long, __db string",
    )
    root = str(tmp_path / "lake_p")
    eng = CdcEngine(spark, LakeConfig(root=root, quarantine=False))
    eng.process_batch(df)
    table = eng.tables["s"].read()
    assert table.count() == 2
    assert table.filter(table.id.isNull()).count() == 1
    assert not os.path.exists(os.path.join(root, "_quarantine"))


def _simple_envelope_batch(spark, ids, malformed=False):
    schema_part = (
        '{"type":"struct","fields":['
        '{"field":"id","type":"int64","optional":false},'
        '{"field":"v","type":"string","optional":true}]}'
    )
    rows = [
        (
            '{"id": %d}' % i,
            '{"schema": ' + schema_part
            + ', "payload": {"id":%d,"v":"x"}}' % i,
            "t.oms1.s", "s", "c", 100 + i, "oms1",
        )
        for i in ids
    ]
    if malformed:
        rows.append(
            ('{"id": 99}', "NOT VALID JSON", "t.oms1.s", "s", "c", 999, "oms1")
        )
    return spark.createDataFrame(
        rows,
        "key string, value string, __topic string, __table string,"
        " __op string, __ts_ms long, __db string",
    )


def test_clean_batch_creates_no_quarantine_dir(spark, tmp_path):
    """quarantine=True on a clean batch must leave no _quarantine dir:
    the bad-row count rides the merge's own actions (observe), so the
    clean path — the common case — runs zero extra jobs and writes
    nothing."""
    import os

    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig

    root = str(tmp_path / "lake_clean")
    eng = CdcEngine(spark, LakeConfig(root=root))
    eng.process_batch(_simple_envelope_batch(spark, [1, 2, 3]))
    assert eng.tables["s"].read().count() == 3
    assert not os.path.exists(os.path.join(root, "_quarantine"))
    # a later batch that IS malformed still quarantines through the
    # same observed plan (merge happens first, quarantine write after)
    eng.process_batch(_simple_envelope_batch(spark, [4], malformed=True))
    q = spark.read.parquet(os.path.join(root, "_quarantine", "s"))
    assert q.count() == 1 and q.collect()[0]["__ts_ms"] == 999
    assert eng.tables["s"].read().count() == 4


def test_merge_retried_on_transient_failure(spark, tmp_path):
    """The keyed MERGE runs inside the reference's optimistic-commit
    retry loop (incremental_kafka_s3_cdc.py:281-292): a transient
    failure in the merge backend recovers without failing the batch."""
    import os

    from data_engineering_spark.cdc.pipeline import CdcEngine, LakeConfig
    from data_engineering_spark.operators.merge import MergeTable

    calls = {"n": 0}

    class Flaky(MergeTable):
        def merge(self, *a, **k):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("transient commit conflict")
            return super().merge(*a, **k)

    root = str(tmp_path / "lake_retry")
    eng = CdcEngine(spark, LakeConfig(root=root, merge_retry_sleep_s=0.0))
    eng.tables["s"] = Flaky(
        spark,
        os.path.join(root, "s"),
        ["__rds_id", "__tenant_id", "id"],
        partition_by="__rds_id",
    )
    eng.process_batch(_simple_envelope_batch(spark, [1, 2]))
    assert calls["n"] == 2  # failed once, retried, succeeded
    table = eng.tables["s"].read()
    assert {r["id"] for r in table.collect()} == {1, 2}


def test_driver_jobs_per_batch_bounded(spark, engine):
    """Per-batch driver-action budget guard: at 40 concurrent streams the
    driver serializes job submission, so each micro-batch must stay lean.
    Round-4 cuts (fold isEmpty into the distinct-tables collect, skip the
    moved-keys target scan for identity-key partitions, ride the surviving
    -partitions set on the overwrite via observe) took an update batch
    from 21 jobs to 14 on local[32]. Bound at 16 to leave AQE headroom
    while still catching a regression to the old shape."""
    engine.process_batch(envelope_frame(spark, [
        sale(spark, i, i, 1.0, op="c", ts_ms=1000) for i in range(5)
    ]))
    sc = spark.sparkContext
    sc.setJobGroup("cdc_job_budget", "jobs-per-batch guard")
    try:
        engine.process_batch(envelope_frame(spark, [
            sale(spark, 1, 99, 2.0, op="u", ts_ms=2000),
            sale(spark, 2, 98, 2.0, op="d", ts_ms=2001),
        ]))
        jobs = len(sc.statusTracker().getJobIdsForGroup("cdc_job_budget"))
    finally:
        sc.setJobGroup(None, None)
    assert jobs <= 16, f"CDC micro-batch submitted {jobs} driver jobs"
