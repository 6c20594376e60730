"""The two spark-submit entry points (CDC ingest, JDBC snapshot) run
end-to-end in this container's Kafka-less/MySQL-less modes."""

from __future__ import annotations

import os

from data_engineering_spark.snapshot.jdbc_snapshot import (
    JdbcConfig,
    snapshot_table,
    snapshotted_tables,
)

URL = "jdbc:derby:memory:clidb"
DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def test_cdc_main_file_mode(spark, tmp_path, monkeypatch):
    """python -m data_engineering_spark.cdc --envelope-dir ... --once
    drains an envelope directory into the lake."""
    from data_engineering_spark.cdc.__main__ import main
    from data_engineering_spark.session import get_session as real_get

    # main() builds its own session; reuse the test one
    import data_engineering_spark.cdc.__main__ as cli

    monkeypatch.setattr(cli, "get_session", lambda app_name: spark)

    schema_part = (
        '{"type":"struct","fields":['
        '{"field":"id","type":"int64","optional":false},'
        '{"field":"v","type":"string","optional":true}]}'
    )
    rows = [
        (
            '{"id": %d}' % i,
            '{"schema": ' + schema_part + ', "payload": '
            + '{"id":%d,"v":"x%d"}' % (i, i) + "}",
            "t.oms1.s", "s", "c", 100 + i, "oms1",
        )
        for i in range(5)
    ]
    env_dir = tmp_path / "envelopes"
    spark.createDataFrame(
        rows,
        "key string, value string, __topic string, __table string,"
        " __op string, __ts_ms long, __db string",
    ).coalesce(1).write.parquet(str(env_dir))

    lake = tmp_path / "lake"
    main([
        "--lake-root", str(lake),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--envelope-dir", str(env_dir),
        "--once",
    ])
    out = spark.read.parquet(str(lake / "s"))
    assert out.count() == 5
    assert {r["id"] for r in out.collect()} == set(range(5))
    _ = real_get


def test_snapshot_table_derby_end_to_end(spark, tmp_path):
    """snapshot_table with an explicit key runs the full probe → scan →
    stamp → append → audit flow against a live (Derby) source."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"{URL};create=true")
    st = conn.createStatement()
    st.execute(
        "CREATE TABLE items (item_id BIGINT PRIMARY KEY, name VARCHAR(20))"
    )
    for i in range(1, 41):
        st.execute(f"INSERT INTO items VALUES ({i}, 'n{i}')")
    conn.commit()

    cfg = JdbcConfig(
        url=URL, user="", password="", driver=DRIVER, ident_quote=""
    )
    lake = str(tmp_path / "snap_lake")
    n = snapshot_table(
        spark, cfg, "APP", "items", lake,
        rds_id=7, tenant_id=3, num_partitions=4, key="item_id",
    )
    assert n == 40
    out = spark.read.parquet(os.path.join(lake, "APP", "items"))
    assert out.count() == 40
    row = out.filter(out.item_id == 1).collect()[0]
    assert row["__op"] == "r" and row["__rds_id"] == 7
    assert row["__tenant_id"] == 3
    # audit log recorded -> discovery would skip this table next run
    assert "APP.items" in snapshotted_tables(spark, lake, 7)
    st.execute("DROP TABLE items")
    conn.commit()


def test_snapshot_table_job_budget(spark, tmp_path):
    """A keyed snapshot is three driver jobs: the bounds probe, the
    append (which counts the rows it writes) and the audit row. A
    persist-and-count pre-pass or a Python-parallelized audit row would
    show up here as extra jobs."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"{URL};create=true")
    st = conn.createStatement()
    st.execute("CREATE TABLE budget (item_id BIGINT PRIMARY KEY, v INT)")
    for i in range(1, 61):
        st.execute(f"INSERT INTO budget VALUES ({i}, {i % 7})")
    conn.commit()
    cfg = JdbcConfig(
        url=URL, user="", password="", driver=DRIVER, ident_quote=""
    )
    lake = str(tmp_path / "budget_lake")
    sc = spark.sparkContext
    sc.setJobGroup("snapshot_job_budget", "jobs-per-snapshot guard")
    try:
        n = snapshot_table(
            spark, cfg, "APP", "budget", lake,
            rds_id=7, tenant_id=3, num_partitions=4, key="item_id",
        )
        jobs = len(
            sc.statusTracker().getJobIdsForGroup("snapshot_job_budget")
        )
    finally:
        sc.setJobGroup(None, None)
        st.execute("DROP TABLE budget")
        conn.commit()
    assert jobs <= 3, f"snapshot_table submitted {jobs} driver jobs"
    assert n == 60
    assert spark.read.parquet(os.path.join(lake, "APP", "budget")).count() == n


def test_admin_cli_subcommands(spark, tmp_path, capsys):
    """python -m data_engineering_spark.admin: stats and inventory run
    against a real table; offsets against a real checkpoint."""
    from data_engineering_spark.admin.__main__ import build_parser, run

    tbl = tmp_path / "lake" / "t1"
    spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, v double"
    ).write.parquet(str(tbl))

    rc = run(
        build_parser().parse_args(
            ["stats", "--table", str(tbl), "--cols", "id"]
        ),
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0 and "n_rows\t50" in out
    assert "min_id\t0" in out and "max_id\t49" in out

    rc = run(
        build_parser().parse_args(
            ["inventory", "--lake-root", str(tmp_path / "lake")]
        ),
        spark=spark,
    )
    assert rc == 0 and "t1" in capsys.readouterr().out

    src = tmp_path / "cli_in"
    src.mkdir()
    spark.createDataFrame([(1,)], "x long").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    ckpt = tmp_path / "cli_ckpt"
    q = (
        spark.readStream.schema("x long")
        .parquet(str(src))
        .writeStream.format("noop")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rc = run(
        build_parser().parse_args(["offsets", "--checkpoint", str(ckpt)]),
        spark=spark,
    )
    assert rc == 0 and "true" in capsys.readouterr().out
