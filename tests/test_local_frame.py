"""``types.frames.local_frame``: driver-built frames reach the JVM as
Arrow and plan as a ``LocalRelation`` — the same rows and schema as
``createDataFrame`` of a Python list, with no Python worker and no job
to collect them. And no other module of the package calls
``createDataFrame`` directly."""

from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib
import time

import pytest
from pyspark.sql import functions as F

from data_engineering_spark.types.frames import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "data_engineering_spark"

CASES = {
    "scalars": (
        "i int, l long, d double, s string, b boolean",
        [
            (1, 2**40, 1.5, "x", True),
            (-3, -(2**62), float("-inf"), "", False),
            (None, None, None, None, None),
        ],
    ),
    "array_double": (
        "id int, v array<double>",
        [(0, [1.0, -2.5]), (1, []), (2, None), (3, [0.0, None])],
    ),
    "zero_rows": ("a int, b string, v array<double>", []),
    "timestamp": (
        "t timestamp, n timestamp_ntz",
        [
            # 02:30 on a US spring-forward day: no such New York wall time
            (dt.datetime(2024, 3, 10, 2, 30), dt.datetime(2024, 3, 10, 2, 30)),
            (dt.datetime(2024, 7, 1, 12, 0, 0, 123456), dt.datetime(1999, 12, 31)),
            (
                dt.datetime(2024, 1, 1, 9, tzinfo=dt.timezone.utc),
                dt.datetime(2024, 1, 1, 9),
            ),
            (None, None),
        ],
    ),
    "zero_rows_timestamp": ("k long, t timestamp, d date, x decimal(12,2)", []),
}


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


@pytest.fixture
def new_york(spark):
    """Session and driver-local zone both America/New_York, so a
    timestamp that passed through the wrong zone shows."""
    conf_tz = spark.conf.get("spark.sql.session.timeZone")
    env_tz = os.environ.get("TZ")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", conf_tz)
        if env_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = env_tz
        time.tzset()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, new_york, case):
    ddl, rows = CASES[case]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    collected, jobs = _jobs(spark, f"local_frame_{case}", got.collect)
    assert jobs == 0, f"collecting a local frame ran {jobs} jobs"
    assert repr(collected) == repr(want.collect())
    # same instants, not only the same rendering in one zone
    ts = [f.name for f in want.schema.fields if f.dataType.typeName() == "timestamp"]
    if ts:
        micros = [F.unix_micros(c).alias(c) for c in ts]
        assert got.select(*micros).collect() == want.select(*micros).collect()


def test_local_frame_accepts_struct_type_and_rows(spark):
    src = spark.createDataFrame([(1, "a"), (2, None)], "k long, v string")
    got = local_frame(spark, src.collect(), src.schema)
    assert got.schema == src.schema
    assert sorted(got.collect()) == sorted(src.collect())


def _create_dataframe_calls(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_no_create_dataframe_outside_local_frame():
    """Driver-built frames never start a Python worker: every one goes
    through local_frame, the package's only createDataFrame call."""
    helper = PACKAGE / "types" / "frames.py"
    assert _create_dataframe_calls(helper), "guard no longer sees the helper"
    offenders = [
        f"{p.relative_to(PACKAGE)}:{line}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != helper
        for line in _create_dataframe_calls(p)
    ]
    assert not offenders, f"createDataFrame outside local_frame: {offenders}"
