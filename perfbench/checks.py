"""Output checks, run outside the timed region.

Queries are hash-compared against their DuckDB oracles on the run's own
input files, with the normalisation of ``tools/drive_contract_lib``
(the repo's contract harness). The CDC lake is compared against a
DuckDB replay of the landing files: last write wins per key, later
micro-batch first, then ``__ts_ms``.
"""

from __future__ import annotations

import os

import duckdb


def oracle_connection(data_dir: str, tmp_dir: str):
    from data_engineering_spark.catalog import TPCH_TABLES, table_path

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TPCH_TABLES:
        path = table_path(data_dir, t)
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _envelope_view(con, files: list[str]) -> None:
    listing = ", ".join(f"'{f}'" for f in files)
    con.execute(
        "CREATE OR REPLACE VIEW env AS SELECT *, "
        "regexp_extract(filename, 'batch-(\\d+)', 1)::INT AS batch "
        f"FROM read_parquet([{listing}], filename=true)"
    )


def cdc_expected(con, files: list[str], table: str, key: str,
                 columns: dict[str, str]):
    """Expected live rows of keyed ``table``: per (tenant, key) the last
    envelope by (batch, __ts_ms), dropped when it is a delete. Envelopes
    with a NULL payload key are quarantined, not merged. ``columns``
    maps payload fields to DuckDB types; a TIMESTAMP field is Debezium
    epoch milliseconds."""
    _envelope_view(con, files)

    def field(c, t):
        v = f"json_extract_string(value, '$.payload.{c}')"
        return f"epoch_ms({v}::BIGINT)" if t == "TIMESTAMP" else f"{v}::{t}"

    cols = ", ".join(f"{field(c, t)} AS {c}" for c, t in columns.items())
    return con.execute(f"""
        WITH e AS (
            SELECT __db, __op, batch, __ts_ms,
                   json_extract_string(value, '$.payload.{key}') AS k, {cols}
            FROM env WHERE __table = '{table}'
        ), live AS (
            SELECT * FROM e WHERE k IS NOT NULL
            QUALIFY row_number() OVER (
                PARTITION BY __db, k ORDER BY batch DESC, __ts_ms DESC) = 1
        )
        SELECT regexp_extract(__db, '(\\d+)', 1)::INT AS __tenant_id,
               {", ".join(columns)}
        FROM live WHERE __op <> 'd'
    """).fetchdf()


def cdc_appends(con, files: list[str], table: str) -> int:
    _envelope_view(con, files)
    return con.execute(
        f"SELECT count(*) FROM env WHERE __table = '{table}' "
        "AND __op <> 'd'").fetchone()[0]


def cdc_quarantined(con, files: list[str], table: str, key: str) -> int:
    _envelope_view(con, files)
    return con.execute(
        f"SELECT count(*) FROM env WHERE __table = '{table}' AND "
        f"json_extract_string(value, '$.payload.{key}') IS NULL"
    ).fetchone()[0]


def frames_match(got, want) -> tuple[bool, str]:
    from tools.drive_contract_lib import h, normalize

    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    if h(got) != h(want):
        return False, "value hash differs"
    return True, ""
