"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow (no Spark), so input generation is
timed on its own and never counted in ``setup_s``. The same seed gives
byte-identical files.

- ``write_tables``: the engine's TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, with the column names, types and
  value domains of the repo's test tables (one ``<table>.parquet``
  file each, the ``catalog.load_table`` layout).
- ``write_shard``: a document shard for the LLM workload. It keeps the
  base corpus's duplicate structure but permutes ids and row order, so
  a shard is new data to the session that reads it.
- ``CdcStream``: Debezium envelopes for the CDC workload, written as
  one landing parquet file per micro-batch, plus the source history
  the JDBC snapshot reads.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64
SQL_SF = 0.01  # scale factor of the sql_analytics tables
DOCS_PER_SF = 50_000  # documents at sf 1


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_table(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def documents_table(rng, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary, 10-100 words each; 5% are
    near-duplicates (another document's text plus " dup") and 0.2% are
    exact copies, the duplicate structure the dedup operators find."""
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    flat = words[rng.integers(0, len(words), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(flat, cuts)]
    near = rng.choice(n, n // 20, replace=False)
    exact = rng.choice(n, max(1, n // 500), replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{i % 20}" for i in range(n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """All ten tables at scale factor ``SQL_SF`` (sf 1 = 6M line items).
    Returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    sf = SQL_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_doc, n_vec = int(DOCS_PER_SF * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": pa.array(
                    ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s
                ),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": pa.array(
                    [f"Customer#{i:09d}" for i in range(n_cust)], s
                ),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
                "c_mktsegment": pa.array(
                    rng.choice(
                        ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                         "FURNITURE"],
                        n_cust,
                    ),
                    s,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": pa.array(
                    [f"Supplier#{i:09d}" for i in range(n_supp)], s
                ),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
            }
        ),
    }
    adj = ["red", "blue", "hot", "cold", "new", "small", "large", "green"]
    noun = ["bolt", "ring", "rod", "plate", "gear", "anvil", "nut", "pipe"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(
                [f"{adj[a]} {noun[b]}" for a, b in
                 rng.integers(0, 8, (n_part, 2))],
                s,
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s
            ),
            "p_type": pa.array(
                rng.choice(
                    ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL",
                     "STANDARD"],
                    n_part,
                ),
                s,
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                900.0 + (np.arange(n_part) % 1000) / 10.0, f64
            ),
        }
    )
    day_us = 86_400 * 1_000_000
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], n_ord), s),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
            "o_orderdate": _ts(
                "1995-01-01", rng.integers(0, 2404, n_ord) * day_us
            ),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"],
                    n_ord,
                ),
                s,
            ),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(
                rng.integers(1, 51, n_li).astype(np.float64), f64
            ),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_li), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_li), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
            "l_shipdate": _ts(
                "1995-01-02", rng.integers(0, 2498, n_li) * day_us
            ),
        }
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts(
                "2024-01-01",
                np.sort(rng.integers(0, 30 * day_us, n_ev)),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": pa.array(
                rng.choice(["signup", "purchase", "view", "click", "error"],
                           n_ev),
                s,
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s
            ),
        }
    )
    tables["documents"] = documents_table(rng, n_doc)
    tables["embeddings"] = embeddings_table(rng, n_vec)
    for name, t in tables.items():
        write_table(out_dir, name, t)
    return {name: t.num_rows for name, t in tables.items()}


def write_shard(base_dir: str, out_dir: str, seed: int, shard: int) -> None:
    """A fresh corpus shard: ``documents`` of ``base_dir`` with
    ``doc_id`` permuted within its range and the rows shuffled. The
    texts are unchanged, so the duplicate structure (and every query's
    work) is the base corpus's; only the ids and the files are new."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2, shard])
    t = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    n = t.num_rows
    t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id",
                     pa.array(rng.permutation(n), pa.int64()))
    write_table(out_dir, "documents", t.take(pa.array(rng.permutation(n))))


# ---------------------------------------------------------------------------
# CDC
#
# Where the stream's shape comes from. The reference's data generator
# (python_produce_data.py, recorded in FIXTURES.md A1 and SURVEY.md)
# fills one ``sales(sale_id bigint PK, item_id int, price float(5,2))``
# table in each of two tenant databases, ``oms1`` and ``oms2``, drawing
# ``sale_id`` from 1..200000 and ``item_id`` from 1..100, and has an
# upsert template for a drawn key that already exists (:180-189). The
# batch and table sizes are the measured point the benchmark is sized
# from: a 10k-event micro-batch over a 100k-row table. Values marked
# "assumption" have no source.
# ---------------------------------------------------------------------------

TENANTS = ("oms1", "oms2")  # python_produce_data.py:44-45
SALE_KEYS = 200_000  # sale_id domain, 1..200000 (python_produce_data.py:78)
ITEM_IDS = 100  # item_id domain, 1..100
SALES_ROWS = 50_000  # per tenant, so the lake's sales table has 100k rows
BATCH_EVENTS = 10_000  # events per change micro-batch
# assumption: sales carries most events, as in the reference generator
# (which writes only sales); the other two tables get enough to run
# their merge paths every batch
TABLE_MIX = {"sales": 0.8, "customers": 0.1, "audit": 0.1}
CUSTOMER_ROWS = 1_000  # per tenant; assumption
ZIPF_A = 1.3  # key skew; assumption
DELETE_SHARE = 0.05  # of events on a live key; assumption
SALES_MONTHS = 6  # spread of created_at, so month partitions; assumption
SCHEMA_CHANGE_BATCH = 2  # sales gains `discount` mid-stream
LATE_PER_BATCH = 8  # assumption ("a few")
MALFORMED_PER_BATCH = 3  # assumption ("a few")

ENVELOPE_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("__topic", pa.string()),
        ("__table", pa.string()),
        ("__op", pa.string()),
        ("__ts_ms", pa.int64()),
        ("__db", pa.string()),
    ]
)
T0_MS = 1_700_000_000_000
MONTH_MS = 30 * 86_400_000

SALES_FIELDS = [
    {"field": "sale_id", "type": "int64", "optional": False},
    {"field": "item_id", "type": "int32", "optional": True},
    {"field": "price", "type": "double", "optional": True},
    {
        "field": "created_at",
        "type": "int64",
        "optional": False,
        "name": "io.debezium.time.Timestamp",
    },
]
SALES_FIELDS_V2 = SALES_FIELDS + [
    {"field": "discount", "type": "double", "optional": True}
]
CUSTOMER_FIELDS = [
    {"field": "customer_id", "type": "int64", "optional": False},
    {"field": "segment", "type": "string", "optional": True},
    {"field": "balance", "type": "double", "optional": True},
]
AUDIT_FIELDS = [
    {"field": "actor", "type": "string", "optional": True},
    {"field": "action", "type": "string", "optional": True},
    {"field": "amount", "type": "double", "optional": True},
]
KEYS = {"sales": "sale_id", "customers": "customer_id"}
SEGMENTS = ["retail", "corp", "gov", "smb"]
_SCHEMA_JSON: dict[int, str] = {}  # id(fields) -> its schema JSON


class CdcStream:
    """A seeded CDC stream over two tenants and three tables.

    Batch 0 is the Debezium initial snapshot (``r`` events): each
    tenant's ``SALES_ROWS`` sales, keys drawn from the reference's
    domain, and its ``CUSTOMER_ROWS`` customers. Later batches draw
    Zipf-skewed keys, so hot keys repeat inside a batch and
    last-write-wins compaction has work; as in the reference's upsert,
    an event on a key that is not live creates it (``c``) and one on a
    live key updates it (``u``) or, ``DELETE_SHARE`` of the time,
    deletes it (``d``). ``audit`` is keyless: every event appends. At
    ``SCHEMA_CHANGE_BATCH`` ``sales`` gains a ``discount`` column. Each
    change batch also carries a few late events (an old ``__ts_ms``)
    and a few malformed envelopes (NULL payload key, bound for
    quarantine).

    ``__ts_ms`` is unique across the stream, so the order inside a batch
    is total and the expected lake state is a plain function of the
    envelopes (``checks.cdc_expected`` replays it in DuckDB).
    """

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = rng = np.random.default_rng([seed, 3])
        self.clock = T0_MS + 400 * MONTH_MS
        self.n_batches = 0
        self.stats = {"events": 0, "payload_bytes": 0, "malformed": 0,
                      "lww_in": 0, "lww_out": 0}
        # each sale's creation time, so its month partition, never changes
        self.created_at = rng.integers(
            0, SALES_MONTHS * MONTH_MS, SALE_KEYS + 1) + T0_MS
        # Zipf rank -> sale_id: the hot keys are spread over the domain
        self.hot_sales = rng.permutation(SALE_KEYS) + 1
        self.live = {
            ("sales", db): set((rng.choice(SALE_KEYS, SALES_ROWS,
                                           replace=False) + 1).tolist())
            for db in TENANTS
        }
        self.live |= {("customers", db): set(range(CUSTOMER_ROWS))
                      for db in TENANTS}

    def _next_ts(self, n: int) -> np.ndarray:
        # even ms for in-order events, odd ms for late ones: unique overall
        ts = self.clock + 2 * np.arange(n)
        self.clock += 2 * n + 2
        return ts

    @staticmethod
    def _envelope(table, db, key, payload, fields, op, ts) -> tuple:
        # json.dumps of {"schema": ..., "payload": ...}, with the schema
        # part, the same for every event of a table version, dumped once
        schema = _SCHEMA_JSON.get(id(fields))
        if schema is None:
            schema = _SCHEMA_JSON[id(fields)] = json.dumps(
                {"type": "struct", "fields": fields})
        value = (
            '{"schema": ' + schema + ', "payload": ' + json.dumps(
                {**payload, "__deleted": "true" if op == "d" else "false"})
            + "}"
        )
        return (
            None if key is None else json.dumps(key),
            value,
            f"source_glaucus1.{db}.{table}",
            table,
            op,
            int(ts),
            db,
        )

    def _sales_payload(self, sid: int, v2: bool) -> dict:
        p = {
            "sale_id": sid,
            "item_id": int(self.rng.integers(1, ITEM_IDS + 1)),
            "price": round(float(self.rng.uniform(1, 500)), 2),
            "created_at": int(self.created_at[sid]),
        }
        if v2:
            p["discount"] = round(float(self.rng.integers(0, 30)) / 100, 2)
        return p

    def _customer_payload(self, cid: int) -> dict:
        return {
            "customer_id": cid,
            "segment": str(self.rng.choice(SEGMENTS)),
            "balance": round(float(self.rng.uniform(-100, 10_000)), 2),
        }

    def _audit_payload(self) -> dict:
        return {
            "actor": f"user{int(self.rng.integers(0, 50))}",
            "action": str(self.rng.choice(["login", "export", "refund"])),
            "amount": round(float(self.rng.uniform(0, 100)), 2),
        }

    def history(self) -> pa.Table:
        """The source ``sales`` rows the JDBC snapshot reads (tenant
        ``oms1``'s table before the stream starts)."""
        rng = np.random.default_rng([self.seed, 4])
        keys = np.array(sorted(self.live[("sales", TENANTS[0])]))
        n = len(keys)
        return pa.table(
            {
                "sale_id": pa.array(keys, pa.int64()),
                "item_id": pa.array(rng.integers(1, ITEM_IDS + 1, n),
                                    pa.int32()),
                "price": pa.array(np.round(rng.uniform(1, 500, n), 2)),
                "created_at": pa.array(
                    self.created_at[keys].astype("datetime64[ms]").astype(
                        "datetime64[us]"
                    ),
                    pa.timestamp("us"),
                ),
            }
        )

    def initial_batch(self) -> list[tuple]:
        """The payloads are drawn a column at a time (the same
        distributions as the change batches' per-event draws)."""
        rng, rows = self.rng, []
        for db in TENANTS:
            sales = sorted(self.live[("sales", db)])
            n = len(sales)
            ts = iter(self._next_ts(n + CUSTOMER_ROWS).tolist())
            items = rng.integers(1, ITEM_IDS + 1, n).tolist()
            prices = np.round(rng.uniform(1, 500, n), 2).tolist()
            created = self.created_at[sales].tolist()
            for sid, item, price, at in zip(sales, items, prices, created):
                payload = {"sale_id": sid, "item_id": item, "price": price,
                           "created_at": at}
                rows.append(self._envelope(
                    "sales", db, {"sale_id": sid}, payload, SALES_FIELDS,
                    "r", next(ts)))
            segments = rng.choice(SEGMENTS, CUSTOMER_ROWS).tolist()
            balances = np.round(
                rng.uniform(-100, 10_000, CUSTOMER_ROWS), 2).tolist()
            for cid in range(CUSTOMER_ROWS):
                payload = {"customer_id": cid, "segment": segments[cid],
                           "balance": balances[cid]}
                rows.append(self._envelope(
                    "customers", db, {"customer_id": cid}, payload,
                    CUSTOMER_FIELDS, "r", next(ts)))
        return rows

    def change_batch(self, b: int) -> list[tuple]:
        v2 = b >= SCHEMA_CHANGE_BATCH
        fields = SALES_FIELDS_V2 if v2 else SALES_FIELDS
        n = BATCH_EVENTS
        rng = self.rng
        tables = rng.choice(list(TABLE_MIX), n, p=list(TABLE_MIX.values()))
        dbs = rng.choice(TENANTS, n)
        # Zipf-skewed keys: rank 1 is the hottest key of each table
        ranks = rng.zipf(ZIPF_A, n) - 1
        deletes = rng.random(n) < DELETE_SHARE
        ts = self._next_ts(n)
        rows = []
        for i in range(n):
            table, db = tables[i], dbs[i]
            if table == "audit":
                rows.append(self._envelope(
                    "audit", db, None, self._audit_payload(), AUDIT_FIELDS,
                    "c", ts[i]))
                continue
            live = self.live[(table, db)]
            if table == "sales":
                key = int(self.hot_sales[ranks[i] % SALE_KEYS])
                payload, f = self._sales_payload(key, v2), fields
            else:
                key = int(ranks[i] % CUSTOMER_ROWS)
                payload, f = self._customer_payload(key), CUSTOMER_FIELDS
            if key not in live:
                op = "c"
                live.add(key)
            elif deletes[i]:
                op = "d"
                live.discard(key)
            else:
                op = "u"
            rows.append(self._envelope(
                table, db, {KEYS[table]: key}, payload, f, op, ts[i]))
        # late events: an old timestamp, arriving now (ts_guard off, so
        # they still win over the stored row, the reference's behaviour)
        late_ts = self.clock - 2 * MONTH_MS + 1 + 2 * np.arange(
            LATE_PER_BATCH)
        for t in late_ts:
            key = int(rng.integers(0, CUSTOMER_ROWS))
            db = str(rng.choice(TENANTS))
            self.live[("customers", db)].add(key)
            rows.append(self._envelope(
                "customers", db, {"customer_id": key},
                self._customer_payload(key), CUSTOMER_FIELDS, "u", t))
        # malformed: a message key but a NULL key in the payload
        for t in self._next_ts(MALFORMED_PER_BATCH):
            sid = -1 - self.stats["malformed"]
            payload = self._sales_payload(1, v2)
            payload["sale_id"] = None
            rows.append(self._envelope(
                "sales", "oms1", {"sale_id": sid}, payload, fields, "u", t))
            self.stats["malformed"] += 1
        return rows

    def write_batch(self, path: str, rows: list[tuple]) -> None:
        # LWW compaction sees the keyed envelopes and keeps one per
        # (table, tenant, message key)
        keyed = [(r[3], r[6], r[0]) for r in rows if r[0] is not None]
        self.stats["events"] += len(rows)
        self.stats["lww_in"] += len(keyed)
        self.stats["lww_out"] += len(set(keyed))
        self.stats["payload_bytes"] += sum(len(r[1]) for r in rows)
        cols = list(zip(*rows))
        t = pa.table(
            {f.name: pa.array(c, f.type) for f, c in zip(ENVELOPE_SCHEMA, cols)},
            schema=ENVELOPE_SCHEMA,
        )
        pq.write_table(t, path)
        self.n_batches += 1
