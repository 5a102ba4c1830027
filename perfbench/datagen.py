"""Seeded benchmark inputs, written with pyarrow outside the system under test.

Two inputs:

* ``write_tables`` — the ten analytic tables the declared queries read
  (``tables.TABLE_NAMES``), with the schemas and value domains documented in
  FIXTURES.md. Row counts scale with ``sf`` the way the fixture generator's
  do (documents and embeddings have a floor of 500 rows).
* ``write_change_backlog`` — a ``sources.cdc.generate_changelog`` backlog
  (duplicates, bounded out-of-order delivery, delete-then-resurrect) as
  Debezium-envelope Parquet files, one file per stream trigger.

Everything is a pure function of the seed, so a seed names its inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from python_cdc_postgres_to_clickhouse_spark.sources.cdc import generate_changelog

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000


def _days_us(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Uniform word soup of 10-100 words; one document in twenty is a copy
    of an earlier one with ``dup`` appended, so the near-duplicate queries
    have true positives."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return texts


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = round(150_000 * sf), round(10_000 * sf)
    n_part, n_ord = round(200_000 * sf), round(1_500_000 * sf)
    n_line, n_ev = round(6_000_000 * sf), round(1_000_000 * sf)
    n_doc, n_emb = max(500, round(50_000 * sf)), max(500, round(20_000 * sf))
    n_users = max(1, round(15_000 * sf))
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", n_ord, rng)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.68, 104_999.91, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", n_line, rng)),
        }
    )
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _texts(rng, n_doc)
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = 0.5 * centroids[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> None:
    """Write the analytic tables as one single-row-group Parquet file each,
    the layout of the fixture files the queries were tuned on."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(
            table, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=len(table) or 1
        )


_ROW = pa.struct(
    [
        ("id", pa.int32()),
        ("username", pa.string()),
        ("email", pa.string()),
        ("created_at_us", pa.int64()),
    ]
)
ENVELOPE_ARROW = pa.schema(
    [
        ("before", _ROW),
        ("after", _ROW),
        ("op", pa.string()),
        ("ts_ms", pa.int64()),
        ("source_lsn", pa.int64()),
        ("source_table", pa.string()),
        ("kafka_partition", pa.int32()),
        ("kafka_offset", pa.int64()),
    ]
)


def write_change_backlog(
    out_dir: str, n_keys: int, n_ops: int, n_files: int, seed: int
) -> tuple[dict[int, dict], list[int], int]:
    """Write a change backlog as ``n_files`` envelope Parquet files in
    delivery order. Returns the replay oracle (live rows by id), the byte
    size of each file, and the number of events written."""
    fixture = generate_changelog(n_keys=n_keys, n_ops=n_ops, seed=seed)
    os.makedirs(out_dir, exist_ok=True)
    events = fixture.events
    bounds = np.linspace(0, len(events), n_files + 1).astype(int)
    sizes = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"changes-{i:05d}.parquet")
        chunk = events[bounds[i] : bounds[i + 1]]
        pq.write_table(pa.Table.from_pylist(chunk, schema=ENVELOPE_ARROW), path)
        sizes.append(os.path.getsize(path))
    return fixture.expected_final, sizes, len(events)
