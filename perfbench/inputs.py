"""Seeded input tables for the benchmark workloads.

Every table has the column names and physical parquet types of the
engine's fixture tables (see FIXTURES.md), so the registry queries and
their DuckDB oracles run on them unchanged. The same seed always gives
byte-identical tables.

Every measure (prices, quantities, discounts, event values, embedding
components) is a dyadic rational with few bits, so sums are exact in
float64 whatever the addition order. Spark and DuckDB then round
identical doubles, and an oracle mismatch can only mean a wrong result.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value window"
).split()
PART_WORDS = ["red", "blue", "small", "large", "ring", "widget", "bolt", "gear"]

EPOCH_2024_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
DAY_US = 86_400_000_000
DATE_1995_US = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
FIXTURE_SEED = 42

EVENT_SCHEMA_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
)
EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def skewed_keys(rng: np.random.Generator, n: int, lo: int, hi: int, s: float = 1.1):
    """n keys in [lo, hi) with Zipf(s) popularity over a seeded key order."""
    span = hi - lo
    weights = 1.0 / np.arange(1, span + 1) ** s
    order = rng.permutation(span)
    picks = rng.choice(span, size=n, p=weights / weights.sum())
    return (order[picks] + lo).astype("int64")


def event_values(rng: np.random.Generator, n: int) -> np.ndarray:
    """Purchase values in quarter units, 0.25 .. 120.0 (exact in float64)."""
    return rng.integers(1, 481, size=n) / 4.0


def events_table(
    rng: np.random.Generator,
    n: int,
    *,
    users: tuple[int, int],
    start_us: int,
    span_us: int,
    skew: float = 1.1,
) -> pa.Table:
    """``n`` events with user keys Zipf(``skew``)-distributed over
    ``users`` (``skew=0``: uniform)."""
    ts = start_us + np.sort(rng.integers(0, span_us, size=n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": skewed_keys(rng, n, *users, s=skew),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": event_values(rng, n),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        },
        schema=EVENT_SCHEMA,
    )


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype="int64")
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype("int32"),
            "c_acctbal": rng.integers(-400, 40_000, n) / 4.0,
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def _text(rng: np.random.Generator, n_words: int) -> list[str]:
    return list(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)])


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word docs; every 8th doc is a one-word edit of the one
    before it, so trigram-Jaccard near-duplicate pairs exist."""
    texts: list[str] = []
    for i in range(n):
        if i % 8 == 7:
            toks = texts[-1].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
        else:
            toks = _text(rng, int(rng.integers(30, 70)))
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, 5, n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    comps = (rng.integers(-8, 9, size=(n, dim)) / 8.0).astype("float32")
    comps[np.abs(comps).sum(axis=1) == 0, 0] = 1.0
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(list(comps), pa.list_(pa.float32())),
            "label": rng.integers(0, 4, n).astype("int32"),
        }
    )


def tpch_tables(rng: np.random.Generator, customers: int) -> dict[str, pa.Table]:
    """region/nation/supplier/part/orders/lineitem sized off ``customers``
    (TPC-H ratios: 10 orders and ~40 lines per customer)."""
    n_supp, n_part, n_orders = max(customers // 15, 10), customers * 4 // 3, customers * 10
    region = pa.table(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": rng.integers(-400, 40_000, n_supp) / 4.0,
        }
    )
    retail = rng.integers(3600, 8000, n_part) / 4.0
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{PART_WORDS[a]} {PART_WORDS[b]}"
                for a, b in rng.integers(0, len(PART_WORDS), (n_part, 2))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO"])[rng.integers(0, 3, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": retail,
        }
    )
    odate = DATE_1995_US + rng.integers(0, 2404, n_orders) * DAY_US
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    n_li = len(l_order)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    ext = qty * retail[l_part]
    disc = rng.integers(0, 4, n_li) / 32.0
    tax = rng.integers(0, 6, n_li) / 64.0
    first = np.cumsum(lines) - lines
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part.astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": (np.arange(n_li) - np.repeat(first, lines) + 1).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": ext,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US,
                pa.timestamp("us"),
            ),
        }
    )
    totals = np.bincount(l_order, weights=ext, minlength=n_orders)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, customers, n_orders).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": totals,
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_table(sf_dir: str, name: str, table: pa.Table, parts: int = 1) -> None:
    """One parquet file ``<name>.parquet``, or a directory of ``parts``
    part files under that name (the layout the engine streams from)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def registry_fixture(sf_dir: str) -> None:
    """Every table the registry mix reads, with the row counts and key
    distributions of the sf0.1 fixtures (15 000 customers, 600 000 lines,
    100 000 events uniform over 1 500 users and 30 days). The data seed is
    fixed: every run reads the same tables."""
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(sf_dir)
    tables = tpch_tables(rng, 15_000)
    tables["customer"] = customer_table(rng, 15_000)
    tables["events"] = events_table(
        rng, 100_000, users=(0, 1_500), start_us=EPOCH_2024_US, span_us=30 * DAY_US, skew=0,
    )
    tables["documents"] = documents_table(rng, 5_000)
    tables["embeddings"] = embeddings_table(rng, 2_000)
    for name, table in tables.items():
        write_table(sf_dir, name, table)


def drain_backlog(sf_dir: str, seed: int, events: int, customers: int, parts: int) -> None:
    """The alert pipeline's inputs: customer plus an events backlog of
    ``parts`` files with keys skewed over the customer range."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(sf_dir)
    write_table(sf_dir, "customer", customer_table(rng, customers))
    backlog = events_table(
        rng, events, users=(0, customers),
        start_us=EPOCH_2024_US, span_us=events * 60_000_000 // 200,
    )
    write_table(sf_dir, "events", backlog, parts=parts)
