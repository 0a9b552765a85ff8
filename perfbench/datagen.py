"""Seeded input generators. The same seed gives the same rows and, through
pyarrow's parquet writer, byte-identical staged files.

- `write_olap_tables`: the ten catalog tables (catalog.TABLES) at a
  TPC-H-like scale factor, with the shapes the query registry reads
  (star schema, an `events` stream, `documents` with ~5% near-duplicates,
  unit-norm `embeddings`).
- `change_set`: one cycle of source-table changes for the CDC pipeline:
  Zipf-skewed keys, ~5% deletes (NULL payload), strictly increasing
  `(updated_at, event_id)` so the poller's cursor order is the change order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in micros
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(micros) -> pa.Array:
    return pa.array(np.asarray(micros, dtype=np.int64), pa.int64()).cast(
        pa.timestamp("us")
    )


def olap_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog tables at scale factor `sf` (lineitem ≈ 6M × sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(901, 2100, n_line), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_line) * _DAY_US),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))),
        "user_id": rng.integers(0, n_cust, n_evt),
        "event_type": _choice(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = []
    for n_words in rng.integers(8, 100, n_doc):
        texts.append(" ".join(_choice(rng, WORDS, n_words)))
    # ~5% near-duplicates: a copy of another document plus one word
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def write_olap_tables(seed: int, sf: float, out_dir: str) -> None:
    """Stage the catalog tables as `<out_dir>/<table>.parquet` files."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in olap_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------------ CDC

def change_set(
    seed: int, cycle: int, rows: int, keys: int, delete_frac: float = 0.05
) -> list[tuple]:
    """One cycle of source changes, in commit order. A delete is a row whose
    payload (name, qty, price) is NULL: the producer turns it into a
    tombstone. Keys follow a Zipf(1.2) law over `keys` ids, so hot keys
    change several times within one cycle."""
    rng = np.random.default_rng([seed, 2, cycle])
    wid = (rng.zipf(1.2, rows) - 1) % keys
    deletes = rng.random(rows) < delete_frac
    qty = rng.integers(0, 1000, rows)
    price = np.round(rng.uniform(1, 500, rows), 2)
    base_id = cycle * rows
    base_ts = (cycle + 1) * 1_000_000_000
    out = []
    for i in range(rows):
        if deletes[i]:
            payload = (None, None, None)
        else:
            payload = (f"w{wid[i]}-c{cycle}-{i}", int(qty[i]), float(price[i]))
        out.append((base_id + i, int(wid[i]), *payload, base_ts + i))
    return out


def write_change_set(path: str, changes: list[tuple]) -> None:
    cols = list(zip(*changes))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "widget_id": pa.array(cols[1], pa.int64()),
            "name": pa.array(cols[2], pa.string()),
            "qty": pa.array(cols[3], pa.int64()),
            "price": pa.array(cols[4], pa.float64()),
            "updated_at": pa.array(cols[5], pa.int64()),
        }
    )
    pq.write_table(table, path)
