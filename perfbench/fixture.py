"""Seeded benchmark inputs, built once per checkout and cached on disk.

Two fixtures:

- ``make_tables`` writes the ten catalog tables (``region`` ...
  ``embeddings``) as one parquet file each, with the column names,
  types and value distributions of the engine's star-schema test data.
  Its generator seed is fixed (``TABLE_SEED``), so the DuckDB oracle
  results cached per data fingerprint stay valid across benchmark seeds.
- ``make_landing_zone`` turns ``orders`` / ``lineitem`` / ``events``
  into the reference's landing zone: ``{day}/{day}.json`` multiLine
  JSON array files, each with a ``{day}_metadata.json`` sidecar, plus
  corrupt files. Every order carries its lineitems nested as
  ``items_json``; each customer's events are nested once, under the
  customer's highest order key, as ``events_info_json``. The benchmark
  seed picks the day file of every order and the days that receive a
  corrupt file.

Both are pure functions of their arguments: the same arguments give
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
DAYS = 150
FIRST_DAY = dt.date(2024, 1, 1)
CORRUPT_FILES = 1

# Row counts per unit of scale factor (TPC-H proportions of the test data).
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
ITEM_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]
EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _days(rng: np.random.Generator, n: int, start: dt.date, span: int) -> pa.Array:
    """``n`` midnight timestamps in ``[start, start + span days)``."""
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> None:
    """Write the ten catalog tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(c * sf))) for t, c in _PER_SF.items()}
    n_users = max(1, n["customer"] // 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, c)),
    })
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(rng.choice(names, p)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, p)),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(p) % 1000) / 10.0),
    })
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(_STATUS, o)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), 2405),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, o)),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li)),
        "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), 2499),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, e)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, e), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, e)),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]),
    })
    _write_documents(out_dir, rng, max(500, int(round(5000 * sf))))
    _write_embeddings(out_dir, rng, max(500, int(round(20_000 * sf))))


def _write_documents(out_dir: str, rng: np.random.Generator, n: int) -> None:
    """Bag-of-words documents over a 30-word vocabulary; ~5% are an
    earlier document's text with `` dup`` appended (near duplicates)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 90)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write_embeddings(out_dir: str, rng: np.random.Generator, n: int) -> None:
    """Unit-norm 64-d float vectors with a label in 0..9."""
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _rows(table: pa.Table, cols: list[str]) -> list[dict]:
    """Rows as JSON-ready dicts; timestamps become ``YYYY-MM-DD HH:MM:SS[.ffffff]``."""
    out = table.select(cols).to_pylist()
    for r in out:
        for k, v in r.items():
            if isinstance(v, dt.datetime):
                r[k] = v.isoformat(sep=" ")
    return out


def day_name(i: int) -> str:
    return (FIRST_DAY + dt.timedelta(days=i)).isoformat()


def make_landing_zone(tables_dir: str, out_dir: str, seed: int) -> dict:
    """Write the day-partitioned JSON landing zone; return its manifest
    (order count, corrupt files, day of every corrupt file)."""
    rng = np.random.default_rng(seed)
    read = lambda t: pq.read_table(os.path.join(tables_dir, f"{t}.parquet"))  # noqa: E731
    orders = _rows(read("orders"), ORDER_COLS)
    items: dict[int, list[dict]] = {}
    for r in _rows(read("lineitem"), ITEM_COLS):
        items.setdefault(r["l_orderkey"], []).append(r)
    top_order: dict[int, int] = {}
    for r in orders:
        top_order[r["o_custkey"]] = max(top_order.get(r["o_custkey"], -1), r["o_orderkey"])
    events: dict[int, list[dict]] = {}
    for r in _rows(read("events"), EVENT_COLS):
        if r["user_id"] in top_order:
            events.setdefault(top_order[r["user_id"]], []).append(r)

    day_of = rng.integers(0, DAYS, len(orders))
    corrupt_days = sorted(rng.choice(DAYS, CORRUPT_FILES, replace=False).tolist())
    per_day: list[list[dict]] = [[] for _ in range(DAYS)]
    for r, d in zip(orders, day_of):
        k = r["o_orderkey"]
        per_day[d].append({
            **r,
            "items_json": items.get(k, []),
            "events_info_json": events.get(k, []),
        })

    shutil.rmtree(out_dir, ignore_errors=True)
    for d, recs in enumerate(per_day):
        day = day_name(d)
        os.makedirs(os.path.join(out_dir, day))
        with open(os.path.join(out_dir, day, f"{day}.json"), "w") as f:
            json.dump(recs, f, separators=(",", ":"))
        with open(os.path.join(out_dir, day, f"{day}_metadata.json"), "w") as f:
            json.dump({"fecha": day, "total_ordenes": len(recs), "fallos": 0}, f)
    for d in corrupt_days:
        day = day_name(d)
        # a truncated upload: an array that never closes
        with open(os.path.join(out_dir, day, f"{day}_retry.json"), "w") as f:
            f.write('[{"o_orderkey": 1, "o_custkey": ')
    return {
        "orders": len(orders),
        "corrupt_files": len(corrupt_days),
        "corrupt_days": [day_name(d) for d in corrupt_days],
    }


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()
