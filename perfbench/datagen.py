"""Deterministic input generator for the benchmark.

Writes the ten catalog tables in the shape and distributions of the
suite's sf0.01 fixtures (row counts, value domains, ~5% near-duplicate
documents, 64-dim unit embeddings), plus the dashboard's incident,
district and weather inputs and its incremental refresh batches.

The base tables depend only on ``BASE_SEED``, so every run measures the
same data; the benchmark's ``--seed`` drives the refresh batches and the
operation order.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
SCALE = 0.01

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")

# Dashboard geometry: a 5x5 grid of 10x10 districts; ids with
# ``id % 7 == 0`` are left out, so some incidents fall in no district.
DISTRICT_GRID = 5
INCIDENT_DAYS = 28
INCIDENT_START = dt.datetime(2024, 1, 1)


def _us(days: np.ndarray, start: str) -> np.ndarray:
    """Day offsets from ``start`` as timezone-less microsecond stamps."""
    return np.datetime64(start, "us") + days.astype("timedelta64[D]")


def write_table(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_catalog(out: Path, scale: float = SCALE) -> None:
    """The ten catalog tables, one parquet file each, under ``out``."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = int(15_000 * scale)

    write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), out / "region.parquet")
    write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), out / "nation.parquet")
    write_table(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }), out / "customer.parquet")
    write_table(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), out / "supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    write_table(pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }), out / "part.parquet")
    write_table(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _us(rng.integers(0, 2405, n_ord), "1995-01-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }), out / "orders.parquet")
    write_table(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _us(rng.integers(0, 2499, n_li), "1995-01-02"),
    }), out / "lineitem.parquet")
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    write_table(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out / "events.parquet")
    write_table(_documents(rng, 500), out / "documents.parquet")
    vecs = rng.standard_normal((500, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write_table(pa.table({
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, 500).astype(np.int32),
    }), out / "embeddings.parquet")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-token documents; one in twenty is a near-duplicate of an
    earlier document (a ``dup`` token appended or one token replaced)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.6:
                words.append("dup")
            else:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# --- dashboard inputs ------------------------------------------------------

INCIDENT_SCHEMA = pa.schema([
    ("incident_id", pa.int64()),
    ("start_dt", pa.timestamp("us")),
    ("modified_dt", pa.timestamp("us")),
    ("px", pa.float64()),
    ("py", pa.float64()),
    ("severity", pa.int32()),
])


def districts_wkt() -> list[tuple[str, str]]:
    """(name, MULTIPOLYGON WKT) for the district grid, gaps included."""
    out = []
    for i in range(DISTRICT_GRID * DISTRICT_GRID):
        if i % 7 == 0:
            continue
        x0, y0 = (i % DISTRICT_GRID) * 10.0, (i // DISTRICT_GRID) * 10.0
        ring = ", ".join(
            f"{x:.1f} {y:.1f}"
            for x, y in [(x0, y0), (x0 + 10, y0), (x0 + 10, y0 + 10), (x0, y0 + 10), (x0, y0)]
        )
        out.append((f"district_{i:02d}", f"MULTIPOLYGON((({ring})))"))
    return out


def weather() -> pa.Table:
    """One row per day of the incident window plus five quiet days."""
    rng = np.random.default_rng(BASE_SEED + 1)
    n = INCIDENT_DAYS + 5
    lo = np.round(rng.uniform(-20.0, 5.0, n), 1)
    wet = rng.random(n) < 0.4
    return pa.table({
        "date": pa.array(
            [INCIDENT_START.date() + dt.timedelta(days=d) for d in range(n)], pa.date32()
        ),
        "min_temp_c": lo,
        "max_temp_c": np.round(lo + rng.uniform(0.0, 15.0, n), 1),
        "total_precip_mm": np.where(wet, np.round(rng.uniform(0.1, 30.0, n), 1), 0.0),
    })


def _points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    # Two-decimal coordinates offset by 0.005 never sit on a district edge.
    span = DISTRICT_GRID * 1000
    return (
        rng.integers(0, span, n) / 100.0 + 0.005,
        rng.integers(0, span, n) / 100.0 + 0.005,
    )


def incidents(n: int) -> pa.Table:
    """The initial incident extract: ids ``0..n-1``, one version each."""
    rng = np.random.default_rng(BASE_SEED + 2)
    start = np.datetime64(INCIDENT_START, "us") + rng.integers(
        0, INCIDENT_DAYS * 86_400, n
    ).astype("timedelta64[s]")
    px, py = _points(rng, n)
    return pa.table({
        "incident_id": np.arange(n, dtype=np.int64),
        "start_dt": start,
        "modified_dt": start + np.timedelta64(1, "h"),
        "px": px,
        "py": py,
        "severity": rng.integers(1, 6, n).astype(np.int32),
    }, schema=INCIDENT_SCHEMA)


def refresh_batch(base: pa.Table, seed: int, k: int, n_updates: int, n_inserts: int) -> pa.Table:
    """The ``k``-th refresh batch of a run: updates to existing ids that
    are strictly newer than the base version (their ``modified_dt``
    grows with ``k``), some version ties the guard must reject, and
    inserts of ids above the base range. Start dates keep their day, so
    the partitions a batch touches exist already."""
    rng = np.random.default_rng([seed, k])
    n = base.num_rows
    ids = rng.choice(n, n_updates, replace=False)
    start = base.column("start_dt").to_numpy()[ids]
    bump = np.timedelta64(2 + k, "h")
    # One update in ten repeats the base version exactly: on a version
    # tie the gold row must win.
    stale = rng.random(n_updates) < 0.1
    modified = np.where(stale, start + np.timedelta64(1, "h"), start + bump)
    ins_ids = n + rng.choice(n, n_inserts, replace=False)
    ins_start = np.datetime64(INCIDENT_START, "us") + rng.integers(
        0, INCIDENT_DAYS * 86_400, n_inserts
    ).astype("timedelta64[s]")
    px, py = _points(rng, n_updates + n_inserts)
    return pa.table({
        "incident_id": np.concatenate([ids.astype(np.int64), ins_ids.astype(np.int64)]),
        "start_dt": np.concatenate([start, ins_start]),
        "modified_dt": np.concatenate([modified, ins_start + bump]),
        "px": px,
        "py": py,
        "severity": rng.integers(1, 6, n_updates + n_inserts).astype(np.int32),
    }, schema=INCIDENT_SCHEMA)


def read_table(path: Path) -> pa.Table:
    return pq.read_table(path)
