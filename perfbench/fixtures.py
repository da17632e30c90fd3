"""Seeded inputs for the benchmark: the fixture tables the batch keys read,
and the parquet event files the streaming workload sends.

The tables follow the schemas and value domains of the engine's fixture
tables (FIXTURES.md): a TPC-H-ish star schema, an ``events`` table over
January 2024, ``documents`` drawn from a 30-word vocabulary with about 5%
near-duplicates (an earlier text plus `` dup``), and unit-norm 64-d
``embeddings``. Everything is a pure function of the seed and the scale
factor, so two commits run on identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00, as naive micros

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "ms")
    return pa.array(base + rng.integers(0, span_days, n).astype("timedelta64[D]"),
                    pa.timestamp("ms"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(np.minimum(rng.exponential(60.0, n), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }, schema=EVENTS_SCHEMA)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(8, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables at scale factor ``sf`` (row counts as FIXTURES.md)."""
    rng = np.random.default_rng(seed)
    n_sup, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    lines = rng.integers(0, 8, n_ord)  # 0 lines leaves an order without lineitems
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_number = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    o_date = _days(rng, dt.date(1995, 1, 1), 2404, n_ord)
    ship = (np.asarray(o_date.to_numpy(zero_copy_only=False))[l_order]
            + rng.integers(1, 95, n_li).astype("timedelta64[D]"))
    pkeys = np.arange(n_part)
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(_REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
            "s_name": _names("Supplier", n_sup),
            "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_sup)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}),
        "part": pa.table({
            "p_partkey": pa.array(pkeys, pa.int64()),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": o_date,
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
            "l_linenumber": pa.array(l_number, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": pa.array(ship, pa.timestamp("ms"))}),
        "events": _events(rng, int(1_000_000 * sf), max(50, int(15_000 * sf))),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table as ``out_dir/<name>.parquet`` (one file each, the
    layout ``tables.load`` and ``testing.compare.duckdb_connect`` read)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


class EventFiles:
    """The open-loop event stream as a deterministic sequence of files.

    File ``i`` covers event time ``[base_i - disorder, base_i]`` where
    ``base_i`` advances by ``event_seconds_per_file``: event time moves at a
    fixed multiple of wall time, so windows close and state stays bounded.
    Rows are shuffled inside the file, and any row may be up to
    ``disorder_s`` older than the newest row before it; with the disorder
    below the watermark delay no row is ever late. User ids are Zipf
    distributed. The content of file ``i`` depends only on (seed, i).
    """

    def __init__(self, seed: int, rows_per_file: int, event_seconds_per_file: float,
                 disorder_s: float, users: int = 1500, zipf_a: float = 1.3):
        self.seed = seed
        self.rows = rows_per_file
        self.step_us = int(event_seconds_per_file * 1_000_000)
        self.disorder_us = int(disorder_s * 1_000_000)
        self.users = users
        self.zipf_a = zipf_a

    def table(self, i: int, rows: int | None = None) -> pa.Table:
        """File ``i``; ``rows`` overrides the row count (a burst file)."""
        rng = np.random.default_rng([self.seed, i])
        n = rows or self.rows
        newest = EPOCH_2024_US + self.disorder_us + (i + 1) * self.step_us
        ts = newest - rng.integers(0, self.disorder_us + 1, n)
        return pa.table({
            "event_id": pa.array(i * 1_000_000 + np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array((rng.zipf(self.zipf_a, n) - 1) % self.users, pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.uniform(0.0, 500.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                              pa.string()),
        }, schema=EVENTS_SCHEMA)

    def stage(self, i: int, stage_dir: str, rows: int | None = None) -> str:
        """Write file ``i`` under ``stage_dir``; returns its path there."""
        staged = os.path.join(stage_dir, f"part-{i:06d}.parquet")
        pq.write_table(self.table(i, rows), staged)
        return staged

    def write(self, i: int, stage_dir: str, dest_dir: str) -> str:
        """Write file ``i`` under ``stage_dir`` and rename it into ``dest_dir``,
        so the stream source never lists a half-written file."""
        staged = self.stage(i, stage_dir)
        final = os.path.join(dest_dir, os.path.basename(staged))
        os.rename(staged, final)
        return final
