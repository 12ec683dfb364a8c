"""Seeded sf0.1 star-schema fixtures for the benchmark.

Writes the ten parquet tables the engine's catalog reads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schema and row counts of the repository's sf0.1
fixtures (FIXTURES.md §B). Row counts are fixed; the seed only changes
the values, so every seed gives the same amount of work and every
literal the registry queries filter on ('ASIA', 'PROMO', 'small%',
'%bolt%', the 1995-2001 date range, ...) still selects rows.

The value distributions follow figures measured on the sf0.1 fixture
tables with ``fixture_stats.py`` (README.md compares the two):

* foreign keys, categories, dates and amounts are uniform over their
  ranges (per-key row counts are Poisson-like, no skew);
* documents are 10-99 tokens drawn uniformly from a 30-word
  vocabulary; exactly 5% of them repeat another, random, document's
  text with " dup" appended;
* embeddings are i.i.d. Gaussian vectors of dimension 64 scaled to
  unit norm, unrelated to their label (about 920-970 pairs have a
  cosine of 0.4 or more).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 fixtures (FIXTURES.md §B).
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_SHARE = 0.05
DOC_TOKENS = (10, 99)
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _day_us(day: dt.datetime) -> int:
    return int((day - _EPOCH).total_seconds()) * 1_000_000


def _dates(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days in [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    us = _day_us(lo) + days.astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """Every fixture table as an Arrow table, drawn from ``seed``;
    ``scale`` shrinks every table but region and nation (the harness
    self-test runs at 0.1)."""
    rng = np.random.default_rng(seed)
    rows = {k: v if v <= 25 else max(10, int(v * scale)) for k, v in ROWS.items()}
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )

    n = rows["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), i64),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99), f64),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )

    n = rows["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), i64),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99), f64),
        }
    )

    n = rows["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), i64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(n) % 1000 * 0.1, 1), f64),
        }
    )

    n = rows["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), i64),
            "o_custkey": pa.array(rng.integers(0, rows["customer"], n), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, n, 1000.0, 500_000.0), f64),
            "o_orderdate": _dates(
                rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )

    n = rows["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), i64),
            "l_partkey": pa.array(rng.integers(0, rows["part"], n), i64),
            "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n, 900.0, 105_000.0), f64),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _dates(
                rng, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)
            ),
        }
    )

    n = rows["events"]
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n)) + _day_us(dt.datetime(2024, 1, 1))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), i64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )

    n = rows["documents"]
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # In document order, so a copy may itself be copied (" dup dup").
    for d in np.sort(rng.choice(n, int(n * DUP_SHARE), replace=False)):
        src = rng.integers(0, n - 1)
        texts[d] = texts[src + (src >= d)] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), i64),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_WEIGHTS),
            "source": pa.array([f"src{d % 20}" for d in range(n)]),
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )

    n = rows["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), i32),
        }
    )
    return t


def write_fixtures(seed: int, out_dir: Path, scale: float = 1.0) -> Path:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file
    each, like the repository fixtures) and return ``out_dir``.

    Files are rewritten on every call: the engine's statistics catalog
    keys tables by file size and mtime, so a fresh write per run is
    also a fresh table version, and the benchmark's set-up pays the
    statistics it would pay on first contact with new data."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
