"""Reference answers computed without Spark.

The harness runs these once the Spark session has stopped (see
``run.py``), so they neither compete with the engine for the CPUs nor
show in its peak RSS. Everything here imports numpy, pandas and DuckDB
only.

* ``q4112_answers``: Part 1 in numpy (re-derived here from the
  generator's formulas) and Part 2 from ``datagen.part2_oracle``.
* ``duck_digests``: each registry oracle statement run in DuckDB over
  the generated fixtures, reduced to a row count and digest.
* ``semantic_truth``: an independent recomputation for
  ``dedup_semantic``, which has no SQL oracle.
"""

from __future__ import annotations

import hashlib
import math
from datetime import datetime
from decimal import Decimal
from math import lcm

import numpy as np

_MIX = 2654435761


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):
        return v.item()
    return v


def digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a pandas frame; column
    order is ignored too, as in the repository's DuckDB comparisons."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_norm(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()


# ---------------------------------------------------------------- q4112


def part1_answer(inner: int, outer: int, price_max: int, qty_max: int) -> int:
    """Part 1 (``sum(price * quantity) DIV count(*)`` over the join) for
    a generator config with both selectivities 1.0, by whole periods of
    the row-index formulas: item id and quantity both repeat every
    ``lcm(inner, qty_max)`` rows."""
    period = lcm(inner, qty_max)

    def revenue(n: int) -> int:
        i = np.arange(n, dtype=np.int64)
        item = (i * 40503 + 7) % inner + 1
        price = item * _MIX % price_max + 1
        qty = (i * 31 + 3) % qty_max + 1
        return int((price * qty).sum())

    whole, rest = divmod(outer, period)
    return (whole * revenue(period) + revenue(rest)) // outer


def q4112_answers(configs: dict[str, dict]) -> dict[str, tuple]:
    """Expected result row per q4112 query. Part 2 configs are passed
    to ``datagen.part2_oracle`` at ONE period of the generator
    (``lcm(inner, groups, qty_max)`` rows): per-store sums and counts
    both scale by the number of whole periods, so every per-store
    integer average, and the answer, is the one-period answer."""
    from database_join_spark.datagen import Q4112Config, part2_oracle

    out: dict[str, tuple] = {}
    for name, kw in configs.items():
        if kw.get("part") == 1:
            out[name] = (
                part1_answer(
                    kw["inner_tuples"], kw["outer_tuples"],
                    kw["price_max"], kw["qty_max"],
                ),
            )
            continue
        cfg = {k: v for k, v in kw.items() if k != "part"}
        period = lcm(cfg["inner_tuples"], cfg["groups"], cfg["qty_max"])
        if cfg["outer_tuples"] % period:
            raise ValueError(f"{name}: outer_tuples is not a whole number of periods")
        cfg["outer_tuples"] = period
        out[name] = part2_oracle(Q4112Config(**cfg))
    return out


# -------------------------------------------------------------- sf0.1


def duck_digests(sf_dir: str, tables: list[str], oracles: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return {name: digest(con.execute(sql).df()) for name, sql in oracles.items()}


def semantic_truth(sf_dir: str, threshold: float, margin: float) -> dict:
    """Exact float64 cosine of every embedding pair at or above
    ``threshold - margin``."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.asarray(t["vec_id"].to_pylist())
    vecs = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    a, b = np.nonzero(np.triu(cos >= threshold - margin, k=1))
    return {
        (int(ids[i]), int(ids[j])): float(cos[i, j]) for i, j in zip(a, b)
    }


def compute(jobs: dict[str, tuple]) -> dict:
    """Run every job of ``workloads.oracle_jobs``."""
    kinds = {
        "q4112": q4112_answers,
        "duck": duck_digests,
        "semantic": semantic_truth,
    }
    return {kind: kinds[kind](*args) for kind, args in jobs.items()}
