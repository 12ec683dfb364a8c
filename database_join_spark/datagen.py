"""Parameterized q4112-shaped data generator with an independent
oracle — the full replacement for the reference's opaque
``q4112_gen.o``.

Contract (``q4112.h:13-41``, CLI ``q4112_main.c:45-56``): generate
``items(id, price)`` and ``orders(item_id, store_id, quantity)``
with parameterized size, FK selectivity, group count, and
heavy-hitter skew — and produce the correct Part-2 answer
independently so every configuration re-asserts end-to-end
correctness (``q4112_main.c:127``'s ``assert(gen_res == run_res)``).

Every column is pure modular arithmetic on the row index — no RNG
state — so the same formulas evaluate identically in Spark (JVM
expressions over ``spark.range``), in numpy (the independent oracle
here), and in DuckDB. ``spark.range`` has no input to read:
generation is embarrassingly parallel at any scale.

Skew semantics (``q4112.h:36-41``): with probability ``hh_prob`` an
order's store_id is drawn from the ``hh_groups`` heavy hitters,
else from the full group domain. The Bernoulli draw is the modular
pseudo-uniform ``(i·2654435761 + 17) mod 1000 < hh_prob·1000``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Knuth's multiplicative-hash constant — the same mixer the
#: reference uses for its hash tables (q4112_hj.c:16).
_MIX = 2654435761


@dataclass(frozen=True)
class Q4112Config:
    """Generator parameters (validation mirrors q4112_main.c:59-72)."""

    inner_tuples: int = 2000
    outer_tuples: int = 60000
    inner_selectivity: float = 1.0  # ∈ (0.1, 1] — q4112.h:20-22
    outer_selectivity: float = 0.5  # ∈ (0.1, 1]
    groups: int = 100
    price_max: int = 50
    qty_max: int = 20
    hh_groups: int = 0
    hh_prob: float = 0.0

    def __post_init__(self) -> None:
        assert 0.1 < self.inner_selectivity <= 1.0
        assert 0.1 < self.outer_selectivity <= 1.0
        assert 1 <= self.groups <= self.outer_tuples
        assert 0 <= self.hh_groups <= self.groups
        assert 0.0 <= self.hh_prob <= 1.0

    @property
    def referenced_items(self) -> int:
        """How many item ids orders may reference:
        ``inner_selectivity`` is "probability that items.id exists in
        orders" (q4112.h:20) — only ids [1, referenced_items] appear
        as FKs, so that fraction of items is probed (all of them,
        w.h.p., once outer ≫ inner)."""
        return max(1, int(round(self.inner_tuples * self.inner_selectivity)))

    @property
    def fk_domain(self) -> int:
        """Size of the uniform FK draw: the matching portion is the
        ``referenced_items`` ids, so P(order matches) =
        referenced/fk_domain = outer_selectivity (q4112.h:31-33).
        With inner_selectivity = 1.0 this is inner/osel — identical
        to the pre-isel construction bit for bit."""
        return int(round(self.referenced_items / self.outer_selectivity))


def q4112_frames(
    spark: SparkSession, cfg: Q4112Config, num_partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """items / orders as DataFrames (lazy, parallel, no data read).

    ``num_partitions`` sizes the outer range's task count; ~4× the
    core count measured ~10% faster than 1× at 1e9 rows (finer tasks
    smooth scheduler stragglers — the same reason the reference gives
    its last thread the remainder morsel, q4112.c:409-421).
    """
    # Build-side task count scales with build size: one ~4M-row task
    # per partition. At dimension scale (inner=100) that is ONE task
    # per broadcast build instead of one per core — 31 fewer task
    # launches on the query's critical path.
    inner_parts = max(1, cfg.inner_tuples // 4_000_000)
    items = spark.range(1, cfg.inner_tuples + 1, 1, inner_parts).select(
        F.col("id"),
        (F.col("id") * _MIX % cfg.price_max + 1).alias("price"),
    )
    i = F.col("id")
    bern = (i * _MIX + 17) % 1000
    hh_store = i % F.lit(max(cfg.hh_groups, 1)) + 1
    reg_store = (i * 97 + 13) % cfg.groups + 1
    store = (
        F.when(bern < int(cfg.hh_prob * 1000), hh_store).otherwise(reg_store)
        if cfg.hh_groups > 0
        else reg_store
    )
    f = (i * 40503 + 7) % cfg.fk_domain
    if cfg.inner_selectivity < 1.0:
        # Draws landing past the referenced-id range become keys
        # BEYOND the inner domain (guaranteed non-existent), so only
        # ids [1, referenced_items] are ever probed — inner
        # selectivity — while P(match) stays outer_selectivity.
        m = cfg.referenced_items
        item_id = F.when(f < m, f + 1).otherwise(
            cfg.inner_tuples + (f - m) + 1
        )
    else:
        item_id = f + 1  # non-matches are ids (inner, fk_domain]
    orders = spark.range(0, cfg.outer_tuples, 1, num_partitions).select(
        item_id.alias("item_id"),
        store.alias("store_id"),
        ((i * 31 + 3) % cfg.qty_max + 1).alias("quantity"),
    )
    return items, orders


def part1_query(items: DataFrame, orders: DataFrame) -> DataFrame:
    """The reference's Part-1 pipeline: hash join + scalar integer
    AVG(price·quantity) (q4112_hj.c:95-133,256-274)."""
    return orders.join(
        F.broadcast(items), items.id == orders.item_id
    ).agg(F.expr("sum(price * quantity) DIV count(*)").alias("avg_val"))


def part1_query_shuffle(items: DataFrame, orders: DataFrame) -> DataFrame:
    """Part 1 with a SHUFFLE_HASH build — the large-inner regime
    (``q4112_hj.csv:101-200``, inner = 1e8) where the build side
    outgrows a broadcast. Both sides hash-partition on the key and
    each task builds its own table; this is the plan that keeps
    working when the build side outgrows ANY machine's RAM, and the
    regime where the reference's shared-memory CAS build
    (``q4112_hj.c:73-74``) wins on one box — tracked in BENCH as
    ``large_inner`` so the gap stays visible round over round."""
    return orders.join(
        items.hint("shuffle_hash"), items.id == orders.item_id
    ).agg(F.expr("sum(price * quantity) DIV count(*)").alias("avg_val"))


def part2_query(items: DataFrame, orders: DataFrame) -> DataFrame:
    """The reference's Part-2 pipeline (join → per-store integer avg →
    integer avg-of-avgs, q4112.c whole file) on generated frames."""
    per_store = (
        orders.join(F.broadcast(items), items.id == orders.item_id)
        .groupBy("store_id")
        .agg(F.expr("sum(price * quantity) DIV count(*)").alias("g"))
    )
    return per_store.agg(
        F.expr("sum(g) DIV count(g)").alias("avg_of_avgs"),
        F.count("g").alias("n_groups"),
    )


def part2_query_repartition_first(
    items: DataFrame, orders: DataFrame, partitions: int
) -> DataFrame:
    """Part 2 spelled for the NO-REDUCTION cardinality regime
    (groups ≳ rows-per-task): an explicit ``repartition(key)``
    BEFORE the group-by, so aggregation happens entirely
    post-exchange where each task owns all rows of its ~groups/N
    keys.

    Why this beats the default plan there: Spark's standard
    partial-then-final aggregate builds a per-task hash map BEFORE
    the exchange; when nearly every row is its own group that map
    reduces nothing, yet it still costs an ~rows-per-task-entry
    build + spill per map task — the heap pressure SPILL_PROBE
    chased with confs. Shipping the raw (key, value) rows instead
    moves the same exchange mass but builds ONE small covering map
    per reducer (groups/partitions entries). Measured same-session
    at groups=1e8 uniform, 1e9 rows (REGROUP_PROBE.json): the
    rewrite on the untuned session is the best arm (1.15× over
    the conf-tuned default plan; ~2.3× under heavy host pressure,
    BASELINE.md §repartition-first) and needs no tuned confs. In the REDUCING regimes (groups ≪ rows
    per task) the standard plan's partial agg is a massive win —
    use :func:`part2_query` there; plans/sizing.py's ``decide()``
    picks the spelling from the cardinality estimate.
    """
    joined = orders.join(F.broadcast(items), items.id == orders.item_id)
    pre = joined.select(
        "store_id", (F.col("price") * F.col("quantity")).alias("v")
    )
    per_store = (
        pre.repartition(partitions, "store_id")
        .groupBy("store_id")
        .agg(F.expr("sum(v) DIV count(*)").alias("g"))
    )
    return per_store.agg(
        F.expr("sum(g) DIV count(g)").alias("avg_of_avgs"),
        F.count("g").alias("n_groups"),
    )


def part2_oracle(cfg: Q4112Config) -> tuple[int, int]:
    """The correct Part-2 answer, computed independently in numpy
    (the ``q4112_gen`` returns-the-answer contract, q4112.h:13).

    Deliberately NOT Spark: a bug in the engine cannot cancel out in
    the oracle. Vectorized; 1e7 rows ≈ hundreds of ms.
    """
    ids = np.arange(1, cfg.inner_tuples + 1, dtype=np.int64)
    price = ids * _MIX % cfg.price_max + 1
    # Lookup table must cover every id AND every generated FK value
    # (non-matching FKs can exceed the domain when isel < 1: they are
    # mapped past the inner domain on purpose).
    hi = max(
        cfg.fk_domain,
        cfg.inner_tuples,
        cfg.inner_tuples + cfg.fk_domain - cfg.referenced_items,
    )
    price_by_id = np.zeros(hi + 1, dtype=np.int64)
    price_by_id[ids] = price

    i = np.arange(cfg.outer_tuples, dtype=np.int64)
    f = (i * 40503 + 7) % cfg.fk_domain
    if cfg.inner_selectivity < 1.0:
        m = cfg.referenced_items
        item_id = np.where(f < m, f + 1, cfg.inner_tuples + (f - m) + 1)
    else:
        item_id = f + 1
    if cfg.hh_groups > 0:
        bern = (i * _MIX + 17) % 1000 < int(cfg.hh_prob * 1000)
        store = np.where(
            bern, i % cfg.hh_groups + 1, (i * 97 + 13) % cfg.groups + 1
        )
    else:
        store = (i * 97 + 13) % cfg.groups + 1
    qty = (i * 31 + 3) % cfg.qty_max + 1

    matched = price_by_id[item_id] > 0
    v = price_by_id[item_id[matched]] * qty[matched]
    s = store[matched]
    sums = np.bincount(s, weights=v.astype(np.float64)).astype(np.int64)
    counts = np.bincount(s)
    nz = counts > 0
    g = sums[nz] // counts[nz]
    return int(g.sum() // len(g)), int(len(g))
