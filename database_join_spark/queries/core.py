"""REF core operators (SURVEY.md §2.1, #1–#13).

The reference computes two queries over ``orders ⋈ items`` (the C
engine at ``/root/reference``, files ``q4112*.c``); the role mapping
onto the parquet star schema (FIXTURES.md §A) is::

    items  → part      (PK p_partkey,  price = floor(p_retailprice))
    orders → lineitem  (FK l_partkey,  group l_suppkey,
                        quantity = floor(l_quantity))

Determinism: all "money" math is integer (the reference mandates
integer precision, ``4112_project_2.pdf`` p.3) — doubles become BIGINT
via FLOOR (bare double→int CASTs round in DuckDB but truncate in
Spark; FLOOR agrees everywhere on the non-negative fixture domain).

Scale notes (100 TB posture) are on each query; the short version:
``part`` is a dimension (broadcast), ``lineitem`` is the fact (never
broadcast, shuffles only on explicit keys), all aggregation is
partial→final (map-side combine), and AQE re-plans at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_join_spark.catalog import table
from database_join_spark.queries import query

# Integer role columns (identical SQL text works in Spark and DuckDB).
PRICE = "CAST(FLOOR(p_retailprice) AS BIGINT)"
QTY = "CAST(FLOOR(l_quantity) AS BIGINT)"
REV = f"({PRICE} * {QTY})"


def _li_pt(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Probe-side lineitem + build-side part, pruned to needed columns.

    Column pruning here mirrors the reference's layout where only the
    needed columns exist at all (``q4112_main.c:74-87``); on Spark the
    explicit ``select`` guarantees the parquet ReadSchema stays narrow
    even if a caller composes further.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    return li, pt


# --------------------------------------------------------------------------
# 1. scan_columnar — pruned, filtered columnar scan
# --------------------------------------------------------------------------
@query(
    "scan_columnar",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 45
    """,
    bench=True,
)
def scan_columnar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential columnar scan with projection + predicate.

    Reference: morsel-partitioned array scan (``q4112_nlj.c:34-36``,
    ``q4112_hj.c:158-170``). Spark: vectorized parquet scan; the
    filter and the 3-column projection both push into the scan
    (PushedFilters / ReadSchema in ``.explain``), so at 100 TB the
    scan reads only the row groups and columns that can match.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_quantity")


# --------------------------------------------------------------------------
# Shared part-1 aggregate:  AVG(price * quantity) over the join
# --------------------------------------------------------------------------
_PART1_ORACLE = f"""
    SELECT CAST(SUM({REV}) // COUNT(*) AS BIGINT) AS avg_rev,
           COUNT(*) AS cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
"""


def _part1_agg(joined: DataFrame) -> DataFrame:
    return joined.agg(
        F.expr(f"sum({REV}) DIV count(*)").alias("avg_rev"),
        F.count(F.lit(1)).alias("cnt"),
    )


# --------------------------------------------------------------------------
# 2. join_nlj_single — nested-loop join (single-pass semantics)
# --------------------------------------------------------------------------
@query("join_nlj_single", oracle=_PART1_ORACLE)
def join_nlj_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-1 query via a forced nested-loop (cartesian) strategy.

    Reference: ``q4112_nlj_1.c:18-26`` — for each outer tuple, scan
    inner until the first key match. SQL semantics (all matches) is
    identical because ``items.id`` is unique (``q4112.h:14-15``).
    Spark: SHUFFLE_REPLICATE_NL hint forces CartesianProduct+filter —
    the pedagogical O(n·m) variant. Deliberately NOT in the bench set:
    at scale the correct plan is a hash join (#4/#5); this query
    exists for strategy parity with the reference.
    """
    li, pt = _li_pt(spark, sf_dir)
    j = li.join(
        pt.hint("shuffle_replicate_nl"),
        on=li.l_partkey == pt.p_partkey,
        how="inner",
    )
    return _part1_agg(j)


# --------------------------------------------------------------------------
# 3. join_nlj_multi — parallel nested-loop join (partitioned outer)
# --------------------------------------------------------------------------
@query("join_nlj_multi", oracle=_PART1_ORACLE)
def join_nlj_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel NLJ: outer partitioned, every task scans the whole inner.

    Reference: ``q4112_nlj.c:21-53`` — outer range-partitioned across
    threads (``:34-36``), each thread scans the entire inner per outer
    tuple with no early break (``:42-49``). Spark analogue:
    BroadcastNestedLoopJoin — inner replicated to every task (the
    "whole inner per thread"), outer split across partitions. The
    non-equi spelling of the predicate keeps Catalyst from upgrading
    it to a hash join, faithfully preserving the NLJ physical shape.
    """
    li, pt = _li_pt(spark, sf_dir)
    # (p_partkey - l_partkey == 0) is equality, but not in a form
    # Catalyst extracts equi-keys from → plans BroadcastNestedLoopJoin.
    j = li.join(
        F.broadcast(pt),
        on=(pt.p_partkey - li.l_partkey) == 0,
        how="inner",
    )
    return _part1_agg(j)


# --------------------------------------------------------------------------
# 4. join_hash_single — broadcast hash join (small build side)
# --------------------------------------------------------------------------
@query("join_hash_single", oracle=_PART1_ORACLE, bench=True)
def join_hash_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash join, build over the small inner, probe with the fact.

    Reference: ``q4112_hj_1.c:10-77`` — build an open-addressing table
    over items, probe with orders, aggregate in the probe loop. Spark:
    BroadcastHashJoin — build side shipped to every task, probe
    pipelined with the partial aggregate in one WholeStageCodegen loop
    (the exact analogue of the reference's fused probe+multiply+sum,
    ``q4112_hj_1.c:53-73``). At 100 TB: part stays a broadcastable
    dimension; the fact never shuffles for this plan.
    """
    li, pt = _li_pt(spark, sf_dir)
    return _part1_agg(li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey))


# --------------------------------------------------------------------------
# 5. join_hash_multi — shuffled (partitioned) hash join
# --------------------------------------------------------------------------
@query("join_hash_multi", oracle=_PART1_ORACLE, bench=True)
def join_hash_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned hash join for a build side too big to broadcast.

    Reference: ``q4112_hj.c`` — all threads CAS-build one shared table
    (``:73-74``), barrier, partitioned probe (``:95-133``). Spark has
    no shared mutable state: both sides hash-partition on the key
    (the barrier ≙ shuffle boundary) and each task builds its own
    table — SHUFFLE_HASH hint. At 100 TB this is the right plan when
    the dimension outgrows the broadcast threshold; AQE will demote it
    back to broadcast if runtime stats allow.
    """
    li, pt = _li_pt(spark, sf_dir)
    j = li.join(pt.hint("shuffle_hash"), li.l_partkey == pt.p_partkey)
    return _part1_agg(j)


# --------------------------------------------------------------------------
# 6. agg_scalar_avg — scalar integer-division average
# --------------------------------------------------------------------------
@query(
    "agg_scalar_avg",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) // COUNT(*) AS BIGINT)
             AS avg_extprice,
           COUNT(*) AS cnt
    FROM lineitem
    """,
    bench=True,
)
def agg_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG as SUM DIV COUNT with partial→final aggregation.

    Reference: per-thread partials {u64 sum, u32 count}
    (``q4112_hj.c:26-29,105,120-121``) merged by the coordinator and
    floor-divided (``:256-274``). Spark: HashAggregateExec partial on
    every partition, exchange of one row per partition, final merge —
    identical dataflow, and the integer DIV keeps the reference's
    integer-precision contract.
    """
    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    return li.agg(
        F.expr(
            "sum(CAST(FLOOR(l_extendedprice) AS BIGINT)) DIV count(*)"
        ).alias("avg_extprice"),
        F.count(F.lit(1)).alias("cnt"),
    )


# --------------------------------------------------------------------------
# 7. agg_groupby_avg — grouped integer average over the join
# --------------------------------------------------------------------------
@query(
    "agg_groupby_avg",
    oracle=f"""
    SELECT l_suppkey,
           CAST(SUM({REV}) // COUNT(*) AS BIGINT) AS avg_rev,
           COUNT(*) AS cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY l_suppkey
    """,
    bench=True,
)
def agg_groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + hash group-by with per-group integer average.

    Reference: global CAS-claimed aggregate table keyed by store_id
    (``q4112.c:169-201``) updated during the probe (``:210-300``).
    Spark: broadcast-join probe feeds a partial HashAggregate in the
    same codegen stage, then one shuffle on l_suppkey for the final
    merge — the reference's thread-local cache + global table
    (``q4112.c:232-284``) is exactly partial→final aggregation.
    """
    li, pt = _li_pt(spark, sf_dir)
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    return j.groupBy("l_suppkey").agg(
        F.expr(f"sum({REV}) DIV count(*)").alias("avg_rev"),
        F.count(F.lit(1)).alias("cnt"),
    )


# --------------------------------------------------------------------------
# 8. agg_partial_cache — high-cardinality group-by (partial-agg stress)
# --------------------------------------------------------------------------
@query(
    "agg_partial_cache",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS avg_qty,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def agg_partial_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by with cardinality ≈ rows/4 — the partial-agg regime.

    Reference: the bonus-part thread-local pre-aggregation cache
    (2^13 entries, ``q4112.c:225-237``, evict-on-conflict ``:262-284``)
    exists to absorb updates before touching the contended global
    table. Spark's map-side partial aggregation IS that cache (sized
    by the memory manager, spilling instead of evicting), so this
    query is pure built-in; with l_orderkey cardinality ~rows/4 it
    exercises the cache-miss-heavy path the reference benchmarks at
    groups=1e6..1e8 (``q4112.csv:51-100``).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return li.groupBy("l_orderkey").agg(
        F.expr(f"sum({QTY}) DIV count(*)").alias("avg_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# 9. agg_avg_of_avgs — the flagship Part-2 query
# --------------------------------------------------------------------------
@query(
    "agg_avg_of_avgs",
    oracle=f"""
    WITH per_group AS (
        SELECT l_suppkey,
               CAST(SUM({REV}) // COUNT(*) AS BIGINT) AS g
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY l_suppkey
    )
    SELECT CAST(SUM(g) // COUNT(g) AS BIGINT) AS avg_of_avgs,
           COUNT(g) AS n_groups
    FROM per_group
    """,
    bench=True,
)
def agg_avg_of_avgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average of per-group integer averages (reference Part 2).

    ``SELECT AVG(t.avg) FROM (SELECT AVG(price*qty) … GROUP BY store)``
    with integer division at BOTH levels (``q4112.c:326`` per group,
    ``:576`` across groups). Plan: broadcast join → partial+final
    group agg on l_suppkey → single-row final agg. Two shuffles total
    (group exchange + global reduce of one row per partition); at
    100 TB the only wide exchange is on the group key, which AQE
    skew-splits if store-skew appears (the reference's heavy-hitter
    configs, ``q4112.csv:101-175``).
    """
    li, pt = _li_pt(spark, sf_dir)
    per_group = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.expr(f"sum({REV}) DIV count(*)").alias("g"))
    )
    return per_group.agg(
        F.expr("sum(g) DIV count(g)").alias("avg_of_avgs"),
        F.count("g").alias("n_groups"),
    )


# --------------------------------------------------------------------------
# 10. approx_distinct_fm — approximate COUNT(DISTINCT)
# --------------------------------------------------------------------------
@query("approx_distinct_fm", oracle=None, tags=("approx",))
def approx_distinct_fm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count (HLL++, the FM successor).

    Reference: Flajolet–Martin/PCSA bitmaps per thread, OR-merged at a
    barrier, estimate Σ2^ρ/0.77351 (``q4112.c:86-117,336-377``), used
    to pre-size the aggregate table. Spark sizes tables dynamically so
    the estimator survives as an API: ``approx_count_distinct`` (HLL++
    with rsd=0.01 here). No DuckDB oracle — estimator families differ;
    the pytest suite instead asserts |approx − exact| ≤ 5·rsd·exact.
    """
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    return li.agg(
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("approx_suppliers"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
    )


# --------------------------------------------------------------------------
# 11. filter_semijoin_sel — selectivity via semi-join existence
# --------------------------------------------------------------------------
@query(
    "filter_semijoin_sel",
    oracle=f"""
    SELECT COUNT(*) AS cnt,
           CAST(SUM({QTY}) // COUNT(*) AS BIGINT) AS avg_qty
    FROM lineitem
    WHERE EXISTS (SELECT 1 FROM part
                  WHERE p_partkey = l_partkey AND p_size <= 25)
    """,
)
def filter_semijoin_sel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence filtering: keep probe rows whose key has a partner.

    Reference: non-matching outer tuples silently drop out of the
    probe loop (``q4112_hj_1.c:60-72``); selectivity is a generator
    parameter (``q4112.h:20-22,31-33``). Spark spells the same physics
    as a LEFT SEMI broadcast join — the build side carries only keys,
    no payload columns survive, and the fact table never shuffles.
    """
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pt = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 25)
        .select("p_partkey")
    )
    kept = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey, "left_semi")
    return kept.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr(f"sum({QTY}) DIV count(*)").alias("avg_qty"),
    )


# --------------------------------------------------------------------------
# 12. project_expr — arithmetic projection (codegen-fused)
# --------------------------------------------------------------------------
@query(
    "project_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_int,
           CAST(FLOOR(l_discount * 100) AS BIGINT) AS disc_pct,
           CAST(FLOOR(l_extendedprice) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100) AS BIGINT)) AS net_x100
    FROM lineitem
    """,
)
def project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise widened arithmetic, never materialized separately.

    Reference: ``price * quantity`` computed in uint64 at the use site
    (``q4112_nlj_1.c:21``, ``q4112.c:252``). Spark: the projection
    lives inside WholeStageCodegen fused with the scan — no
    intermediate columnar buffer, same as the reference's fused loop.
    """
    li = table(spark, sf_dir, "lineitem")
    price = F.floor("l_extendedprice").cast("long")
    disc = F.floor(F.col("l_discount") * 100).cast("long")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        price.alias("price_int"),
        disc.alias("disc_pct"),
        (price * (F.lit(100) - disc)).alias("net_x100"),
    )


# --------------------------------------------------------------------------
# 13. datagen_synthetic — q4112-shaped generator with exact oracle
# --------------------------------------------------------------------------
# Generator parameters (mirroring q4112_main.c:45-56):
#   inner_tuples=2000, inner_val_max=50 (price), outer_tuples=60000,
#   outer_selectivity=0.5 (FK domain = 2×inner ⇒ half the probes hit),
#   groups=100 (store_id), outer_val_max=20 (quantity).
# All columns are pure modular arithmetic on the row index — no RNG —
# so the identical formulas run in DuckDB as the oracle, replacing the
# opaque q4112_gen.o's "generator computes the answer" contract
# (q4112.h:13, q4112_main.c:127).
_GEN = dict(n_inner=2000, n_outer=60000, fk_domain=4000, groups=100,
            price_max=50, qty_max=20)

_DATAGEN_ORACLE = f"""
    WITH items AS (
        SELECT CAST(range AS BIGINT) AS id,
               1 + (CAST(range AS BIGINT) * 2654435761) % {_GEN["price_max"]} AS price
        FROM range(1, {_GEN["n_inner"] + 1})
    ),
    orders_g AS (
        SELECT 1 + (CAST(range AS BIGINT) * 40503 + 7) % {_GEN["fk_domain"]} AS item_id,
               1 + (CAST(range AS BIGINT) * 97 + 13) % {_GEN["groups"]} AS store_id,
               1 + (CAST(range AS BIGINT) * 31 + 3) % {_GEN["qty_max"]} AS quantity
        FROM range(0, {_GEN["n_outer"]})
    ),
    per_store AS (
        SELECT store_id,
               CAST(SUM(price * quantity) // COUNT(*) AS BIGINT) AS g,
               COUNT(*) AS cnt
        FROM orders_g JOIN items ON items.id = orders_g.item_id
        GROUP BY store_id
    )
    SELECT CAST(SUM(g) // COUNT(g) AS BIGINT) AS avg_of_avgs,
           COUNT(g) AS n_groups,
           CAST(SUM(cnt) AS BIGINT) AS matched_rows
    FROM per_store
"""


@query("datagen_synthetic", oracle=_DATAGEN_ORACLE, tags=("generator",))
def datagen_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic q4112-shaped data + the Part-2 answer over it.

    Replaces the opaque ``q4112_gen.o`` (``README.md:26-28`` in the
    reference) with seedless modular arithmetic over ``spark.range``:
    size / FK-selectivity / group-count are parameters exactly as in
    ``q4112_main.c:45-56``, and because the formulas are pure integer
    expressions the DuckDB oracle regenerates the identical dataset —
    the generator-computes-the-oracle contract of ``q4112.h:13``.
    At scale ``spark.range`` is embarrassingly parallel (no input).
    """
    g = _GEN
    items = spark.range(1, g["n_inner"] + 1).select(
        F.col("id"),
        (F.col("id") * 2654435761 % g["price_max"] + 1).alias("price"),
    )
    orders_g = spark.range(0, g["n_outer"]).select(
        ((F.col("id") * 40503 + 7) % g["fk_domain"] + 1).alias("item_id"),
        ((F.col("id") * 97 + 13) % g["groups"] + 1).alias("store_id"),
        ((F.col("id") * 31 + 3) % g["qty_max"] + 1).alias("quantity"),
    )
    per_store = (
        orders_g.join(F.broadcast(items), items.id == orders_g.item_id)
        .groupBy("store_id")
        .agg(
            F.expr("sum(price * quantity) DIV count(*)").alias("g"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return per_store.agg(
        F.expr("sum(g) DIV count(g)").alias("avg_of_avgs"),
        F.count("g").alias("n_groups"),
        F.sum("cnt").alias("matched_rows"),
    )
