"""Relational EXT operators (SURVEY.md §2.2, #14–#26).

None of these exist in the reference (its only join is equi/inner/
PK–FK, ``q4112_hj.c:109-129``; its only ordering is none) — they are
the idiomatic Spark generalizations of the same machinery: one hash
table, different emit rules (outer/semi/anti), one sort, different
consumers (sort-merge join, windows, top-k).

Determinism conventions (FIXTURES.md):
- DOUBLE measures are cast to DECIMAL(18,6) *before* SUM so parallel
  summation order cannot perturb values; the *final* value is cast
  back to DOUBLE so Spark and DuckDB emit the identical float64.
- Every computed integer is pinned to BIGINT on both sides (DuckDB
  sums/years return HUGEINT/BIGINT where Spark returns LONG/INT).
- Windows and top-k totally order their frames with unique-key
  tiebreakers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from database_join_spark.catalog import table
from database_join_spark.functions import DSUM
from database_join_spark.queries import query


def _dsum(col: str, alias: str) -> F.Column:
    return F.expr(DSUM.format(c=col)).alias(alias)


# --------------------------------------------------------------------------
# 14. join_broadcast — explicit broadcast hash join over a dimension
# --------------------------------------------------------------------------
@query(
    "join_broadcast",
    oracle=f"""
    SELECT p_brand,
           COUNT(*) AS n_lines,
           {DSUM.format(c="l_extendedprice")} AS sum_extprice
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand
    """,
    bench=True,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension broadcast join + grouped decimal-stable aggregation.

    Generalizes the reference's small-inner build (``q4112_hj_1.c:30``;
    every published config keeps the inner ≤1e8 and RAM-resident,
    ``README.md:55-67``). At 100 TB the dimension (part) is the ONLY
    side that may be broadcast; the fact streams through unshuffled
    until the group-by exchange on p_brand (tiny key domain → AQE
    coalesces the post-shuffle partitions).
    """
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _dsum("l_extendedprice", "sum_extprice"),
        )
    )


# --------------------------------------------------------------------------
# 15. join_sortmerge — fact-to-fact sort-merge join
# --------------------------------------------------------------------------
@query(
    "join_sortmerge",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           {DSUM.format(c="l_extendedprice")} AS sum_extprice
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    bench=True,
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-merge join of two fact tables (neither broadcastable).

    The reference's large-inner configs (inner=1e8, ``q4112_hj.csv:
    101-200``) are the regime where a shared hash table stops fitting
    per-core caches; Spark's answer is SMJ: shuffle both sides on the
    key, sort, merge — O(n log n) but spill-safe and skew-splittable
    by AQE, which is what survives 100 TB fact-fact joins. MERGE hint
    pins the strategy for plan-shape parity.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _dsum("l_extendedprice", "sum_extprice"),
        )
    )


# --------------------------------------------------------------------------
# 16. join_outer — left outer join with null-preserving aggregation
# --------------------------------------------------------------------------
@query(
    "join_outer",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_rows,
           COUNT(l.l_orderkey) AS n_matched,
           CAST(SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched
    FROM part p
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 45) l
      ON l.l_partkey = p.p_partkey
    GROUP BY p_brand
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join: unmatched build rows survive with NULL payload.

    Different emit rule over the same probe loop as the reference's
    inner join (``q4112_hj.c:109-129`` silently drops misses; outer
    emits them null-padded). The filtered fact side makes real
    unmatched rows at every SF.
    """
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_partkey", "l_orderkey")
    )
    j = pt.join(li, li.l_partkey == pt.p_partkey, "left")
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_orderkey").alias("n_matched"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unmatched"),
    )


# --------------------------------------------------------------------------
# 17. join_semi_anti — existence / non-existence joins
# --------------------------------------------------------------------------
@query(
    "join_semi_anti",
    oracle="""
    SELECT c_mktsegment, 'has_1995_orders' AS kind, COUNT(*) AS cnt
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate < TIMESTAMP '1996-01-01')
    GROUP BY c_mktsegment
    UNION ALL
    SELECT c_mktsegment, 'no_1995_orders' AS kind, COUNT(*) AS cnt
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate < TIMESTAMP '1996-01-01')
    GROUP BY c_mktsegment
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (exists / not-exists probes).

    The reference's probe loop already *is* a semi-join test —
    existence decides emission (``q4112_hj_1.c:60-72``); semi/anti
    expose the two outcomes as first-class operators. Payload-free
    build side: only o_custkey is read — at scale the semi-join build
    is a deduplicated key set, far smaller than the orders table.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # Filtered probe set: every customer has *some* order at every SF,
    # so the anti side would be trivially empty without the date cut.
    o_keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    semi = (
        c.join(o_keys, c.c_custkey == o_keys.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("c_mktsegment", F.lit("has_1995_orders").alias("kind"), "cnt")
    )
    anti = (
        c.join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("c_mktsegment", F.lit("no_1995_orders").alias("kind"), "cnt")
    )
    return semi.unionByName(anti)


# --------------------------------------------------------------------------
# 18. join_range — non-equi (band) theta-join
# --------------------------------------------------------------------------
_SIZE_BANDS = [(1, 10, "small"), (10, 25, "medium"), (25, 51, "large")]

@query(
    "join_range",
    oracle=f"""
    WITH bands(lo, hi, size_class) AS (
        VALUES {", ".join(f"({lo}, {hi}, '{c}')" for lo, hi, c in _SIZE_BANDS)}
    )
    SELECT size_class,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(FLOOR(p_retailprice) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS avg_price
    FROM part JOIN bands ON p_size >= lo AND p_size < hi
    GROUP BY size_class
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: rows matched to [lo, hi) ranges, not equal keys.

    The reference's NLJ evaluates an arbitrary predicate per pair
    (``q4112_nlj_1.c:18-26``) — range predicates are its practical
    use. Spark plans BroadcastNestedLoopJoin with the tiny band table
    replicated; at 100 TB the scale path is binning: compute the band
    key with a CASE/width_bucket projection (O(n), no join) — kept as
    a join here because *operator* coverage is the point.
    """
    pt = table(spark, sf_dir, "part").select("p_size", "p_retailprice")
    bands = spark.createDataFrame(_SIZE_BANDS, "lo INT, hi INT, size_class STRING")
    j = pt.join(
        F.broadcast(bands),
        (pt.p_size >= bands.lo) & (pt.p_size < bands.hi),
    )
    return j.groupBy("size_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.expr(
            "sum(CAST(FLOOR(p_retailprice) AS BIGINT)) DIV count(*)"
        ).alias("avg_price"),
    )


# --------------------------------------------------------------------------
# 18b. join_range_binned — the O(n) scale path for the band join
# --------------------------------------------------------------------------
@query(
    "join_range_binned",
    oracle=f"""
    WITH bands(lo, hi, size_class) AS (
        VALUES {", ".join(f"({lo}, {hi}, '{c}')" for lo, hi, c in _SIZE_BANDS)}
    )
    SELECT size_class,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(FLOOR(p_retailprice) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS avg_price
    FROM part JOIN bands ON p_size >= lo AND p_size < hi
    GROUP BY size_class
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band join rewritten as an O(n) binning projection — the
    100 TB spelling ``join_range`` documents. Because the bands are
    disjoint [lo, hi) intervals, membership is a pure function of
    p_size: a CASE chain assigns each row its band in the scan
    (WholeStageCodegen, zero join, zero extra shuffle beyond the
    group-by), where the BNLJ spelling replicates every probe row
    against every band. Identical oracle to ``join_range`` — the two
    spellings must agree bit-for-bit; overlapping bands would need
    the join form (a row can land in several) and are out of contract.
    """
    pt = table(spark, sf_dir, "part").select("p_size", "p_retailprice")
    size_class = F.lit(None).cast("string")
    for lo, hi, cls in reversed(_SIZE_BANDS):
        size_class = F.when(
            (F.col("p_size") >= lo) & (F.col("p_size") < hi), F.lit(cls)
        ).otherwise(size_class)
    return (
        pt.withColumn("size_class", size_class)
        .filter(F.col("size_class").isNotNull())
        .groupBy("size_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr(
                "sum(CAST(FLOOR(p_retailprice) AS BIGINT)) DIV count(*)"
            ).alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
# 19. agg_grouping_sets — ROLLUP hierarchy aggregation
# --------------------------------------------------------------------------
@query(
    "agg_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: per-(flag,status), per-flag, and grand-total in one pass.

    Generalizes the reference's two-level aggregation (per-group then
    across groups, ``q4112.c:307-331,576``) to an n-level hierarchy.
    Spark expands rollup into grouping sets inside a single Expand +
    aggregate — one shuffle for all levels. Subtotal NULLs are
    COALESCEd to 'ALL' (the fixture has no real NULLs) so both engines
    emit sortable, unambiguous keys.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.expr("CAST(sum(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)").alias(
                "sum_qty"
            ),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "cnt",
        )
    )


# --------------------------------------------------------------------------
# 20. agg_distinct — exact COUNT(DISTINCT) (the FM estimator's oracle)
# --------------------------------------------------------------------------
@query(
    "agg_distinct",
    oracle="""
    SELECT l_suppkey,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT(DISTINCT) per group.

    The exact counterpart of the reference's FM estimate
    (``q4112.c:352-354``). Spark plans multiple distinct aggregates
    via Expand (one row per distinct-column per input row) — a
    deliberate single-shuffle trade documented here because at 100 TB
    the Expand multiplier matters; prefer approx_count_distinct (#10)
    when estimates suffice.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_orderkey"
    )
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# 21. window_rank_topk — ranking window + top-k per group
# --------------------------------------------------------------------------
@query(
    "window_rank_topk",
    oracle="""
    SELECT l_suppkey, rnk, l_orderkey, l_linenumber, l_extendedprice
    FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
               ) AS BIGINT) AS rnk
        FROM lineitem
    ) t WHERE rnk <= 3
    """,
    bench=True,
)
def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 lineitems per supplier by price (ranking window).

    The per-group iteration the reference does over its aggregate
    table (``q4112.c:324-329``), generalized to ordered ranking.
    Unique-key tiebreak (l_orderkey, l_linenumber) totally orders each
    frame → hash-stable. Scale: rank+filter pushes a WindowGroupLimit
    (Spark ≥3.5) below the shuffle, so each map task keeps only its
    local top-3 per group before exchanging — the distributed top-k
    pattern that survives 100 TB.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        )
    )
    return (
        li.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("l_suppkey", "rnk", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


# --------------------------------------------------------------------------
# 22. window_analytic — running sums, lag, explicit frames
# --------------------------------------------------------------------------
@query(
    "window_analytic",
    oracle="""
    SELECT o_custkey, o_orderkey,
           o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend,
           LAG(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
           ) AS prev_price,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
           ) AS BIGINT) AS order_seq
    FROM orders
    """,
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running sum (explicit ROWS frame) + LAG.

    No ordering exists anywhere in the reference — this is pure EXT
    surface. The running sum accumulates DECIMAL (exact, associative)
    and emits DOUBLE, so the prefix sums are bit-identical in both
    engines regardless of partition order; frames are totally ordered
    by (o_orderdate, o_orderkey).
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(run)
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


# --------------------------------------------------------------------------
# 23. sort_limit — global top-k (TakeOrderedAndProject)
# --------------------------------------------------------------------------
@query(
    "sort_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT.

    Spark plans TakeOrderedAndProject: per-partition top-k heaps, then
    a k-way driver merge — no global sort ever materializes, which is
    the only top-k that works at 100 TB. Tiebreak on o_orderkey keeps
    the result deterministic.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(10)


# --------------------------------------------------------------------------
# 24. set_ops — UNION / INTERSECT / EXCEPT (distinct semantics)
# --------------------------------------------------------------------------
@query(
    "set_ops",
    oracle="""
    SELECT 'intersect' AS op, COUNT(*) AS cnt FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders
    )
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS cnt FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders
    )
    UNION ALL
    SELECT 'union' AS op, COUNT(*) AS cnt FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT o_custkey FROM orders
    )
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION (SQL distinct semantics).

    Spark compiles all three onto the same machinery as the joins
    above: INTERSECT → left-semi over distinct, EXCEPT → left-anti,
    UNION → union-all + dedup exchange.
    """
    building = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    ordered = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))

    def count_of(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit(op).alias("op"), "cnt"
        )

    return (
        count_of(building.intersect(ordered), "intersect")
        .unionByName(count_of(building.exceptAll(ordered).distinct(), "except"))
        .unionByName(count_of(building.union(ordered).distinct(), "union"))
    )


# --------------------------------------------------------------------------
# 25. scalar_funcs — string/date/math scalar function pack
# --------------------------------------------------------------------------
@query(
    "scalar_funcs",
    oracle="""
    SELECT o_orderkey,
           UPPER(SUBSTRING(o_orderpriority, 1, 3)) AS prio3,
           CAST(LENGTH(o_orderpriority) AS BIGINT) AS prio_len,
           CONCAT_WS('-', o_orderstatus, o_orderpriority) AS status_prio,
           CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
           CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
           CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS BIGINT) AS days_since_epoch95,
           ABS(CAST(FLOOR(o_totalprice) AS BIGINT) - 100000) AS price_dev,
           CAST(FLOOR(SQRT(CAST(FLOOR(o_totalprice) AS BIGINT))) AS BIGINT)
             AS price_sqrt_floor
    FROM orders
    """,
)
def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function pack: string, date, and math built-ins.

    All JVM-side Catalyst expressions inside WholeStageCodegen — the
    'built-in first' rule (UDFs are the slow path; see udf_surface for
    the sanctioned escape hatch). Every computed integer is pinned to
    BIGINT for cross-engine dtype stability.
    """
    o = table(spark, sf_dir, "orders")
    price_int = F.floor("o_totalprice").cast("long")
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 3)).alias("prio3"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch95"),
        F.abs(price_int - 100000).alias("price_dev"),
        F.floor(F.sqrt(price_int)).cast("long").alias("price_sqrt_floor"),
    )


# --------------------------------------------------------------------------
# 26. array_map_json — semi-structured: JSON parse + array HOFs
# --------------------------------------------------------------------------
@query(
    "array_map_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(k_val) // COUNT(*) AS BIGINT) AS avg_k,
           CAST(SUM(arr_sum) AS BIGINT) AS total_arr_sum
    FROM (
        SELECT event_type,
               CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_val,
               -- arr = sequence(1, k%5+1); its sum has the closed form n(n+1)/2
               ((CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) % 5 + 1)
                * (CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) % 5 + 2))
               // 2 AS arr_sum
        FROM events
    ) t
    GROUP BY event_type
    """,
)
def array_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + array construction + higher-order aggregate.

    Far outside the reference's flat-uint32 model (SURVEY §1.2). The
    Spark side exercises from_json (schema'd parse), sequence (array
    build), and aggregate (fold — JVM-side lambda, not a Python UDF).
    The oracle computes the same values via regexp + the closed-form
    sum, so parity is exact without requiring DuckDB's JSON extension.
    """
    ev = table(spark, sf_dir, "events").select("event_type", "props")
    k = F.from_json("props", "k BIGINT").getField("k")
    arr = F.sequence(F.lit(1).cast("long"), k % 5 + 1)
    arr_sum = F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (
        ev.select("event_type", k.alias("k_val"), arr_sum.alias("arr_sum"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr("sum(k_val) DIV count(*)").alias("avg_k"),
            F.sum("arr_sum").alias("total_arr_sum"),
        )
    )


# --------------------------------------------------------------------------
# 26b. variant_json — semi-structured VARIANT type (Spark 4)
# --------------------------------------------------------------------------
@query(
    "variant_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k,
           MAX(user_id) AS max_nested_uid,
           COUNT(*) AS n_missing_field
    FROM events GROUP BY event_type
    """,
    tags=("relational", "semi-structured"),
)
def variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's VARIANT type end-to-end: ``parse_json`` over the
    fixture's REAL JSON column (``events.props``) plus a constructed
    nested document, typed extraction with ``variant_get`` /
    ``try_variant_get``, and missing-path null semantics.

    VARIANT is Spark's open-format semi-structured answer (shredded
    binary encoding, no schema declaration up front) — at 100 TB it
    replaces schema-on-read ``from_json`` for heterogeneous event
    payloads: parse once at ingest, extract typed paths per query,
    no full-schema inference pass. array_map_json covers the classic
    ``from_json``-with-schema path; this covers the schemaless one.

    The oracle is an INDEPENDENT path: DuckDB computes the same
    values from the base columns (regexp over the raw JSON text,
    user_id directly), so parity proves the variant round-trip
    (to_json → parse_json → variant_get) is lossless for integers —
    the nested doc carries only integer fields for exactly that
    reason (double round-trips through JSON text are repr-sensitive;
    documented, not exercised).
    """
    ev = table(spark, sf_dir, "events").select(
        "event_type", "props", "event_id", "user_id"
    )
    enriched = ev.select(
        "event_type",
        # real fixture JSON → variant
        F.parse_json("props").alias("v"),
        # constructed nested doc → variant (integers only: JSON-text
        # round-trip is exact for int64, repr-sensitive for doubles)
        F.parse_json(
            F.to_json(
                F.struct(
                    F.col("event_id"),
                    F.struct(F.col("user_id")).alias("nested"),
                )
            )
        ).alias("doc"),
    )
    return (
        enriched.select(
            "event_type",
            F.variant_get("v", "$.k", "bigint").alias("k"),
            F.variant_get("doc", "$.nested.user_id", "bigint").alias("uid"),
            # missing path: try_variant_get returns NULL, never errors
            F.try_variant_get("v", "$.absent", "bigint").alias("absent"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.max("uid").alias("max_nested_uid"),
            F.sum(F.col("absent").isNull().cast("long")).alias(
                "n_missing_field"
            ),
        )
    )
