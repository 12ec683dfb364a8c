"""Extended relational surface beyond SURVEY §2's inventory: as-of
join, pivot, and the Python UDTF surface.

These round out the 'a reference user could switch' completeness bar:
time-series point-in-time joins (the operator Spark famously lacks as
a builtin), wide-format reshaping, and table-valued functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from database_join_spark.catalog import table
from database_join_spark.functions import DSUM
from database_join_spark.operators.text import TOKENS_DUCK
from database_join_spark.queries import query

#: events.event_type domain (fixtures; FIXTURES.md §B) — pivot needs
#: the column set pinned up front to keep the schema deterministic
#: (Spark's inferring pivot runs an extra distinct job AND its column
#: order would float with the data).
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --------------------------------------------------------------------------
# join_asof / join_asof_bucketed — point-in-time (as-of) join
# --------------------------------------------------------------------------
#: Shared oracle: both physical strategies compute the same relation,
#: so both hash-compare against the one DuckDB spelling (with an
#: explicit (o_orderdate, o_orderkey) DESC tiebreak, because DuckDB's
#: native ASOF JOIN picks an arbitrary row on time ties and an oracle
#: must not be arbitrary).
_ASOF_ORACLE = """
    WITH ranked AS (
      SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
             ) AS rn
      FROM events e JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, o_orderkey, o_totalprice
    FROM ranked WHERE rn = 1
    """


def _asof_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return ev, orders


_ASOF_ARGS = dict(
    left_key="user_id",
    right_key="o_custkey",
    left_time="ts",
    right_time="o_orderdate",
    tiebreak="o_orderkey",
    payload=["o_totalprice"],
)


@query(
    "join_asof",
    # rotated out of the 50-slot driver gate (green r01 row; the
    # bucketed scale variant below holds the gated slot, and pytest
    # hash-parity still runs the identical check here)
    oracle=_ASOF_ORACLE,
    tags=("extras", "join"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest order at-or-before the
    event time for that user (operators/asof.py windowed strategy).

    Spark has no built-in ASOF; this strategy is equi+range join on
    (key, time ≤ ts) then argmax per event. No broadcast: orders is a
    FACT table — the equi component keys a shuffle join. Correct at
    any scale, but a hot user's candidate set is ALL their earlier
    orders per event; join_asof_bucketed bounds that fan-in.
    """
    from database_join_spark.operators.asof import asof_join_windowed

    ev, orders = _asof_inputs(spark, sf_dir)
    return asof_join_windowed(ev, orders, **_ASOF_ARGS).select(
        "event_id", "user_id", "o_orderkey", "o_totalprice"
    )


@query("join_asof_bucketed", oracle=_ASOF_ORACLE, tags=("extras", "join"),
)
def join_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, time-bucketed strategy — the 100 TB path promised
    by round 1's docstring, now implemented (operators/asof.py).

    Both sides bucket by (user, 30-day window); candidates per event =
    same-bucket orders (time-filtered in the equi join) plus exactly
    one carry-forward row — the latest order from strictly earlier
    buckets, computed as a running max over the per-(user, bucket)
    argmax table (range frame ending at -1). Fan-in per event is
    bounded by bucket width instead of order history length, so a hot
    user cannot create a quadratic pair blow-up. Gated against the
    SAME oracle as join_asof: the two strategies must be bit-equal.
    """
    from database_join_spark.operators.asof import asof_join_bucketed

    ev, orders = _asof_inputs(spark, sf_dir)
    return asof_join_bucketed(
        ev, orders, bucket_seconds=30 * 24 * 3600, **_ASOF_ARGS
    ).select("event_id", "user_id", "o_orderkey", "o_totalprice")


# --------------------------------------------------------------------------
# pivot_wide — long→wide reshaping with a pinned column domain
# --------------------------------------------------------------------------
@query(
    "pivot_wide",
    oracle=f"""
    SELECT user_id,
           {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS n_{t}"
               for t in EVENT_TYPES
           )},
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END)
                AS DOUBLE) AS purchase_value
    FROM events GROUP BY user_id
    """,
    tags=("extras",),
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts into one column per event type, plus a
    pivoted decimal-stable value sum.

    The pivot value list is pinned (EVENT_TYPES) so the schema is
    deterministic and Spark skips the extra distinct-values job — at
    100 TB an unpinned pivot is both a schema hazard and a full extra
    scan. Under the hood this is exactly one hash aggregation with
    conditional sums, which is what the oracle spells out.
    """
    ev = table(spark, sf_dir, "events")
    counts = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (user, type) pair never occurred;
    # the wide contract wants 0, and column names need the n_ prefix
    for t in EVENT_TYPES:
        counts = counts.withColumnRenamed(t, f"n_{t}").withColumn(
            f"n_{t}", F.coalesce(F.col(f"n_{t}"), F.lit(0)).cast("long")
        )
    pv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.expr(DSUM.format(c="value")).alias("purchase_value")
        )
    )
    return counts.join(pv, "user_id", "left").withColumn(
        "purchase_value", F.coalesce(F.col("purchase_value"), F.lit(0.0))
    )


# --------------------------------------------------------------------------
# agg_salted — two-phase salted aggregation (skew pattern, in the gate)
# --------------------------------------------------------------------------
@query(
    "agg_salted",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("extras", "skew"),
)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted SUM grouped by a 3-value (maximally skewed)
    key — the de-skew pattern as a gated query.

    Must be bit-equal to the plain GROUP BY (associative aggregate,
    deterministic salt), which is exactly what the oracle asserts.
    The salt stage fans the 3 giant groups over salts×3 reducers
    before the final 3-row merge (operators/skew.py; the reference's
    thread-local-cache motivation, q4112.c:225-237, README-2.txt:41-43).
    """
    from database_join_spark.operators.skew import salted_groupby_sum

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.floor("l_quantity").cast("long").alias("q")
    )
    return salted_groupby_sum(li, ["l_returnflag"], "q", "sum_qty", salts=8)


@query(
    "agg_repartition_first",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS total
    FROM events GROUP BY user_id
    """,
    tags=("extras", "agg", "scale"),
)
def agg_repartition_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-reduction-regime aggregate spelling as a gated-surface
    query: ``repartition(key)`` BEFORE the group-by, so no partial
    hash map is built pre-exchange and each reducer aggregates all
    rows of its keys once. Semantically identical to the plain GROUP
    BY — exactly what the oracle asserts — while the plan carries ONE
    key exchange of raw rows instead of partial rows.

    Why it exists (REGROUP_PROBE.json, BASELINE.md §repartition-
    first): at groups ≳ rows-per-task the standard partial aggregate
    reduces nothing but still pays an ~rows-per-task-entry map build
    + spill per task; the rewrite was the best measured arm at
    groups=1e8/1e9 rows, beating round 4's conf-tuned plan on every
    host state. ``plans/sizing.py decide()`` selects it from a
    cardinality estimate, with a sampled top-key-share guard (a
    single hot key must keep the partial-agg plan). Fixture scale is
    correctness-only; the regime evidence lives in the probe.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.floor("value").cast("long").alias("v")
    )
    return (
        ev.repartition("user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("total"),
        )
    )


@query(
    "agg_bucketed_exchange_free",
    oracle="""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
               AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    """,
    tags=("extras", "agg", "scale", "layout"),
)
def agg_bucketed_exchange_free(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The no-reduction-regime ENDGAME spelling as a gated-surface
    query (round 9): write the fact ONCE as an aligned bucketed
    table on the group key, and ``groupBy`` on that key inherits
    the bucketed hash partitioning — ZERO exchange in the per-query
    plan (pinned exchange-free in tests/test_scale_patterns.py),
    where `agg_repartition_first` still pays one raw-row exchange
    per query. Semantically identical to the plain GROUP BY —
    exactly what the oracle asserts.

    Why it exists (BUCKETED_AGG_PROBE.json, BASELINE.md §bucketed
    aggregate): at 1e9 rows / 1e8 uniform groups the exchange IS the
    gap vs the reference's shared in-RAM CAS table
    (q4112.c:169-300) — aligned+sorted B=128 answers in 5.96 s warm
    / 7.85 s cold vs the reference's 7.64 s and 53.5 s for the
    repartition-first control; the last weak regime exits. The
    build (102 s at 1e9 rows) is the table's write-once layout
    obligation, amortized across every query on the key — the
    large_inner join discipline transferred to aggregation. SORTED
    buckets deliberately: the sort is the SCAN's win, not the
    agg's (store_id-sorted files delta-encode 1.26 GB vs 6.7 GB;
    the unsorted arm measured 13.7 s scan-bound).

    Fixture scale is correctness-only: build + query both run here
    (seconds at sf≤0.01); the regime evidence lives in the probe.
    The table is EXTERNAL at a deterministic per-fixture temp
    location. Since round 10 the build is WRITE-ONCE with
    fingerprint validation (the stored-ANN discipline, VERDICT r09
    Wrong #2): a ``_GRAFT_SRC_KEY`` marker records the SOURCE
    lineitem's ``parquet_table_key`` (path + per-file size +
    ns-mtime) plus the layout spec; a repeat call whose marker
    matches re-registers the catalog entry over the existing files
    (metadata-only DDL — catalog state is per-process) and skips
    the rewrite, while any source rewrite, schema change, or
    bucket-count change rotates the key and rebuilds. Staleness-
    proof AND amortized — the write-once semantics the operator's
    100 TB story claims (tests/test_extras pins reuse: second call
    rewrites nothing, plan stays exchange-free, source touch
    rebuilds).
    """
    import hashlib
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from database_join_spark.operators.bucketing import (
        write_bucketed_aligned,
    )
    from database_join_spark.plans.stats import parquet_table_key

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor("l_quantity").cast("long").alias("q"),
    )
    tag = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    # uid-keyed like the ANN store (ADVICE r09): avoids cross-user
    # squatting/races on shared hosts.
    loc = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bucketed_agg_u{os.getuid()}", tag
    )
    src = os.path.join(sf_dir, "lineitem.parquet")
    src_key = hashlib.sha256(
        (
            parquet_table_key(src)
            + "|buckets=8|cols=l_orderkey,q|v1"
        ).encode()
    ).hexdigest()
    marker = Path(loc, "_GRAFT_SRC_KEY")
    spark.sql("DROP TABLE IF EXISTS graft_li_agg_bucketed")
    # The marker alone isn't proof the DATA survived: rmtree with
    # ignore_errors=True can leave a marker beside zero parquet
    # files, and re-registering over an empty dir silently returns
    # empty results (ADVICE r10). Require at least one data file.
    has_data = marker.exists() and any(Path(loc).glob("*.parquet"))
    if has_data and marker.read_text() == src_key:
        # fresh files: re-register the external bucketed table over
        # them (underscore-prefixed marker is invisible to the
        # reader; bucket ids come from the file names). SORTED BY
        # matches write_bucketed_aligned's default sortBy so the
        # build and reuse catalog entries carry identical metadata.
        spark.sql(
            "CREATE TABLE graft_li_agg_bucketed "
            "(l_orderkey BIGINT, q BIGINT) USING parquet "
            "CLUSTERED BY (l_orderkey) "
            "SORTED BY (l_orderkey) INTO 8 BUCKETS "
            f"LOCATION '{loc}'"
        )
    else:
        # stale or absent: clear both halves (data files here,
        # catalog entry above) and rewrite; marker lands LAST so a
        # torn build can never validate
        shutil.rmtree(loc, ignore_errors=True)
        write_bucketed_aligned(
            li, "graft_li_agg_bucketed", 8, ["l_orderkey"], path=loc
        )
        marker.write_text(src_key)
    return (
        spark.table("graft_li_agg_bucketed")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("q").alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# join_salted — replicate-and-salt skew join as a gated query
# --------------------------------------------------------------------------
@query(
    "join_salted",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT) * p_size)
                AS BIGINT) AS size_weighted
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY l_returnflag
    """,
    tags=("extras", "join", "skew"),
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replicate-and-salt skew join (operators/skew.py
    salted_join) as a registry query: dimension replicated salts×,
    fact salted on a key-uncorrelated hash, join keyed on
    (key, salt) so a heavy-hitter key spreads over ``salts`` tasks
    instead of one straggler. Must be bit-equal to the plain join —
    exactly what the oracle asserts (agg_salted is the aggregation
    twin; this gates the join-side pattern the library had only as a
    pytest-covered kernel).

    AQE's skew-join split is the FIRST answer at scale (see the
    operator docstring); the explicit salt is for broadcast-
    ineligible dims with pre-known hot keys, where pre-committing to
    a bounded fan-out beats runtime re-planning.
    """
    from database_join_spark.operators.skew import salted_join

    fact = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_returnflag",
        F.floor("l_extendedprice").cast("long").alias("price"),
    )
    dim = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_size"
    )
    # The hint keeps the gated PLAN representative: at fixture scale
    # Catalyst would broadcast the replicated dim, which de-skews
    # nothing — the pattern exists precisely for dims a broadcast
    # cannot take, so the shuffle spelling is the honest one.
    return (
        salted_join(fact, dim.hint("shuffle_hash"), "l_partkey", salts=4)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("price") * F.col("p_size")).alias("size_weighted"),
        )
    )


# --------------------------------------------------------------------------
# join_skew_auto — the skew-join decision ladder driving a live plan
# --------------------------------------------------------------------------
@query(
    "join_skew_auto",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT) * p_size)
                AS BIGINT) AS size_weighted
    FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1
                      ELSE l_partkey END AS k,
                 l_returnflag, l_extendedprice
          FROM lineitem) f
    JOIN part ON p_partkey = f.k
    GROUP BY l_returnflag
    """,
    tags=("extras", "join", "skew", "sizing"),
)
def join_skew_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact⋈dim join whose strategy is CHOSEN by the planner
    (plans/sizing.decide_skewjoin, VERDICT r09 #1) — the join-side twin
    of the FM-sizing loop the reference runs for its aggregate
    (``q4112.c:336-377`` feeding the join of ``q4112_hj.c:95-133``).

    The fact plants a deterministic heavy hitter (half of lineitem
    lands on partkey 1 — SQL-expressible, so the oracle sees the
    identical key mapping); the planner samples the top key's share,
    counts the dim, and walks the measured ladder: broadcast if the
    dim fits 64 MB, stock gates if no heavy hitter, opened-gate AQE
    split (SKEWJOIN_PROBE's best arm) else, salted_join when conf
    control is unavailable. A registry query must not mutate its
    session, so this call runs with ``can_set_confs=False`` — the
    aqe_split branch is exercised by the probe's auto arm and the
    test_sizing pins. At fixture scale the decision is "broadcast"
    (part is tiny); test_sizing asserts the plan FOLLOWS the
    estimate, not a constant, by forcing the other branches.

    Since r11 the two estimate inputs read through the statistics
    catalog (plans/stats.plan_skewjoin_cached, VERDICT r10 #4): the
    first call per table version pays the sampled top-share pass +
    dim count (1.0–4.7 s at the probe's 4e8 rows); repeats are file
    reads. The key encodes the parquet fingerprint PLUS the key
    derivation, so a data rewrite or a different planted-skew
    spelling recomputes.
    """
    import os

    from database_join_spark.operators.skew import salted_join
    from database_join_spark.plans.stats import (
        parquet_table_key,
        plan_skewjoin_cached,
    )

    fact = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
        .otherwise(F.col("l_partkey"))
        .alias("k"),
        "l_returnflag",
        F.floor("l_extendedprice").cast("long").alias("price"),
    )
    dim = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), "p_size"
    )
    plan, _cached = plan_skewjoin_cached(
        fact,
        "k",
        dim,
        fact_table_key=(
            parquet_table_key(os.path.join(sf_dir, "lineitem.parquet"))
            + "|k=IF(l_orderkey%2=0,1,l_partkey)"
        ),
        dim_table_key=parquet_table_key(
            os.path.join(sf_dir, "part.parquet")
        ),
        can_set_confs=False,
    )
    if plan.strategy == "broadcast":
        joined = fact.join(F.broadcast(dim), on="k")
    elif plan.strategy == "salted":
        # fact rows carry payload beyond the key, so the default
        # row-hash salt has entropy (the bare-fact trap documented
        # on salted_join does not apply); shuffle_hash keeps the
        # replicated dim out of a pointless broadcast
        joined = salted_join(
            fact, dim.hint("shuffle_hash"), "k", salts=plan.salts
        )
    else:  # "plain" — stock AQE gates are already right
        joined = fact.join(dim, on="k")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("price") * F.col("p_size")).alias("size_weighted"),
    )


# --------------------------------------------------------------------------
# join_bloom_prefilter — manual Bloom probe-side pruning for shuffle joins
# --------------------------------------------------------------------------
@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice) AS BIGINT)) AS BIGINT)
             AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 5
    GROUP BY p.p_brand
    """,
    tags=("extras", "join", "scale"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dimension shuffle join with a MANUAL Bloom-bitmap
    prune on the probe side (operators/bloom.py): the dim side
    (parts with p_size ≤ 5, ~10%) builds a one-row bitmap over its
    join keys; fact rows that cannot match are dropped BEFORE the
    join exchange; the exact join then removes the ~n/2^17 false
    positives, so the result is identical to the plain join — which
    is exactly what the oracle asserts.

    Why manual: Spark's own runtime bloom filter
    (`spark.sql.optimizer.runtime.bloomFilter.*`) refused to inject
    for every shape we measured (LARGE_INNER_PROBE.json: no
    qualifying probe-side scan on generated frames; threshold
    conditions unmet even when opened on parquet) — this operator is
    the engine's explicit answer. The join is spelled SHUFFLE_HASH,
    not broadcast, because the 100 TB shape this exists for has a
    dim side past any broadcast threshold while its BITMAP is a few
    KiB regardless of key count: the probe side prunes to ~matching
    mass before paying its exchange, the decontam_bloom asymmetry
    generalized to equi-joins. At fixture scale the plan shape is
    what's exercised; the prune ratio is pinned by
    tests/test_extras.py.

    Since r07 the prune is ESTIMATE-DRIVEN, not hand-written
    (VERDICT r06 #7): ``plans.sizing.plan_prefilter`` HLL-estimates
    both key cardinalities and applies the prune only below the
    measured ~25% survivor envelope (BLOOM_JOIN_PROBE.json: 1.59×
    at 6.7% survivors), sizing the bitmap at 16 bits/dim-key. On
    the p_size ≤ 5 dim (~10% of parts) the estimate selects the
    prune; an unselective dim (all parts → survivor ~1.0) drops it
    and the plan loses the bitmap join — pinned by
    tests/test_sizing.py.
    """
    from database_join_spark.operators import bloom as B
    from database_join_spark.plans import sizing as Z

    dim = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_brand")
    )
    fact = table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.floor("l_extendedprice").cast("long").alias("price")
    )
    pf = Z.plan_prefilter(fact, "l_partkey", dim, "p_partkey")
    pruned = (
        B.prefilter(
            fact,
            "l_partkey",
            B.bitmap_of(dim, "p_partkey", pf.bits),
            pf.bits,
        )
        if pf.apply
        else fact
    )
    return (
        pruned.join(
            dim.hint("shuffle_hash"),
            dim.p_partkey == pruned.l_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("price").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# agg_avg_int_ext — the avg_int Catalyst session extension, end-to-end
# --------------------------------------------------------------------------
@query(
    "agg_avg_int_ext",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) // COUNT(*) AS BIGINT)
             AS avg_extprice,
           COUNT(*) AS cnt
    FROM lineitem
    """,
    tags=("extras", "agg", "extension"),
)
def agg_avg_int_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_scalar_avg``'s twin spelled through the ``avg_int``
    Catalyst extension (java_ext/src/AvgIntExtensions.java): the
    function resolves to ``sum(x) DIV count(x)`` at analysis time —
    the reference's integer-average contract (``q4112.c:300-334``) —
    and shares agg_scalar_avg's DuckDB oracle, so a green driver row
    proves the extension end-to-end under a harness-owned session
    (VERDICT r05 #8), not just under pytest's subprocess test.

    The session the driver hands us was built without
    ``spark.sql.extensions``, so the function is registered at
    runtime on the live FunctionRegistry
    (:func:`database_join_spark.functions.ext.install_avg_int`) —
    sound because ``avg_int`` leaves only built-in Sum/Count/
    IntegralDivide in the resolved plan (nothing extension-side ever
    reaches an executor). The argument is pre-cast to BIGINT so
    Count(child) counts exactly the rows COUNT(*) does (column is
    NOT NULL in the fixtures) and Sum carries the integer type.
    """
    from database_join_spark.functions.ext import install_avg_int

    install_avg_int(spark)
    table(spark, sf_dir, "lineitem").select(
        F.floor("l_extendedprice").cast("long").alias("p")
    ).createOrReplaceTempView("avg_int_ext_lineitem")
    return spark.sql(
        """
        SELECT avg_int(p) AS avg_extprice, count(*) AS cnt
        FROM avg_int_ext_lineitem
        """
    )


# --------------------------------------------------------------------------
# source_synthdocs — custom Python DataSource in the gate
# --------------------------------------------------------------------------
@query(
    "source_synthdocs",
    oracle="""
    SELECT CASE range % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'es'
           WHEN 2 THEN 'fr' WHEN 3 THEN 'de' ELSE 'zh' END AS lang,
           COUNT(*) AS n_docs
    FROM range(0, 2000) GROUP BY 1
    """,
    tags=("extras", "source"),
)
def source_synthdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the custom Python DataSource (sources/synthdocs)
    and aggregate — proves the connector works inside the driver's
    own session, not just under pytest.

    The oracle reproduces the source's lang assignment (doc_id mod 5
    over the requested row count) in pure SQL; sf_dir is unused (the
    source generates its input, like the reference's q4112_gen).
    """
    from database_join_spark.sources.synthdocs import register

    register(spark)
    docs = (
        spark.read.format("synthdocs")
        .option("rows", 2000)
        .option("partitions", 8)
        .load()
    )
    return docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# agg_quantile_exact / agg_quantile_approx — distribution statistics
# --------------------------------------------------------------------------
@query(
    "agg_quantile_exact",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.95) AS q95,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("extras", "agg"),
)
def agg_quantile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group.

    Spark ``percentile`` ≡ DuckDB ``quantile_cont`` (type-7 linear
    interpolation, a + (b−a)·f on the two order statistics — IEEE
    ops on identical inputs, so hash-stable without decimal games).
    Exact quantiles need the full sorted group; the 100 TB path is
    the approx variant below.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.50)").alias("q50"),
        F.expr("percentile(l_quantity, 0.95)").alias("q95"),
        F.count(F.lit(1)).alias("n"),
    )


@query("agg_quantile_approx", tags=("extras", "agg", "no-oracle"),
)
def agg_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (Greenwald–Khanna sketch) per group —
    the mergeable, bounded-memory scale path (the quantile analogue
    of #10's Flajolet–Martin cardinality sketch, q4112.c:86-117).

    PERMANENTLY no-oracle, by decision (VERDICT r04 #8): sketch
    internals differ between engines, and an exact-under-small-N
    hash-compare would pin DuckDB's interpolation convention rather
    than this operator's contract. The contract is the GK error
    bound, pinned against the exact quantiles in
    tests/test_extras.py; under the driver this id is rows-only (its
    r01 error row is superseded by clean r02/r05 rows-only rows).

    The three quantiles are projected to scalar columns via
    ``element_at`` (one shared sketch, three probes) — the driver's
    canonicalizer sorts result columns with pandas, which cannot hash
    an ``array<double>`` cell (CORRECTNESS_r01's only hard failure).
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile_approx(l_quantity, array(0.25, 0.5, 0.95), 1000)"
        ).alias("approx_q"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "l_returnflag",
        F.expr("element_at(approx_q, 1)").alias("q25"),
        F.expr("element_at(approx_q, 2)").alias("q50"),
        F.expr("element_at(approx_q, 3)").alias("q95"),
        "n",
    )


# --------------------------------------------------------------------------
# higher_order_funcs — array lambda surface (filter/exists/aggregate…)
# --------------------------------------------------------------------------
@query(
    "higher_order_funcs",
    oracle=r"""
    WITH t AS (
      SELECT lang,
             string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    ),
    per_doc AS (
      SELECT lang,
             len(list_filter(toks, x -> strlen(x) > 4)) AS n_long,
             CASE WHEN len(list_filter(toks, x -> strlen(x) > 8)) > 0
                  THEN 1 ELSE 0 END AS has_xlong,
             CAST(list_sum(list_transform(toks, x -> strlen(x)))
                  AS BIGINT) AS total_len
      FROM t
    )
    SELECT lang,
           CAST(SUM(n_long) AS BIGINT) AS sum_long_tokens,
           CAST(SUM(has_xlong) AS BIGINT) AS docs_with_xlong,
           CAST(SUM(total_len) AS BIGINT) AS sum_char_len
    FROM per_doc GROUP BY lang
    """,
    tags=("extras", "functions"),
)
def higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions: filter / exists / aggregate over
    token arrays, per language.

    The lambda surface (filter, exists, aggregate — transform and
    zip_with are exercised by the similarity/dedup operators) runs
    entirely inside codegen; DuckDB's list lambdas mirror each
    construct exactly, so the whole pack is oracle-checked. Tokens
    materialize as a column before the three lambdas touch them
    (the recompute lesson, operators/dedup.py).
    """
    from database_join_spark.operators.text import tokens as _tokens

    docs = table(spark, sf_dir, "documents").select(
        "lang", _tokens("text").alias("toks")
    )
    per_doc = docs.select(
        "lang",
        F.expr("size(filter(toks, x -> length(x) > 4))").alias("n_long"),
        F.expr(
            "IF(exists(toks, x -> length(x) > 8), 1, 0)"
        ).alias("has_xlong"),
        F.expr(
            "aggregate(toks, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"
        ).alias("total_len"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("n_long").cast("long").alias("sum_long_tokens"),
        F.sum("has_xlong").cast("long").alias("docs_with_xlong"),
        F.sum("total_len").cast("long").alias("sum_char_len"),
    )


# --------------------------------------------------------------------------
# window_distribution — distribution window functions (ntile etc.)
# --------------------------------------------------------------------------
@query(
    "window_distribution",
    oracle="""
    SELECT s_suppkey,
           s_nationkey,
           ntile(4) OVER w AS quartile,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           ROUND(percent_rank() OVER w, 9) AS pct_rank,
           ROUND(cume_dist() OVER w, 9) AS cume
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey)
    """,
    tags=("extras", "window"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / rank / percent_rank /
    cume_dist per nation over account balance.

    Completes the window surface beyond ranking-top-k (#21) and
    frames/lag (#22). percent_rank and cume_dist are ratios of row
    positions — exact rationals in double — rounded to 9 decimals to
    keep last-ulp division differences out of the hash (same guard
    as cosine). The frame is totally ordered via the s_suppkey
    tiebreak so every position, and hence every value, is unique.
    """
    sup = table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )


# --------------------------------------------------------------------------
# udtf_surface — Python user-defined table function (lateral)
# --------------------------------------------------------------------------
@query(
    "udtf_surface",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS token
      FROM documents
    )
    SELECT doc_id, token, COUNT(*) AS n
    FROM toks GROUP BY doc_id, token
    HAVING COUNT(*) >= 5
    """,
    tags=("extras", "udf"),
)
def udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: explode each document into (token, count) rows for
    frequent tokens (count ≥ 5).

    The table-function surface (#33) — one input row yields many
    output rows, with arbitrary Python in between. The tokenizer
    matches the engine contract (lowercase, trim, whitespace split =
    operators/text.py TOKENS_SQL) so the DuckDB unnest oracle is
    exact. UDTFs are Arrow-batched per partition: no shuffle, linear
    scan, same scale posture as mapInPandas.
    """
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="doc_id bigint, token string, n bigint")
    class FrequentTokens:
        def eval(self, doc_id: int, text: str):
            from collections import Counter

            counts = Counter(text.strip().lower().split())
            for token, n in sorted(counts.items()):
                if n >= 5:
                    yield doc_id, token, n

    spark.udtf.register("frequent_tokens", FrequentTokens)
    table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        "SELECT t.doc_id, t.token, t.n "
        "FROM __docs_udtf, LATERAL frequent_tokens(doc_id, text) t"
    )


# --------------------------------------------------------------------------
# sessionize_events — gap-based session assignment + per-session stats
# --------------------------------------------------------------------------
#: Session gap in MICROSECONDS (30 min). All time math below is
#: integer epoch-micros (Spark unix_micros ≡ DuckDB epoch_us, both
#: exact on the fixture's µs-resolution timestamps) so the oracle
#: hash can never drift on sub-second components or rounding mode.
_SESSION_GAP_US = 30 * 60 * 1_000_000

@query(
    "sessionize_events",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS e FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, e,
             CASE WHEN LAG(e) OVER w IS NULL
                    OR e - LAG(e) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, e,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY e, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS first_event,
           CAST(MAX(event_id) AS BIGINT) AS last_event,
           CAST((MAX(e) - MIN(e)) // 1000000 AS BIGINT) AS duration_sec
    FROM sess GROUP BY user_id, session_seq
    """,
    tags=("extras", "window", "sessionization"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: assign each user's events to sessions
    split at >30-minute silence, then aggregate per-session stats —
    the classic clickstream shape, and the batch-exact twin of
    ``F.session_window`` (which the streaming path uses; this
    spelling additionally yields the session SEQUENCE NUMBER and
    event ids, which session_window's merged-interval state drops).

    Plan: ONE exchange on user_id serves the lag window, the running
    sum, and the final (user_id, session_seq) group-by — Catalyst
    reuses the partitioning because every later key set is a
    superset prefix. At 100 TB the user_id key is high-cardinality
    and unskewed-by-construction for event streams; a single
    pathological user is bounded by the skew playbook documented in
    pack_sequences/operators/skew.py.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("e")
    )
    return sessionize_frame(ev)


def sessionize_frame(ev: DataFrame) -> DataFrame:
    """Core sessionization over a ``(user_id, event_id, e)`` frame
    (e = epoch-µs); shared by the fixture query and the clickstream
    scale probe (CLICKSTREAM_PROBE.json)."""
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("e").over(w).isNull()
            | (F.col("e") - F.lag("e").over(w) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        F.expr("(max(e) - min(e)) DIV 1000000").alias("duration_sec"),
    )


# --------------------------------------------------------------------------
# event_funnel — ordered-step conversion funnel
# --------------------------------------------------------------------------
@query(
    "event_funnel",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS e FROM events
    ),
    s1 AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN e END) AS t1
      FROM ev GROUP BY user_id
    ),
    s2 AS (
      SELECT ev.user_id, s1.t1,
             MIN(CASE WHEN event_type = 'click' AND e >= t1 THEN e END) AS t2
      FROM ev JOIN s1 ON ev.user_id = s1.user_id AND s1.t1 IS NOT NULL
      GROUP BY ev.user_id, s1.t1
    ),
    s3 AS (
      SELECT ev.user_id, s2.t2,
             MIN(CASE WHEN event_type = 'purchase' AND e >= t2 THEN e END) AS t3
      FROM ev JOIN s2 ON ev.user_id = s2.user_id AND s2.t2 IS NOT NULL
      GROUP BY ev.user_id, s2.t2
    )
    SELECT
      (SELECT COUNT(*) FROM s1 WHERE t1 IS NOT NULL) AS n_signup,
      (SELECT COUNT(*) FROM s2 WHERE t2 IS NOT NULL) AS n_then_click,
      (SELECT COUNT(*) FROM s3 WHERE t3 IS NOT NULL) AS n_then_purchase
    """,
    tags=("extras", "agg", "funnel"),
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → click → purchase: users
    counted at stage k must have performed step k AT OR AFTER their
    first completion of step k-1 (strict event-order funnel, not
    mere type co-occurrence).

    Spelling: per-user window minima computed stage by stage —
    t1 = first signup, t2 = first click with e ≥ t1, t3 = first
    purchase with e ≥ t2 — then one global conditional count. The
    windows all share ONE user_id exchange (no self-joins: the
    oracle's join spelling exists because DuckDB window-chains can't
    reference a window alias in the same SELECT; Spark nests
    projections instead, same relation). Scale: one shuffle on
    user_id + a single-row final aggregate; funnel depth adds
    projections, never passes over the data.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("e")
    )
    wu = Window.partitionBy("user_id")
    t1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "signup", F.col("e"))).over(wu),
    )
    t2 = t1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("e") >= F.col("t1")),
                F.col("e"),
            )
        ).over(wu),
    )
    t3 = t2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("e") >= F.col("t2")),
                F.col("e"),
            )
        ).over(wu),
    )
    per_user = t3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_then_click"),
        F.count("t3").alias("n_then_purchase"),
    )


# --------------------------------------------------------------------------
# retention_cohorts — daily-cohort retention matrix
# --------------------------------------------------------------------------
@query(
    "retention_cohorts",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
    ),
    firsts AS (
      SELECT user_id, day,
             MIN(day) OVER (PARTITION BY user_id) AS cohort_day
      FROM ev
    )
    SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
           CAST(day - cohort_day AS BIGINT) AS day_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM firsts GROUP BY cohort_day, day_offset
    """,
    tags=("extras", "agg", "retention"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by their first-activity day
    (epoch-day integer — no calendar functions, so both engines
    agree bit-for-bit), counted distinct at each day offset — the
    matrix behind every retention curve.

    Plan: one exchange on user_id for the cohort-day window, then
    the distinct-count group-by re-shuffles on (cohort_day, offset).
    The second exchange is inherent (the grouping key is derived
    from the window result); its input is already one row per
    (user, day) after a dropDuplicates that rides the first
    partitioning. At 100 TB the cohort matrix is tiny (days ×
    offsets) — partial aggregation collapses each task to its local
    matrix before the exchange.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).dropDuplicates(["user_id", "day"])
    firsts = ev.withColumn(
        "cohort_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return firsts.groupBy(
        F.col("cohort_day"),
        (F.col("day") - F.col("cohort_day")).alias("day_offset"),
    ).agg(F.countDistinct("user_id").alias("n_users"))


# --------------------------------------------------------------------------
# anomaly_zscore — exact-arithmetic z-score outlier detection
# --------------------------------------------------------------------------
@query(
    "anomaly_zscore",
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CAST(FLOOR(value * 1000) AS BIGINT) AS vi
      FROM events
    ),
    stats AS (
      SELECT event_id, event_type, vi,
             COUNT(*) OVER w AS n,
             SUM(vi) OVER w AS s1,
             SUM(vi * vi) OVER w AS s2
      FROM v WINDOW w AS (PARTITION BY event_type)
    ),
    outliers AS (
      SELECT event_id, event_type
      FROM stats
      WHERE (CAST(vi AS HUGEINT) * n - s1) * (CAST(vi AS HUGEINT) * n - s1)
            > 9 * (CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_outliers,
           CAST(MIN(event_id) AS BIGINT) AS first_outlier,
           CAST(MAX(event_id) AS BIGINT) AS last_outlier
    FROM outliers GROUP BY event_type
    """,
    tags=("extras", "agg", "quality"),
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection (|value − μ| > 3σ) with
    EXACT integer arithmetic: values scale to milli-units, and the
    condition squares out to (vi·n − s1)² > 9·(n·s2 − s1²) — all
    128-bit integer products (Spark DECIMAL(38,0) ≡ DuckDB HUGEINT),
    so no engine can disagree at the threshold the way float
    sqrt/stddev spellings can. The quality-filter shape every
    training pipeline runs over telemetry/metric columns.

    Validity bound (exact-arithmetic claim): with |vi| ≤ V and n
    rows per partition, |dev| = |vi·n − s1| ≤ 2·V·n so dev² ≤
    4·V²·n², and |9·(n·s2 − s1²)| ≤ 9·V²·n² — both inside
    DECIMAL(38,0) while V²·n² < ~1e37, e.g. V = 1e6 (milli-scaled
    values to ±1,000) supports n up to ~3e12 rows per event_type.
    Beyond that the in-predicate ``assert_true`` guard below raises
    instead of silently dropping outliers (ANSI-off overflow is
    NULL; DuckDB HUGEINT errors — the guard restores fail-loudly).

    Plan: one exchange on event_type for the window stats, filter
    map-side, tiny final aggregate. The window is a full-partition
    frame (no ordering), which Spark evaluates as a streaming
    two-pass per partition — no sort. A 5-type partition key is
    LOW-cardinality: at 100 TB swap the window for a groupBy-join
    (5-row broadcast of the stats), the documented escape for
    few-partition windows; at fixture scale the window spelling is
    one scan cheaper.
    """
    v = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 1000) AS BIGINT)").alias("vi"),
    )
    w = Window.partitionBy("event_type")
    stats = v.select(
        "event_id",
        "event_type",
        "vi",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("vi").over(w).alias("s1"),
        F.sum(F.expr("vi * vi")).over(w).alias("s2"),
    )
    dev = "(CAST(vi AS DECIMAL(38,0)) * n - s1)"
    var9 = (
        "9 * (CAST(n AS DECIMAL(38,0)) * s2"
        " - CAST(s1 AS DECIMAL(38,0)) * s1)"
    )
    # Fail-loud overflow guard: with ANSI off a DECIMAL(38,0)
    # overflow yields NULL, and a NULL predicate would silently DROP
    # outliers (DuckDB's HUGEINT errors instead). The guard lives
    # inside the predicate so column pruning cannot remove it:
    # assert_true returns NULL when its condition holds, raises
    # otherwise. NULL vi rows are exempt (their NULL product is
    # three-valued logic, not overflow — both engines exclude them).
    guard = (
        f"assert_true(vi IS NULL OR ({dev} * {dev} IS NOT NULL "
        f"AND ({var9}) IS NOT NULL), "
        "'anomaly_zscore: DECIMAL(38,0) overflow — see docstring "
        "bound') IS NULL"
    )
    outliers = stats.filter(F.expr(f"{guard} AND {dev} * {dev} > {var9}"))
    return outliers.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_outliers"),
        F.min("event_id").alias("first_outlier"),
        F.max("event_id").alias("last_outlier"),
    )


# --------------------------------------------------------------------------
# heavy_hitters_approx — approx_top_k sketch (exact under capacity)
# --------------------------------------------------------------------------
_HH_K = 50
#: Sketch capacity. Above every fixture's token vocabulary, so the
#: sketch degenerates to EXACT counts (the documented condition for
#: the DuckDB oracle below); at real corpus scale tracked < distinct
#: makes it a true frequent-items sketch with the same plan.
_HH_TRACKED = 100_000

@query(
    "heavy_hitters_approx",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({{T_DUCK}}) AS token FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM tok GROUP BY token
    ORDER BY freq DESC, token
    LIMIT {_HH_K}
    """.format(T_DUCK=TOKENS_DUCK.format(c="text")),
    tags=("extras", "agg", "sketch"),
)
def heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch over the corpus token stream via
    ``approx_top_k`` — the mergeable heavy-hitters structure (each
    partition keeps a bounded item->count buffer; buffers merge at
    the exchange), the modern successor of the reference's
    Flajolet-Martin sizing sketch (q4112.c:86-117) for the
    "what dominates this column" question.

    Oracle contract: with maxItemsTracked ≥ the column's distinct
    count the sketch returns EXACT counts (nothing is ever evicted),
    so at fixture vocabulary sizes the DuckDB top-k oracle matches
    bit-for-bit — same discipline as approx_distinct_fm's
    rsd-bound-vs-exact, but checkable by hash. The emitted struct
    array is exploded and re-ranked with a (freq DESC, token)
    tiebreak so ordering is engine-deterministic. At true corpus
    scale tracked < distinct and results become approximate with
    identical plan shape: one scan, sketch-sized exchange, no
    full aggregation of the tail.
    """
    from database_join_spark.operators import text as T

    toks = table(spark, sf_dir, "documents").select(
        F.explode(T.tokens("text")).alias("token")
    )
    # Ask the sketch for 2K candidates: approx_top_k's tiebreak at
    # the rank-K count boundary is unspecified, while the oracle
    # breaks ties (freq DESC, token ASC). With 2K candidates every
    # token tied at the rank-K count is in the candidate set (under
    # the exact-under-capacity contract), so the deterministic
    # re-rank + LIMIT K below fixes the boundary — a K-sized ask
    # could return a different (valid) tied subset than DuckDB.
    sk = toks.agg(
        F.expr(
            f"approx_top_k(token, {2 * _HH_K}, {_HH_TRACKED})"
        ).alias("top")
    )
    return (
        sk.select(F.explode("top").alias("kv"))
        .select(
            F.col("kv.item").alias("token"),
            F.col("kv.count").alias("freq"),
        )
        .orderBy(F.col("freq").desc(), "token")
        .limit(_HH_K)
    )


# --------------------------------------------------------------------------
# distinct_hll_sketch — mergeable HLL sketches (per-group + union)
# --------------------------------------------------------------------------
@query(
    "distinct_hll_sketch",
    tags=("extras", "agg", "sketch", "no-oracle"),
)
def distinct_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-event-type HLL sketches
    (``hll_sketch_agg``) plus their UNION (``hll_union_agg``) —
    the workflow ``approx_count_distinct`` cannot express, because it
    never exposes the sketch: at 100 TB you persist per-partition /
    per-day sketch binaries and answer "distinct users this quarter"
    by unioning kilobytes instead of rescanning, exactly how the
    reference merges per-thread FM bitmaps with OR
    (q4112.c:343-349).

    No DuckDB oracle (estimator internals differ); pytest pins each
    estimate within the lgConfigK=12 error bound of the exact
    distinct count and the union against the global exact
    (tests/test_extras.py).
    """
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
    )
    typed = per_type.select(
        "event_type",
        F.expr("hll_sketch_estimate(sk)").alias("n_distinct_est"),
    )
    union = per_type.agg(
        # 2nd arg is allowDifferentLgConfigK; every input sketch here
        # is lgConfigK=12, so strict mode
        F.expr("hll_sketch_estimate(hll_union_agg(sk, false))").alias(
            "n_distinct_est"
        )
    ).select(F.lit("ALL").alias("event_type"), "n_distinct_est")
    return typed.unionByName(union).orderBy("event_type")


# --------------------------------------------------------------------------
# agg_argmax — max_by / min_by / deterministic mode
# --------------------------------------------------------------------------
#: Total-order encoding of (value, event_id) into one BIGINT so that
#: ``max_by``'s tiebreak is explicit instead of engine-arbitrary
#: (FIXTURES.md determinism rule 4 — the same reason the top-k
#: windows carry a unique-key tiebreak). ``value`` is a stored
#: double; value·1e6 and FLOOR are IEEE-identical in Spark and
#: DuckDB, so both engines derive the same key. Bounds: micros ≤
#: 5×10^8 at the fixture's value ceiling (~490), ×2^25 ≈ 1.7×10^16
#: plus event_id < 2^25 stays inside int64; at cluster scale the
#: same spelling widens the shifted key to DECIMAL(38,0) (or uses
#: max_by(x, struct(v, id)) where no cross-engine oracle constrains
#: the spelling — DuckDB's arg_max cannot take a composite key).
_ARGMAX_ORD = (
    "CAST(FLOOR(value * 1000000) AS BIGINT) * 33554432 + event_id"
)

@query(
    "agg_argmax",
    oracle=f"""
    WITH keyed AS (
      SELECT event_type, user_id, event_id, value,
             {_ARGMAX_ORD} AS ord
      FROM events
    ),
    freq AS (
      SELECT event_type, user_id % 10 AS bucket,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    mode_pick AS (
      SELECT event_type,
             arg_max(bucket,
                     lpad(CAST(cnt AS VARCHAR), 10, '0') || '|' ||
                     lpad(CAST(bucket AS VARCHAR), 20, '0')) AS mode_bucket
      FROM freq GROUP BY event_type
    )
    SELECT k.event_type,
           arg_max(k.event_id, k.ord) AS max_value_event,
           arg_min(k.event_id, k.ord) AS min_value_event,
           MAX(m.mode_bucket) AS mode_user_bucket
    FROM keyed k JOIN mode_pick m USING (event_type)
    GROUP BY k.event_type
    """,
    tags=("extras", "agg"),
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selector aggregates: per event type, WHICH event carried the
    max/min value (``max_by``/``min_by``) and the most frequent
    user-id bucket (mode) — the "argmax" family the reference's
    sum/count kernels cannot express without a self-join
    (q4112_hj.c:95-133 only folds commutative partials).

    All three selectors ride explicit total orders so the answer is
    deterministic under ties: max/min use the encoded
    (value, event_id) BIGINT key above; mode is spelled as a
    two-level aggregate — count per (type, bucket), then
    ``max_by(bucket, zero-padded (cnt, bucket) string)`` — because
    both Spark's ``mode()`` and DuckDB's ``mode()`` pick an
    arbitrary winner on tied counts. The zero-padded concatenation
    makes lexicographic VARCHAR order coincide with the numeric
    (cnt, bucket) order, the one composite-key encoding DuckDB's
    arg_max accepts.

    Plan: selectors fold map-side like any partial aggregate (each
    carries one candidate row per partition through the exchange),
    and the mode layer's shuffle is bounded by |types|×|buckets|,
    not row count — both scale-safe at 100 TB.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id", "value"
    ).withColumn("ord", F.expr(_ARGMAX_ORD))
    sel = ev.groupBy("event_type").agg(
        F.expr("max_by(event_id, ord)").alias("max_value_event"),
        F.expr("min_by(event_id, ord)").alias("min_value_event"),
    )
    freq = ev.groupBy(
        "event_type", (F.col("user_id") % 10).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    mode_pick = freq.groupBy("event_type").agg(
        F.expr(
            "max_by(bucket, lpad(CAST(cnt AS STRING), 10, '0') || '|' "
            "|| lpad(CAST(bucket AS STRING), 20, '0'))"
        ).alias("mode_user_bucket")
    )
    return sel.join(F.broadcast(mode_pick), "event_type")
