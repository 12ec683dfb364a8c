"""Pins for the FM-sizing loop (VERDICT r04 Next #3): the decision
thresholds ARE the product — they encode BASELINE.md's measured
regime table — so they are pinned exactly, and the estimator is
checked against known cardinalities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_join_spark.plans.sizing import (
    FAST_MAP_MAX_BIT,
    FAST_MAP_MIN_BIT,
    NO_REDUCTION_GROUPS,
    applied,
    decide,
    estimate_groups,
)
from database_join_spark.plans.stats import (
    plan_for_cached,
    plan_skewjoin_cached,
)


def test_decide_thresholds_match_measured_regimes():
    """The three measured regimes (BASELINE.md: groups=100 / 1e6 /
    1e8) must map to exactly the hand-picked winning configs that the
    r03/r04 probes measured; a silent threshold drift here would
    re-open the 2^16-default 10.63 s and 207.5 s regressions."""
    # groups=100: default fast map (insensitive regime), 1 task/core
    s = decide(100)
    assert (s.capacity_bit, s.tasks_per_core) == (FAST_MAP_MIN_BIT, 1)
    # groups=1e6: covering fast map (2^20 measured 8.55 s vs 10.63 s
    # at 2^16), still 1 task/core (4x tasks measured to LOSE here:
    # 8.39 -> 10.63 s across 32->128 tasks)
    s = decide(1_000_000)
    assert (s.capacity_bit, s.tasks_per_core) == (FAST_MAP_MAX_BIT, 1)
    # groups=1e8: no-reduction exchange. Round-5 revision: the
    # winning answer is the repartition-first PLAN rewrite (no
    # pre-exchange partial map) on the untuned session - the best
    # arm same-session (1.15x over the conf-tuned default plan;
    # ~2.3x under heavy host pressure; REGROUP_PROBE.json).
    # 4x partitions (1x/8x arms lose), fast map covering the
    # ~groups/partitions keys per reducer.
    s = decide(100_000_000)
    assert (s.capacity_bit, s.tasks_per_core) == (FAST_MAP_MAX_BIT, 4)
    assert s.partial_before_exchange is False
    assert s.tasks(32) == 128
    # round 9: the regime's measured ENDGAME is named as a layout
    # hint (BUCKETED_AGG_PROBE: bucket the fact on the group key ->
    # exchange-free groupBy, 5.96 s vs this decision's own 53.5 s
    # repartition-first control at 1e9 rows / 1e8 groups); the
    # mid/low regimes carry none (no exchange worth removing)
    assert s.layout_hint == "bucket_on_group_key"
    assert decide(1_000_000).layout_hint is None
    assert decide(100).layout_hint is None
    # round 10: the SKEWED branch carries the hint too
    # (BUCKETED_AGG_SKEW_PROBE: hh1 @ p=0.5 23.3 s bucketed vs
    # 43.5 s partial-agg control — the hot bucket's constant key
    # delta-compresses, and its single-task scan beats exchanging
    # the hot mass; hh100 ~3x). The inline spelling choice is
    # unchanged (partial agg still crushes the hot key map-side).
    skewed = decide(100_000_000, top_share=0.5)
    assert skewed.partial_before_exchange is True
    assert skewed.layout_hint == "bucket_on_group_key"


def test_decide_boundaries():
    """Exact boundary behavior: the no-reduction cliff sits at
    NO_REDUCTION_GROUPS, and the fast-map bit interpolates (with
    coverage slack) between the min and max bits."""
    assert decide(NO_REDUCTION_GROUPS).partial_before_exchange is False
    assert decide(NO_REDUCTION_GROUPS - 1).partial_before_exchange is True
    # slack pushes just-past-2^16 cardinalities to a 17-bit map
    assert decide(65_536).capacity_bit == 17
    assert decide(40_000).capacity_bit == FAST_MAP_MIN_BIT
    # degenerate inputs clamp instead of exploding
    assert decide(0).capacity_bit == FAST_MAP_MIN_BIT
    assert decide(1).tasks_per_core == 1


@pytest.mark.parametrize("true_n", [100, 100_000])
def test_estimate_groups_accuracy(spark, true_n):
    """HLL++ estimate within 15% of truth (rsd=0.05 gives ~5% sigma;
    15% is a 3-sigma acceptance band) on a frame with known
    cardinality and 10x row duplication."""
    df = spark.range(0, true_n * 10).select(
        (F.col("id") % true_n).alias("g")
    )
    est = estimate_groups(df, ["g"])
    assert abs(est - true_n) / true_n <= 0.15


def test_estimate_groups_multi_column(spark):
    """Multi-column keys estimate the COMBINED cardinality."""
    df = spark.range(0, 10_000).select(
        (F.col("id") % 10).alias("a"), (F.col("id") % 7).alias("b")
    )
    est = estimate_groups(df, ["a", "b"])
    assert abs(est - 70) / 70 <= 0.15


def test_plan_for_end_to_end_and_applied(spark, tmp_path):
    """plan_for_cached on a small frame lands in the low regime, and
    applied() sets the runtime-settable knob for the block only."""
    conf = "spark.sql.codegen.aggregate.fastHashMap.capacityBit"
    df = spark.range(0, 1000).select((F.col("id") % 50).alias("g"))
    sizing, cached = plan_for_cached(
        df, ["g"], table_key="range1000", path=tmp_path / "stats.json"
    )
    assert not cached
    assert sizing.capacity_bit == FAST_MAP_MIN_BIT
    assert sizing.tasks_per_core == 1
    before = spark.conf.get(conf, "16")
    with applied(spark, decide(1_000_000)) as s:
        assert spark.conf.get(conf) == str(s.capacity_bit) == "20"
    assert spark.conf.get(conf, "16") == before


def test_skew_guard_thresholds():
    """The repartition-first rewrite is guarded by the sampled
    top-key share (REGROUP_PROBE hh arms): a hot key above the
    fair-share factor keeps the partial agg + conf fallback; spread
    hot mass keeps the rewrite."""
    from database_join_spark.plans.sizing import SKEW_TOP_SHARE_FACTOR

    # hh1 measured hazard: one key owns 50% of rows -> one reducer
    # would serialize 5e8 rows; keep partial agg, 4x map tasks
    s = decide(100_000_000, top_share=0.5, partitions=128)
    assert s.partial_before_exchange is True
    assert s.tasks_per_core == 4
    # ADVICE r05: the conf-only fallback runs the MEASURED hand-best
    # config (SIZING_PROBE.json g1e8 arm: bit 16), not an extrapolated 2^20
    from database_join_spark.plans.sizing import FAST_MAP_MIN_BIT

    assert s.capacity_bit == FAST_MAP_MIN_BIT
    # hh100 measured non-hazard: top key owns 0.5% -> spread across
    # reducers; rewrite stays
    s = decide(100_000_000, top_share=0.005, partitions=128)
    assert s.partial_before_exchange is False
    # exact boundary: share * partitions == factor is NOT overload
    boundary = SKEW_TOP_SHARE_FACTOR / 128
    assert decide(100_000_000, boundary, 128).partial_before_exchange is False
    assert decide(
        100_000_000, boundary * 1.01, 128
    ).partial_before_exchange is True
    # no skew info -> optimistic rewrite (top_share None)
    assert decide(100_000_000).partial_before_exchange is False
    # guard is irrelevant below the regime threshold
    assert decide(1_000_000, top_share=0.9).partial_before_exchange is True


def test_estimate_top_share_detects_planted_hot_key(spark):
    """A planted 50%-share key must be visible in the row sample."""
    from pyspark.sql import functions as F

    from database_join_spark.plans.sizing import estimate_top_share

    df = spark.range(0, 200_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7))
        .otherwise(F.col("id"))
        .alias("g")
    )
    share = estimate_top_share(df, ["g"], fraction=0.05)
    assert share is not None and 0.4 <= share <= 0.6, share
    flat = spark.range(0, 200_000).select(F.col("id").alias("g"))
    flat_share = estimate_top_share(flat, ["g"], fraction=0.05)
    assert flat_share is not None and flat_share < 0.01, flat_share


# --------------------------------------------------------------------------
# Skew-join decision (VERDICT r09 #1): SKEWJOIN_PROBE's hand-picked
# ladder as pinned thresholds — the join-side twin of decide().
# --------------------------------------------------------------------------
def test_decide_skewjoin_ladder():
    from database_join_spark.operators.skew import (
        skewjoin_detection_confs,
    )
    from database_join_spark.plans.sizing import (
        SALTED_JOIN_SALTS,
        SKEW_TOP_SHARE_FACTOR,
        decide_skewjoin,
    )

    # the probe's exact shape: hot key 25% of a 4e8-row fact over a
    # 1e7-row dim (320 MB assumed — broadcast-ineligible), 128
    # partitions → opened-gate AQE split, the measured best arm
    # (20.2 s vs 33.0 salted / 45.7 no-fix / 59.0 blind default)
    s = decide_skewjoin(0.25, 10_000_000, partitions=128)
    assert s.strategy == "aqe_split"
    assert s.confs == skewjoin_detection_confs()
    # a dim inside the 64 MB broadcast budget never shuffles the
    # fact — skew is irrelevant, broadcast wins at ANY top share
    assert decide_skewjoin(0.9, 1_000_000).strategy == "broadcast"
    # explicit byte stats beat the 32 B/row assumption both ways
    assert (
        decide_skewjoin(0.9, 1_000_000, dim_bytes=1 << 30).strategy
        != "broadcast"
    )
    assert (
        decide_skewjoin(0.9, 10_000_000, dim_bytes=1 << 20).strategy
        == "broadcast"
    )
    # no heavy hitter (uniform fact) → stock gates; lowering the
    # AQE factor globally would split mild skew everywhere
    assert decide_skewjoin(1e-7, 10_000_000).strategy == "plain"
    # unknown share (empty sample) → optimistic, like decide()
    assert decide_skewjoin(None, 10_000_000).strategy == "plain"
    # same fair-share boundary as the aggregate guard
    b = SKEW_TOP_SHARE_FACTOR / 128
    assert decide_skewjoin(b, 10_000_000, 128).strategy == "plain"
    assert decide_skewjoin(b * 1.01, 10_000_000, 128).strategy == (
        "aqe_split"
    )
    # conf control unavailable → the manual fix, measured replication
    s = decide_skewjoin(0.25, 10_000_000, 128, can_set_confs=False)
    assert s.strategy == "salted" and s.salts == SALTED_JOIN_SALTS


def test_plan_skewjoin_end_to_end(spark, tmp_path):
    """plan_skewjoin_cached's estimates drive the decision on live
    frames: a planted 50%-share fact key over a too-big-to-broadcast
    dim picks the split; the same fact over a small dim broadcasts."""
    fact = spark.range(0, 200_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7))
        .otherwise(F.col("id"))
        .alias("k")
    )
    big_dim = spark.range(0, 3_000_000).select(F.col("id").alias("k"))
    small_dim = spark.range(0, 1_000).select(F.col("id").alias("k"))
    # sample fraction bumped for the 2e5-row toy fact
    from database_join_spark.plans import sizing as SZ

    share = SZ.estimate_top_share(fact, ["k"], fraction=0.05)
    assert share is not None and share > 0.4
    plan = SZ.decide_skewjoin(share, big_dim.count(), partitions=128)
    assert plan.strategy == "aqe_split"
    small, cached = plan_skewjoin_cached(
        fact,
        "k",
        small_dim,
        fact_table_key="planted_hot_k",
        dim_table_key="range1000",
        path=tmp_path / "stats.json",
    )
    assert not cached
    assert small.strategy == "broadcast"


def test_applied_restores_exactly_what_it_found(spark):
    """applied() sets a plan's confs for the block and leaves each
    conf as it found it: a value set before is restored, a conf unset
    before is unset after (not written back as its default), for both
    an aggregate sizing and an aqe_split join plan. A join plan that
    carries no confs (broadcast) is a no-op."""
    from database_join_spark.plans.sizing import decide_skewjoin

    agg = decide(1_000_000)
    join = decide_skewjoin(0.25, 10_000_000, partitions=128)
    assert join.strategy == "aqe_split" and join.confs
    for plan in (agg, join):
        saved = {k: spark.conf.get(k, None) for k in plan.confs}
        try:
            for k in plan.confs:
                spark.conf.unset(k)
            with applied(spark, plan) as p:
                assert p is plan
                for k, v in plan.confs.items():
                    assert spark.conf.get(k) == v
            for k in plan.confs:
                assert spark.conf.get(k, None) is None, k
            # set explicitly (to the defaults): restored as set
            defaults = {k: spark.conf.get(k) for k in plan.confs}
            for k, v in defaults.items():
                spark.conf.set(k, v)
            with applied(spark, plan):
                pass
            for k, v in defaults.items():
                assert spark.conf.get(k, None) == v, k
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    factor = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    before = spark.conf.get(factor)
    with applied(spark, decide_skewjoin(0.9, 1_000)):
        assert spark.conf.get(factor) == before  # broadcast: no confs


def test_join_skew_auto_plan_follows_estimate(spark):
    """The gated query's plan is the decision's output: at fixture
    scale the dim fits the broadcast budget, so the optimized plan
    must carry the broadcast (and the answer is oracle-checked by
    the driver/test_oracle_parity either way)."""
    from tests.conftest import SF_DIR

    from database_join_spark.plans import assert_broadcast_join
    from database_join_spark.queries import load_all

    df = load_all()["join_skew_auto"].fn(spark, SF_DIR)
    assert_broadcast_join(df)


# --------------------------------------------------------------------------
# Bloom-prefilter decision (VERDICT r06 #7): the BLOOM_JOIN_PROBE
# envelope as pinned thresholds, and the registry query whose plan
# actually changes with the estimate.
# --------------------------------------------------------------------------
def test_decide_prefilter_envelope():
    from database_join_spark.plans.sizing import (
        PREFILTER_MAX_SURVIVOR_FRAC,
        decide_prefilter,
    )

    # the probe's exact shape: 1e6 dim keys over a 1e8-key probe
    # domain → survivor ~0.067 + fp — prune applies (measured 1.59×)
    s = decide_prefilter(1_000_000, 100_000_000)
    assert s.apply
    assert s.bits == 1 << 24  # 16 bits/key rounded up to a pow2
    assert 0.0 < s.survivor_frac < PREFILTER_MAX_SURVIVOR_FRAC
    # unselective dim: every probe key matches — prune never pays
    assert not decide_prefilter(1_000_000, 1_000_000).apply
    assert not decide_prefilter(500_000, 1_000_000).apply  # 50% > 25%
    # bitmap width bounds: tiny dims floor at 2^17, huge dims cap at
    # 2^27 (past that the dim should bucket, not bloom)
    assert decide_prefilter(10, 1_000_000).bits == 1 << 17
    assert decide_prefilter(1 << 30, 1 << 40).bits == 1 << 27


def test_join_bloom_prefilter_plan_follows_estimate(spark):
    """The gated query's plan must GAIN the bitmap broadcast join on
    a selective dim and LOSE it on an unselective one — the estimate
    drives the plan, not a hand-written constant."""
    from database_join_spark.plans.sizing import plan_prefilter
    from tests.conftest import SF_DIR

    from database_join_spark.catalog import table
    from database_join_spark.queries import load_all

    reg = load_all()
    fact = table(spark, SF_DIR, "lineitem").select("l_partkey")
    sel_dim = (
        table(spark, SF_DIR, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey")
    )
    full_dim = table(spark, SF_DIR, "part").select("p_partkey")
    assert plan_prefilter(fact, "l_partkey", sel_dim, "p_partkey").apply
    assert not plan_prefilter(
        fact, "l_partkey", full_dim, "p_partkey"
    ).apply
    # and the registry query (selective dim) carries the prune: the
    # bitmap word join's hash position shows up in the optimized plan
    plan = (
        reg["join_bloom_prefilter"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "xxhash64" in plan and "bit_or" in plan


def test_broadcast_budget_pinned_to_session_and_live_conf(spark, tmp_path):
    """ADVICE r10: BROADCAST_MAX_BYTES is a hand copy of session.py's
    autoBroadcastJoinThreshold — pin the two together so the pure
    decision default can never silently diverge from what a caller
    relying on auto-broadcast gets, and verify plan_skewjoin_cached
    reads the LIVE conf (a lowered threshold flips the same dim from
    broadcast to plain within one session, with the statistics
    served from the catalog)."""
    from database_join_spark.plans.sizing import (
        BROADCAST_MAX_BYTES,
        _parse_spark_bytes,
    )

    assert (
        _parse_spark_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
        == BROADCAST_MAX_BYTES
    )
    # parser contract: Spark spellings → bytes; disabled → 0
    assert _parse_spark_bytes("67108864") == 64 << 20
    assert _parse_spark_bytes("64m") == 64 << 20
    assert _parse_spark_bytes("64MB") == 64 << 20
    assert _parse_spark_bytes("1g") == 1 << 30
    assert _parse_spark_bytes("10k") == 10 << 10
    assert _parse_spark_bytes("-1") == 0
    assert _parse_spark_bytes(None) is None
    assert _parse_spark_bytes("nonsense") is None

    fact = spark.range(0, 50_000).select(F.col("id").alias("k"))
    dim = spark.range(0, 1_000).select(F.col("id").alias("k"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)

    def strategy():
        plan, _ = plan_skewjoin_cached(
            fact,
            "k",
            dim,
            fact_table_key="range50000",
            dim_table_key="range1000",
            path=tmp_path / "stats.json",
        )
        return plan.strategy

    try:
        assert strategy() == "broadcast"
        spark.conf.set(key, "-1")  # auto-broadcast disabled
        # (tiny-sample top-share noise may pick plain OR aqe_split;
        # the contract under test is only that broadcast is refused)
        assert strategy() != "broadcast"
    finally:
        spark.conf.set(key, old)


def test_shuffle_partitions_for_bounds_per_task_state():
    """The scale-sweep rule (round 11, PIPELINE_SCALE_PROBE): initial
    shuffle partitions bound per-task state, floor at cores, rounded
    to a cores multiple. The pins reproduce the sweep's own points —
    93M window rows at 1M docs stayed at 32 (the linear point), 372M
    at 4M demands 128 (the measured winning arm), and the fixed-32
    spelling at 4M is exactly what the sweep measured costing 1.5×."""
    from database_join_spark.plans.sizing import (
        SHUFFLE_ROWS_PER_TASK,
        shuffle_partitions_for,
    )

    # the sweep's calibration points (cores=32)
    assert shuffle_partitions_for(93_000_000, 32) == 32
    assert shuffle_partitions_for(186_000_000, 32) == 64
    assert shuffle_partitions_for(372_000_000, 32) == 128
    # floor: tiny inputs never drop below one task per core
    assert shuffle_partitions_for(0, 32) == 32
    assert shuffle_partitions_for(1, 32) == 32
    # cores-multiple rounding: whole task waves
    assert shuffle_partitions_for(100_000_000, 32) % 32 == 0
    assert shuffle_partitions_for(100_000_000, 24) % 24 == 0
    # monotone in input, antitone in the per-task budget
    assert (
        shuffle_partitions_for(800_000_000, 32)
        >= shuffle_partitions_for(400_000_000, 32)
    )
    assert (
        shuffle_partitions_for(400_000_000, 32, rows_per_task=1_000_000)
        >= shuffle_partitions_for(400_000_000, 32)
    )
    # degenerate budget guard
    assert shuffle_partitions_for(1000, 32, rows_per_task=0) >= 32
    assert SHUFFLE_ROWS_PER_TASK == 3_000_000
    # degenerate cores guard (ADVICE r11): raise, don't divide by zero
    import pytest

    with pytest.raises(ValueError, match="cores"):
        shuffle_partitions_for(1000, 0)
    with pytest.raises(ValueError, match="cores"):
        shuffle_partitions_for(1000, -4)


def test_k_for_bounds_mean_block_rows():
    """The SemDeDup blocking rule (round 12, SEMDEDUP_KLADDER_PROBE):
    k ∝ n with mean block rows bounded — the pair sweep Σ|block|² ≈
    (expansion·n)²/k then scales linearly with n instead of the r11
    default k=n/10k freezing block size (quadratic term linear-in-n
    forever). Pins the calibration constants so a drive-by edit of
    the target re-runs the ladder, not just the unit suite."""
    from database_join_spark.plans.sizing import (
        SEMDEDUP_BLOCK_EXPANSION,
        SEMDEDUP_TARGET_BLOCK_ROWS,
        k_for,
    )

    # floor: fixture-scale corpora keep a non-degenerate fit
    assert k_for(0) == 10
    assert k_for(500) == 10
    # k grows linearly with n (±ceil rounding)
    assert k_for(2_000_000) >= 2 * k_for(1_000_000) - 1
    # mean block rows never exceed the target (the rule's contract)
    for n in (10_000, 1_000_000, 100_000_000):
        k = k_for(n)
        assert (
            SEMDEDUP_BLOCK_EXPANSION * n / k
            <= SEMDEDUP_TARGET_BLOCK_ROWS
        )
    # the ladder's calibration (SEMDEDUP_KLADDER_PROBE.json: wall
    # frontier bottoms at k=1000 / ~4k mean block rows at 1M, recall
    # 1.0 at every rung, expansion saturated at the m=4 cap):
    # constants move only with a re-probe
    assert SEMDEDUP_TARGET_BLOCK_ROWS == 4_000
    assert SEMDEDUP_BLOCK_EXPANSION == 4.0
    assert k_for(1_000_000) == 1000
    # fixture scale lands on the floor — dedup_semantic's gate
    # behavior is identical to the pre-rule k=10 constant
    assert k_for(500) == 10


def test_sized_shuffle_for_table_wires_the_rule(spark, tmp_path):
    """VERDICT r11 #4: the exchange-sizing rule must have PRODUCT
    callers — sized_shuffle_for_table reads the cached parquet-footer
    row count and sets the session's shuffle partitions through
    shuffle_partitions_for. At fixture scale the applied value lands
    exactly on the session default (cores floor — gate plans
    unchanged); a large estimated exchange must raise it."""
    from tests.conftest import SF_DIR

    from database_join_spark.plans.stats import (
        parquet_rowcount,
        sized_shuffle_for_table,
    )

    cores = spark.sparkContext.defaultParallelism
    docs = f"{SF_DIR}/documents.parquet"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    cat = tmp_path / "stats.json"
    try:
        # footer-only row count agrees with a real scan
        assert (
            parquet_rowcount(docs)
            == spark.read.parquet(docs).count()
        )
        # fixture scale: floor = cores, conf set to the default
        parts, hit = sized_shuffle_for_table(
            spark, docs, rows_per_input_row=93, path=cat
        )
        assert parts == cores
        assert hit is False  # first call computed the stat
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            cores
        )
        # second call reads the catalog, no recompute
        _, hit2 = sized_shuffle_for_table(
            spark, docs, rows_per_input_row=93, path=cat
        )
        assert hit2 is True
        # a 100×-scale exchange demands more partitions (the rule
        # fires, rounded to a cores multiple)
        big, _ = sized_shuffle_for_table(
            spark, docs, rows_per_input_row=1_000_000, path=cat
        )
        assert big > cores and big % cores == 0
        assert spark.conf.get(
            "spark.sql.shuffle.partitions"
        ) == str(big)
        # a missing table is a no-op, not an error
        before = spark.conf.get("spark.sql.shuffle.partitions")
        none_parts, none_hit = sized_shuffle_for_table(
            spark, str(tmp_path / "nope.parquet"), path=cat
        )
        assert none_parts is None and none_hit is False
        assert (
            spark.conf.get("spark.sql.shuffle.partitions") == before
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_fit_sample_mod_for_bounds_sample_at_rows_per_centroid():
    """The fit-sample companion to k_for (round 12): keep
    ~rows_per_centroid × k sampled rows — recall measured 1.0 down
    to this floor (SEMDEDUP_SAMPLEDFIT_PROBE.json, 1-in-100 at
    1M/k=100). Fixture scale returns 1 (full fit — identical to the
    pre-rule behavior)."""
    from database_join_spark.plans.sizing import (
        SEMDEDUP_FIT_ROWS_PER_CENTROID,
        fit_sample_mod_for,
        k_for,
    )

    assert SEMDEDUP_FIT_ROWS_PER_CENTROID == 100
    # the probe's measured points
    assert fit_sample_mod_for(1_000_000, 100) == 100
    assert fit_sample_mod_for(1_000_000, 1000) == 10  # the ladder's 1-in-10
    # fixture scale: full fit
    assert fit_sample_mod_for(500, k_for(500)) == 1
    # sample never shrinks below the floor: n/mod >= rows*k
    for n, k in ((10**6, 100), (10**7, 1000), (10**8, 25_000)):
        mod = fit_sample_mod_for(n, k)
        assert n // mod >= 100 * k or mod == 1


def test_twolevel_threshold_and_coarse_k_pins():
    """Round-13 two-level assign dispatch rule: coarse_k_for is ⌈√k⌉
    (balances the coarse and fine GEMM terms), and the auto-dispatch
    threshold sits at the first k_for ladder rung past the measured
    flat/two-level crossover (SEMDEDUP_TWOLEVEL_PROBE.json) — below
    it fixture- and 1M-scale corpora keep the flat GEMM's simpler
    single-matrix plan."""
    from database_join_spark.plans.sizing import (
        TWOLEVEL_ASSIGN_MIN_K,
        coarse_k_for,
        k_for,
    )

    assert coarse_k_for(1) == 1
    assert coarse_k_for(100) == 10
    assert coarse_k_for(1000) == 32
    assert coarse_k_for(110_000) == 332  # the LAION-recipe scale
    # threshold = the first measured winning rung (1.83× at k=1000,
    # SEMDEDUP_TWOLEVEL_PROBE crossover) — exactly the k_for ladder's
    # 1M point: 1M-vector corpora route two-level, fixture scale and
    # the k ≤ 316 regime (flat measured ahead) keep the flat GEMM
    assert k_for(1_000_000) >= TWOLEVEL_ASSIGN_MIN_K
    assert k_for(900_000) < TWOLEVEL_ASSIGN_MIN_K
    assert TWOLEVEL_ASSIGN_MIN_K > 316


def test_exchange_multiplier_measured_not_calibrated(spark, tmp_path):
    """VERDICT r12 #3: the documents-exchange multiplier must be a
    MEASURED catalog statistic (mean tokens/doc over a sampled
    scan), not the probe-corpus constant 93 — on a corpus with ~4×
    longer documents the constant under-provisions the exchange by
    exactly the length ratio. Pins: the statistic lands on the
    synthetic truth, caches per table version, and _size_exchanges
    sets the session conf from the MEASURED value where the
    constant would have left it at the floor."""
    from pyspark.sql import functions as F

    from database_join_spark.plans.sizing import (
        shuffle_partitions_for,
    )
    from database_join_spark.plans.stats import (
        mean_tokens_per_doc_cached,
    )
    from database_join_spark.queries.pipeline import _size_exchanges

    cat = tmp_path / "stats.json"
    n_docs, true_tokens = 500, 400
    docs_dir = tmp_path / "sf" / "documents.parquet"
    (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.expr(
                f"array_join(transform(sequence(1, {true_tokens}), "
                "i -> concat('w', pmod(xxhash64(id, i), 5000))), ' ')"
            ).alias("text"),
        )
        .write.mode("overwrite")
        .parquet(str(docs_dir))
    )
    measured, hit = mean_tokens_per_doc_cached(
        spark, str(docs_dir), path=cat
    )
    assert not hit
    assert measured == float(true_tokens)
    again, hit2 = mean_tokens_per_doc_cached(
        spark, str(docs_dir), path=cat
    )
    assert hit2 and again == measured
    # the measured multiplier provisions ~4.3× the constant's
    # partitions at any exchange-relevant scale
    cores = spark.sparkContext.defaultParallelism
    assert shuffle_partitions_for(
        int(1_000_000 * measured), cores
    ) > shuffle_partitions_for(1_000_000 * 93, cores)
    # wiring: _size_exchanges turns the knob from the measured stat
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        _size_exchanges(
            spark,
            str(tmp_path / "sf"),
            rows_per_task=1_000,
            path=cat,
        )
        applied = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert applied == shuffle_partitions_for(
            n_docs * true_tokens, cores, 1_000
        )
        # the constant would have floored: 500·93 rows / 10k-row
        # tasks needs fewer than one wave of cores
        assert applied > shuffle_partitions_for(
            n_docs * 93, cores, 1_000
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_token_stat_sample_spreads_across_files(spark, tmp_path):
    """The token statistic must sample ACROSS the table's files, not
    read one file's prefix: on a layout where file order correlates
    with document length (time-ordered crawl, sorted rewrite) a
    prefix read measures only the leading file's geometry and
    under-sizes the exchange by the length ratio — the exact failure
    VERDICT r12 #3 retired the constant for. Layout: 8 files, docs
    of 10 tokens in the first half, 390 in the second (true mean
    200). A first-file prefix would report ~10."""
    from pyspark.sql import functions as F

    from database_join_spark.plans.stats import (
        sampled_mean_tokens_per_doc,
    )

    docs_dir = tmp_path / "documents.parquet"
    for i in range(8):
        tok = 10 if i < 4 else 390
        (
            spark.range(100)
            .select(
                (F.col("id") + i * 100).alias("doc_id"),
                F.expr(
                    f"array_join(transform(sequence(1, {tok}), "
                    "i -> 'w'), ' ')"
                ).alias("text"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(str(docs_dir))
        )
    measured = sampled_mean_tokens_per_doc(spark, str(docs_dir))
    # within 25% of the true mixed mean — and nowhere near either
    # pure-file value a prefix read would land on
    assert 150.0 <= measured <= 250.0
