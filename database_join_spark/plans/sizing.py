"""Cardinality-driven aggregate and join sizing.

The reference does not run its aggregate blind: a Flajolet–Martin
sketch over the build side pre-sizes the aggregation hash table
before execution (``q4112.c:336-377``, the estimate feeding the
table-capacity choice at ``q4112.c:434-435``). Rounds 3–4 built the
Spark analogues of every knob that sizing should drive — the codegen
fast-map capacity (BASELINE.md §Fast-map ablation) and the map-task
multiplier (§spill matrix, §task-count cross-check) — but left the
CHOICE to per-config pins. This module closes the loop (VERDICT r04
Next #3): estimate the group cardinality with one column-pruned
``approx_count_distinct`` pass (Spark's HLL++ — the modern FM), then
pick the decision from the measured regime table.

Measured regime table (1e9 rows, local[32]; BASELINE.md):

================  ==========================  =========================
est. groups       winning config              evidence
================  ==========================  =========================
≤ 2^16 (default   default fast map,           groups=100 insensitive
fast map covers)  1 task/core                 (1.63 vs 1.73 s)
2^16 … ~1e7       fast map sized to cover     1e6: 2^20 8.55 s vs 2^16
                  ALL groups, 1 task/core     10.63 s; 4× tasks LOSES
                                              (8.39 → 10.63 s @128t)
≥ ~1e7            repartition-first rewrite   1e8: best arm same-session
(no-reduction     (no pre-exchange partial    (REGROUP_PROBE.json); the
exchange)         map), 4× partitions         r04 conf matrix's best
                                              (zstd, 1m buffers, 48g
                                              heap, 4× tasks) ran 35.2
                                              vs 207.5 s defaults
================  ==========================  =========================

The ~1e7 boundary is where partial aggregation stops reducing: at
1e9 rows on 128 tasks each task sees ~8e6 rows, so once the group
domain reaches that order every per-task partial output is
~input-sized and the exchange carries ~all rows. Below it, exchange
width is tasks × groups — fewer tasks and a covering fast map win
instead.

Scale note: the estimate is a FULL single pass (column-pruned,
partially aggregated — the exchange carries one HLL sketch per
task), exactly the discipline of the reference's FM pass, which also
scans every build tuple. Distinct counts do NOT extrapolate linearly
from row samples, so no sampling shortcut is offered; at 100 TB the
pass is one cheap scan-only job, and ``plans/stats.py`` caches the
estimate per table version (ANALYZE TABLE) rather than re-running it
per query.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Spark's default codegen fast-map capacity (2^16 entries).
FAST_MAP_MIN_BIT = 16
#: Measured ceiling: 2^20 wins at groups=1e6 (8.55 vs 10.63 s) with
#: no regression at groups=100 (BASELINE.md §Fast-map ablation).
FAST_MAP_MAX_BIT = 20
#: Groups at or above this enter the no-reduction-exchange regime:
#: repartition-first rewrite (r05, BASELINE.md §repartition-first).
NO_REDUCTION_GROUPS = 10_000_000
#: Headroom over the HLL estimate when sizing the fast map (covers
#: the 5% default rsd plus hash-occupancy slack).
_COVER_SLACK = 1.3
#: Reducer-overload bound for the repartition-first rewrite: if the
#: most frequent key's row share exceeds this multiple of the fair
#: 1/partitions share, one reducer would serialize the hot mass and
#: the rewrite loses — REGROUP_PROBE's hh1 arms measured it 3× slower
#: than the default plan (whose partial agg crushes the hot key
#: map-side), while the hh100 arms (hot mass spread over ≥ O(cores)
#: keys) still favor the rewrite.
SKEW_TOP_SHARE_FACTOR = 2.0
#: Default reducer count for the guard (4 × the 32 local cores);
#: cluster callers pass their real partitions.
DEFAULT_PARTITIONS = 128

_CAP_BIT_CONF = "spark.sql.codegen.aggregate.fastHashMap.capacityBit"

#: Apply the Bloom probe-side prune only when the estimated survivor
#: fraction (true matches + false positives) is below this.
#: Envelope from BLOOM_JOIN_PROBE.json: at survivor_frac 0.067 the
#: prune wins 1.59× (2.63 → 1.65 s at 1e8 probe rows); the prune's
#: fixed cost is one extra dim scan + a KiB-scale broadcast + two
#: integer ops per probe row, so the win scales with the pruned
#: exchange mass — at ≥ ~25% survivors the saved shuffle no longer
#: covers that fixed cost.
PREFILTER_MAX_SURVIVOR_FRAC = 0.25
#: Bitmap sizing: ≥16 bits per expected dim key keeps the FP rate of
#: a k=1 Bloom at ~6% (probe measured fp_frac_of_nonmatching 0.058
#: at exactly 16 bits/key), small against the 25% envelope.
PREFILTER_BITS_PER_KEY = 16
#: Bitmap width bounds: floor 2^17 (operators/bloom.DEFAULT_BITS,
#: 2 KiB of words), cap 2^27 (16 MiB of words — still a cheap
#: broadcast; a dim needing more keys than 2^27/16 should bucket).
PREFILTER_MIN_BITS_LOG2 = 17
PREFILTER_MAX_BITS_LOG2 = 27


@dataclass(frozen=True)
class AggSizing:
    """The sizing chosen for one aggregation."""

    est_groups: int
    #: value for spark.sql.codegen.aggregate.fastHashMap.capacityBit
    capacity_bit: int
    #: map-side task multiplier (tasks = multiplier × cores)
    tasks_per_core: int
    #: False in the no-reduction regime: the caller should spell the
    #: aggregate repartition-first (datagen.part2_query_repartition_
    #: first is the template) so no partial map is built before the
    #: exchange. The rewrite beat r04's conf-tuned default plan on
    #: every measured host state (1.15× same-session artifact, ~2.3×
    #: under heavy host pressure; REGROUP_PROBE.json + BASELINE.md
    #: §repartition-first).
    partial_before_exchange: bool = True
    #: Write-once layout that removes this aggregate's exchange
    #: entirely, when one is proven for the regime (round 9):
    #: "bucket_on_group_key" in the uniform no-reduction regime —
    #: write the fact via write_bucketed_aligned on the group key
    #: and the groupBy inherits the bucketed partitioning
    #: (BUCKETED_AGG_PROBE.json: 5.96 s warm vs 53.5 s for this
    #: decision's own repartition-first spelling at groups=1e8;
    #: bench row part2_groups1e8_bucketed). A HINT, not an action:
    #: the planner cannot rewrite a table's storage — the caller
    #: owns the write-once cost and amortization horizon. Round 10
    #: measured the SKEWED branch too (BUCKETED_AGG_SKEW_PROBE.json,
    #: 1e9 rows / 1e8 groups): hh100 @ p=0.5 the layout wins ~3×
    #: (9.9 s vs the 29.3 s repartition control), and even hh1 @
    #: p=0.5 — half the fact on ONE key, concentrating one bucket —
    #: wins 1.9× (23.3 s vs the 43.5 s partial-agg control), because
    #: the hot bucket's constant key delta-compresses to a 121 MB
    #: file whose single-task scan beats exchanging the hot mass.
    #: The skewed branch's hint carries two measured prices the
    #: uniform branch doesn't: the one-time build pays a writer
    #: straggler (574 s vs 137 s at hh1 — one task sorts 5e8 rows),
    #: and the query floor is the hot bucket's single-task scan.
    layout_hint: str | None = None

    @property
    def confs(self) -> dict[str, str]:
        """The runtime SQL confs :func:`applied` sets for the action."""
        return {_CAP_BIT_CONF: str(self.capacity_bit)}

    def tasks(self, cores: int) -> int:
        return self.tasks_per_core * cores


def decide(
    est_groups: int,
    top_share: float | None = None,
    partitions: int = DEFAULT_PARTITIONS,
) -> AggSizing:
    """Pure decision step — the regime table above as code, pinnable
    without a Spark pass (tests/test_sizing.py);
    :func:`plans.stats.plan_for_cached` feeds it the estimates.

    Round-5 revision for the ≥1e7 regime: the winning answer is a
    PLAN shape, not a conf set — repartition on the group key first
    and aggregate once post-exchange (the pre-exchange partial map
    reduces nothing at this cardinality and its build/spill was the
    heap pressure the r04 conf matrix mitigated). Same-session arms
    at groups=1e8 (REGROUP_PROBE.json): the rewrite on the untuned
    session is the best arm (1.15× over the conf-tuned default plan;
    ~2.3× under heavy host pressure in the exploratory pair,
    BASELINE.md), so this regime gets the rewrite, 4× partitions
    (the 1×/8× arms lose), and a fast map covering the
    ~groups/partitions keys each reducer owns."""
    est = max(int(est_groups), 1)
    if est >= NO_REDUCTION_GROUPS:
        if (
            top_share is not None
            and top_share * partitions > SKEW_TOP_SHARE_FACTOR
        ):
            # A hot key would overload one reducer under the rewrite
            # (hh1 arms, REGROUP_PROBE.json): keep the partial agg —
            # it absorbs the hot key map-side — with 4× map tasks for
            # the residual wide exchange. Fast-map bit stays at the
            # MEASURED hand-best — the r04 matrix's g1e8 winner ran bit
            # 16 (SIZING_PROBE.json regime g1e8); bit 20 here
            # was an unmeasured extrapolation (ADVICE r05). At ≥1e7
            # groups no fast map covers the key set either way; the
            # map only absorbs the hot key itself, which bit 16 does.
            return AggSizing(
                est,
                FAST_MAP_MIN_BIT,
                4,
                partial_before_exchange=True,
                # round 10: the layout endgame holds under skew too
                # (BUCKETED_AGG_SKEW_PROBE: hh1 1.9×, hh100 ~3× over
                # each shape's best inline spelling) — the hot mass
                # delta-compresses inside its sorted bucket. The
                # build-side straggler is the caller's price (see
                # the layout_hint field note).
                layout_hint="bucket_on_group_key",
            )
        return AggSizing(
            est,
            FAST_MAP_MAX_BIT,
            4,
            partial_before_exchange=False,
            layout_hint="bucket_on_group_key",
        )
    cover_bit = math.ceil(math.log2(est * _COVER_SLACK))
    bit = min(FAST_MAP_MAX_BIT, max(FAST_MAP_MIN_BIT, cover_bit))
    return AggSizing(est, bit, 1)


@dataclass(frozen=True)
class PrefilterSizing:
    """The decision for one probe-side Bloom prune (operators/bloom)."""

    est_dim_keys: int
    est_probe_keys: int
    #: expected fraction of probe rows surviving the prune:
    #: match share + FP share of the non-matching mass
    survivor_frac: float
    #: bitmap width the prune should use if applied
    bits: int
    #: True → prune the probe side before its join exchange
    apply: bool


def decide_prefilter(
    est_dim_keys: int, est_probe_keys: int
) -> PrefilterSizing:
    """Pure decision step for the Bloom probe-side prune — the
    BLOOM_JOIN_PROBE envelope as code (VERDICT r06 #7), pytest-
    pinnable without a Spark pass.

    The survivor model assumes the dim keys are a subset of the
    DISTINCT probe keys and probe rows are roughly uniform over
    them (true for the TPC-H-ish foreign keys this serves): match
    share ≈ dim_keys / distinct_probe_keys, and the non-matching
    remainder leaks through at the k=1 Bloom FP rate ≈ dim_keys /
    bits. When the probe references only a subset of the dim's key
    domain the model overstates the match share — conservative: it
    can only make the prune LESS likely to apply near the envelope.
    Both inputs are HLL estimates (one column-pruned scan each, the
    same discipline as :func:`estimate_groups`); at 100 TB production
    would read them from table statistics instead (plans/stats.py
    is that catalog).
    """
    est_d = max(int(est_dim_keys), 1)
    est_p = max(int(est_probe_keys), 1)
    bits_log2 = min(
        PREFILTER_MAX_BITS_LOG2,
        max(
            PREFILTER_MIN_BITS_LOG2,
            math.ceil(math.log2(est_d * PREFILTER_BITS_PER_KEY)),
        ),
    )
    bits = 1 << bits_log2
    match = min(est_d / est_p, 1.0)
    fp = (1.0 - match) * (est_d / bits)
    frac = min(match + fp, 1.0)
    return PrefilterSizing(
        est_d,
        est_p,
        frac,
        bits,
        frac < PREFILTER_MAX_SURVIVOR_FRAC,
    )


def plan_prefilter(
    probe: DataFrame,
    probe_key: str,
    dim: DataFrame,
    dim_key: str,
    rsd: float = 0.05,
) -> PrefilterSizing:
    """Estimate both key cardinalities and decide the prune — the
    FM-sizing pattern applied to join pruning. Consumed by
    ``join_bloom_prefilter`` (queries/extras.py): its plan gains or
    loses the bitmap broadcast join with this estimate."""
    return decide_prefilter(
        estimate_groups(dim, [dim_key], rsd=rsd),
        estimate_groups(probe, [probe_key], rsd=rsd),
    )


def _group_key(group_cols: list[str]):
    """The grouping key as one column: a struct for composite keys."""
    if len(group_cols) > 1:
        return F.struct(*[F.col(c) for c in group_cols])
    return F.col(group_cols[0])


def estimate_groups(
    df: DataFrame, group_cols: list[str], rsd: float = 0.05
) -> int:
    """HLL++ cardinality of the grouping key: one column-pruned scan,
    partial-aggregated (the exchange carries one sketch per task)."""
    row = df.select(
        F.approx_count_distinct(_group_key(group_cols), rsd=rsd).alias("n")
    ).first()
    return int(row["n"])


def estimate_top_share(
    df: DataFrame,
    group_cols: list[str],
    fraction: float = 0.001,
    seed: int = 7,
) -> float | None:
    """Sampled row-frequency share of the most frequent key. A heavy
    hitter is, by definition, frequent — a small uniform ROW sample
    sees it (unlike distinct counts, frequency shares extrapolate
    from row samples). Returns None on an empty sample."""
    sampled = df.select(_group_key(group_cols).alias("k")).sample(
        fraction=fraction, seed=seed
    )
    row = (
        sampled.groupBy("k")
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .first()
    )
    if not row or not row["tot"]:
        return None
    return float(row["mx"]) / float(row["tot"])


@dataclass(frozen=True)
class SkewJoinPlan:
    """The strategy chosen for one potentially-skewed fact⋈dim join.

    ``strategy`` is one of:

    - ``"broadcast"`` — the dim fits the session's broadcast budget;
      skew is irrelevant because no fact shuffle happens at all.
    - ``"plain"``     — no heavy hitter visible; stock SMJ/SHJ under
      default AQE gates is already right.
    - ``"aqe_split"`` — heavy hitter + shuffle join: run the action
      under :func:`applied`, which sets ``confs``
      (:func:`operators.skew.skewjoin_detection_confs`) — the
      measured best fix (SKEWJOIN_PROBE.json:
      20.2 s vs 33.0 salted / 45.7 no-fix / 59.0 blind-default at
      4e8 rows, hot key 25%).
    - ``"salted"``    — heavy hitter but the caller flagged that AQE
      conf control is unavailable (non-shuffle plan, locked session):
      :func:`operators.skew.salted_join` with ``salts``; pass an
      explicit ``salt_src`` when the projected fact is key-only (the
      measured bare_salted_rowhash trap).
    """

    est_dim_rows: int
    top_share: float | None
    strategy: str
    #: per-query SQL confs to apply for "aqe_split"; empty otherwise
    confs: dict[str, str]
    #: recommended replication for "salted" (the probe's measured
    #: arm ran 8 at hot-share 0.25); 0 otherwise
    salts: int = 0


#: Broadcast budget: the session's autoBroadcastJoinThreshold
#: (session.py sets 64 MB — generous local[32] headroom; at 1000
#: executors a 64 MB relation is still a cheap torrent broadcast).
#: This constant is the PURE-decision default only; the live path
#: (:func:`plans.stats.plan_skewjoin_cached`) reads the session's
#: actual conf so the prediction can never diverge from what
#: auto-broadcast does (ADVICE r10), and tests/test_sizing pins this
#: default to session.py's configured value.
BROADCAST_MAX_BYTES = 64 * 1024 * 1024


def _parse_spark_bytes(value: str | None) -> int | None:
    """Parse a Spark byte-size conf string (plain int = bytes, or
    ``k``/``m``/``g``/``t`` suffix, optionally with ``b``). Returns
    None on anything unparsable; negative (auto-broadcast disabled)
    maps to 0 so the decision never predicts a broadcast that the
    session would refuse."""
    if value is None:
        return None
    s = value.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 2**10), ("m", 2**20), ("g", 2**30), ("t", 2**40)):
        if s.endswith(suffix):
            s, mult = s[: -1], m
            break
    try:
        return max(int(s) * mult, 0)
    except ValueError:
        return None
#: Assumed in-memory bytes per dim row when the caller has only a
#: row count (narrow key+payload dim; a wide dim should pass real
#: bytes from table stats). 32 B/row puts the 64 MB budget at 2e6
#: rows — the probe's 1e7-row dim is correctly ineligible.
DIM_ROW_BYTES = 32
#: Measured salted_join replication (SKEWJOIN_PROBE ``salted`` arm:
#: salts=8 at hot-share 0.25 on 128 partitions — 33.0 s vs 45.7 no
#: fix). Kept a constant, not a formula: no other salt count has
#: been measured.
SALTED_JOIN_SALTS = 8


def decide_skewjoin(
    top_share: float | None,
    dim_rows: int,
    partitions: int = DEFAULT_PARTITIONS,
    dim_bytes: int | None = None,
    can_set_confs: bool = True,
    broadcast_max_bytes: int = BROADCAST_MAX_BYTES,
) -> SkewJoinPlan:
    """Pure decision step for a fact⋈dim equi-join under possible
    fact-side key skew — the join-side twin of :func:`decide`
    (VERDICT r09 #1): the reference sizes its OTHER operator, the
    join of ``q4112_hj.c:95-133``, from the same estimate discipline.

    Ladder, thresholds from measured arms:

    1. dim fits the broadcast budget → broadcast; no shuffle exists
       for skew to hurt (and AQE's split only applies to SMJ/SHJ).
    2. no heavy hitter (``top_share · partitions ≤`` the same
       :data:`SKEW_TOP_SHARE_FACTOR` fair-share rule the aggregate
       guard uses — one reducer holding ≤2× fair share is fine) →
       plain join, stock gates.
    3. heavy hitter → opened-gate AQE split
       (SKEWJOIN_PROBE: the best arm, and the ONLY arm that fires on
       the pathological key-only fact). Byte-blind default gates are
       deliberately not an option: the hot partition's constant key
       over-compresses, measured 11× row skew reading as 2–3× bytes.
    4. heavy hitter but ``can_set_confs=False`` → salted_join with
       the measured replication, the fix that needs no conf control.

    ``top_share=None`` (empty sample / unknown) is treated as
    no-heavy-hitter: stock AQE gates stay, matching :func:`decide`'s
    optimism — the failure mode is a slow first run, not a wrong
    answer, and the sampled estimate is one cheap pass away.
    """
    est_dim = max(int(dim_rows), 1)
    est_bytes = dim_bytes if dim_bytes is not None else est_dim * DIM_ROW_BYTES
    if est_bytes <= broadcast_max_bytes:
        return SkewJoinPlan(est_dim, top_share, "broadcast", {})
    skewed = (
        top_share is not None
        and top_share * partitions > SKEW_TOP_SHARE_FACTOR
    )
    if not skewed:
        return SkewJoinPlan(est_dim, top_share, "plain", {})
    if can_set_confs:
        from database_join_spark.operators.skew import (
            skewjoin_detection_confs,
        )

        return SkewJoinPlan(
            est_dim, top_share, "aqe_split", skewjoin_detection_confs()
        )
    return SkewJoinPlan(
        est_dim, top_share, "salted", {}, salts=SALTED_JOIN_SALTS
    )


@contextmanager
def applied(spark: SparkSession, plan: AggSizing | SkewJoinPlan):
    """Set ``plan.confs`` for the duration of a block — the
    action-side half of a decision (a registry query returns a lazy
    DataFrame and must not mutate its session; the caller that owns
    the ACTION wraps it here). On exit each conf gets back the value
    it had, and a conf that was unset before is unset again. A join
    plan whose strategy changes the PLAN rather than the session
    (broadcast / plain / salted) carries no confs, so this is a
    no-op for it::

        sizing, _ = plan_for_cached(df, ["g"], table_key=...)
        with applied(spark, sizing):
            run(sizing)  # build per sizing.tasks(cores) + collect
    """
    prev = {k: spark.conf.get(k, None) for k in plan.confs}
    for k, v in plan.confs.items():
        spark.conf.set(k, v)
    try:
        yield plan
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


#: Healthy per-task row bound for a shuffled aggregation/window pass,
#: calibrated by the composed-pipeline scale sweep
#: (PIPELINE_SCALE_PROBE.json, round 11): ~2.9M rows of per-task
#: state ran linear at BOTH sweep extremes (93M window rows / 32
#: tasks at 1M docs, 372M / 128 at 4M), while ~11.6M rows per task
#: (372M over the session's fixed 32) spilled inside the dominant
#: stages and cost 1.5× end-to-end — with parquet stage boundaries
#: explicitly measured as NO rescue (the fall-off is in-stage). The
#: measured entries were ~20-byte (key, id, pos) rows; treat the
#: bound as order-of-magnitude calibration, wider rows want fewer.
SHUFFLE_ROWS_PER_TASK = 3_000_000


def shuffle_partitions_for(
    input_rows: int,
    cores: int,
    rows_per_task: int = SHUFFLE_ROWS_PER_TASK,
) -> int:
    """Initial shuffle-partition count for a stage whose exchange
    carries ``input_rows`` rows: enough partitions that no task
    aggregates more than ``rows_per_task`` of state, never fewer
    than ``cores``, rounded up to a multiple of ``cores`` so task
    waves divide evenly.

    The rule the scale sweep distilled (round 11): size initial
    shuffle partitions to BOUND PER-TASK STATE, never to match
    cores. The session default (partitions == cores) is right for
    fixture-scale latency but silently becomes the bottleneck as
    input grows past cores × rows_per_task — on a real cluster this
    knob turns itself when executors scale with data; a fixed fleet
    must turn it by hand. Over-provisioning is one-sided cheap:
    AQE's coalescer (on in this engine's sessions) merges small
    partitions at runtime, so the cost of too many is ~zero while
    the cost of too few is measured at 1.5× and growing with n
    (PIPELINE_SCALE_PROBE's four-way 4M adjudication). Apply via
    ``spark.conf.set("spark.sql.shuffle.partitions", ...)`` before
    the stage, or ``get_spark(shuffle_partitions=...)`` at build.

    Reference parity: the same estimate-before-execute discipline as
    the FM-presized aggregate table (q4112.c:336-377) — here the
    estimate sizes the exchange instead of the hash table.
    """
    if cores < 1:
        raise ValueError(f"cores must be >= 1, got {cores}")
    need = max(cores, math.ceil(input_rows / max(1, rows_per_task)))
    return cores * math.ceil(need / cores)


#: Target MEAN block rows for SemDeDup's k-means blocking, calibrated
#: by the round-12 k-ladder at 1M vectors (SEMDEDUP_KLADDER_PROBE.
#: json): the pair sweep costs ~(expansion·n)²/2k pair scores, so
#: bounding mean block rows (expansion·n/k) bounds the per-block
#: quadratic. The measured recall/wall frontier — planted recall
#: 1.0 at EVERY rung (the ratio-capped multi-probe carries boundary
#: pairs regardless of cell size) — bottoms at k=1000 / mean block
#: ~4k rows (112.5 s vs 293.6 s at the r11-default k=100, 2.6×);
#: k=3162 is within noise of the floor (137 s) and k=10000 climbs
#: back to 202.8 s because the FIT (sampled Lloyd's: k-GEMM per
#: iteration + k·dim driver stats) grows from 5 s to 106 s — past
#: the frontier the linear-in-k costs repay the sweep's savings.
#: 4k also sits safely under SEMDEDUP_TARGET_CHUNK (8192), so the
#: skew chunking stays a no-op on right-sized blocks. (The SemDeDup
#: paper's own LAION recipe — 110k clusters / 440M vectors — is
#: the same ~4k vectors per cluster.)
SEMDEDUP_TARGET_BLOCK_ROWS = 4_000

#: Blocking expansion (block rows per corpus vector) under the
#: shipped ratio-capped probing (m=4, ratio=1.5). At coarse k the
#: ratio rule prunes probes (measured 1.51× at 505k/k=50, 1.98× at
#: 1M/k=100) but once k exceeds the corpus's cluster structure most
#: vectors sit near SOME boundary and the expansion SATURATES AT m
#: (k-ladder: 3.82× at k=316, 4.0× flat from k=1000 up). k_for
#: plans for the saturated regime — that is where k ∝ n lives.
SEMDEDUP_BLOCK_EXPANSION = 4.0


def k_for(
    n_vectors: int,
    target_block_rows: int = SEMDEDUP_TARGET_BLOCK_ROWS,
    expansion: float = SEMDEDUP_BLOCK_EXPANSION,
) -> int:
    """Centroid count for SemDeDup blocking over ``n_vectors``:
    enough clusters that the MEAN block holds at most
    ``target_block_rows`` rows, so the within-block pair sweep —
    Σ|block|² ≈ (expansion·n)²/2k, the measured 78% of the 1M wall
    (SEMDEDUP_STAGEWALL_PROBE.json) — scales LINEARLY with n
    instead of quadratically. The r11-default k = n/10k froze block
    size at ~20k rows, which holds the quadratic term's growth
    linear-in-n forever: the round-12 ladder measured that rung at
    2.6× the wall of this rule's k at identical planted recall 1.0
    (SEMDEDUP_KLADDER_PROBE.json; constants' docstrings carry the
    full frontier).

    k ∝ n is the SemDeDup paper's own recipe (110k clusters for
    LAION-440M ≈ 4k vectors/cluster — the same target this ladder
    measured); this encodes it beside the planner's other measured
    rules (:func:`shuffle_partitions_for`, :func:`decide`) — the
    reference's estimate-before-execute discipline
    (q4112.c:336-377) applied to the blocking structure constant
    instead of the hash-table size. Floor of 10 keeps fixture-scale
    fits non-degenerate; recall is protected by the ratio-capped
    multi-probe, not by block size (measured flat at 1.0 across the
    whole ladder).

    The "next lever past ~10M vectors" this docstring named in
    round 12 is now BUILT, both halves: the full-corpus assign and
    the fit loop's per-iteration assign route through the two-level
    quantizer past :data:`TWOLEVEL_ASSIGN_MIN_K` (n·√k and
    100·k^1.5 work respectively — SEMDEDUP_TWOLEVEL_PROBE.json and
    SEMDEDUP_FIT2L_PROBE.json carry the measured ladders; at 4M the
    fit fell 153 → 11.3 s with downstream pairs identical and the
    deviation story pinned by the parity parts).
    """
    return max(10, math.ceil(expansion * n_vectors / target_block_rows))


#: Fit-sample floor: rows per centroid the sampled k-means fit keeps.
#: Measured at 1M/k=100 (SEMDEDUP_SAMPLEDFIT_PROBE.json): a 10k-row
#: sample — 100 rows per centroid — fits centroids whose blocking
#: recalls the planted truth at 1.0, identical to the full-corpus
#: fit, while fit wall drops 152 → 20.6 s; the shipped 1-in-10 recipe
#: at the ladder's k=1000 is the same 100-rows-per-centroid point.
SEMDEDUP_FIT_ROWS_PER_CENTROID = 100


def fit_sample_mod_for(
    n_vectors: int,
    k: int,
    rows_per_centroid: int = SEMDEDUP_FIT_ROWS_PER_CENTROID,
) -> int:
    """1-in-mod hash-sample denominator for SemDeDup's k-means fit:
    keep ~``rows_per_centroid × k`` sampled rows, never fewer. The
    companion rule to :func:`k_for` — under k ∝ n a FULL fit does
    n·k centroid-distance work per iteration (super-linear in n);
    bounding the sample at rows-per-centroid makes the fit's row
    count scale WITH k, so placing 10× the centroids costs 10× the
    sample, not 10× the corpus. Blocking quality depends on where
    centroids sit, not on which rows placed them — the probe
    measured recall pinned at 1.0 down to this floor
    (SEMDEDUP_SAMPLEDFIT_PROBE.json, 1-in-100 at 1M/k=100).

    Returns 1 (full fit) when the corpus is already near the sample
    target — the fixture-scale identity, and
    ``semdedup_pairs(fit_sample_mod=1)`` is the documented full-fit
    spelling; its own fewer-than-k fallback still guards degenerate
    samples independently.
    """
    return max(1, n_vectors // max(1, rows_per_centroid * k))


#: Centroid count from which the k-means assign kernel
#: (operators/similarity._assign_rows, behind every assign site)
#: routes each vector through the two-level (coarse √k →
#: fine-within-cell) index instead of one cell of all k centroids.
#: The flat assign does n·k distance work — under :func:`k_for`'s
#: k ∝ n that is the last super-linear term in SemDeDup (VERDICT r12
#: #2); the two-level path does n·(√k + coarse_m·√k) plus a
#: per-cell-top-m merge. Measured by SEMDEDUP_TWOLEVEL_PROBE.json at
#: 1M vectors: the two-level assign wall sits ~flat at 5.7–5.9 s
#: across k=1000/2048/3162 while the flat GEMM pays 33/19/20 s
#: (5.8×/3.2×/3.4×, identical emitted-row counts every rung), and the
#: n-ladder keeps the advantage to 4M (5.1 → 62 s vs flat 30 → 283 s
#: — 4.5× at 4M/k=4040, rows identical; the shipped operator
#: end-to-end at 4M: 349 s, recall 1.0, exactly the 40k planted
#: pairs, vs the r12 flat-assign 1M record of 112.5 s — 3.1× wall for
#: 4× corpus). The threshold sits at the k_for ladder's 1M rung — the
#: first point measured winning — so corpora from 1M vectors up take
#: the two-level path and fixture-scale runs keep the one-cell
#: index's single-matrix simplicity (at fixture k the router adds
#: pure overhead). The fit loop's nearest-only assign is the same
#: kernel at m=1, so it crosses at the same k (100·k^1.5
#: per-iteration work instead of 100·k² under the sampled fit):
#: SEMDEDUP_FIT2L_PROBE.json measures 2.36×/2.59× at 2M/4M on top of
#: the iteration-frame persist, with the 1M parity part pinning the
#: downstream cost of the fit's trajectory deviation at ZERO
#: emitted-pair difference (recall 1.0 both arms).
TWOLEVEL_ASSIGN_MIN_K = 1000


def coarse_k_for(k: int) -> int:
    """Coarse cell count for the two-level assign: ⌈√k⌉ balances the
    two GEMM terms (coarse kc + fine probed·k/kc per vector — the
    sum is minimized at kc = √(probed·k), and probed is a small
    constant, so √k is within √probed of optimal while keeping the
    router's driver-side fit at k·√k work).

    That driver-side k^1.5 router term is MEASURED, not assumed
    (ROUTER_WALL_PROBE.json, k = 10k…300k, int64 geometry): it
    tracks the same k^1.5 curve as the distributed two-level fit,
    so on this 32-core box it is a constant ~0.6% of the fit wall
    at every k. The share only grows with FLEET parallelism (the
    fit distributes, the router does not): at 1000-executor scale
    it extrapolates to ~17% — still secondary, and the at-scale
    spelling when it stops being secondary is the same machinery
    one level up: sample the router's own Lloyd input
    (``fit_sample_mod_for`` applied to the k fine centroids) and
    distribute the one-pass k-row cell assignment through
    :func:`~database_join_spark.operators.similarity.kmeans_assign`
    against the kc coarse centers."""
    return max(1, math.ceil(math.sqrt(k)))
