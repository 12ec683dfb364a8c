"""Structured Streaming forms of the windowed operators (#31–#32) and
custom stateful processing (#33's applyInPandasWithState surface).

The batch-equivalent forms in ``queries/streaming.py`` carry the
DuckDB oracles; this module carries the real ``readStream`` pipelines
with watermarks. tests/test_streaming.py proves batch ≡ stream on the
fixtures (replay-to-completion with an ``availableNow`` trigger), the
only sound oracle for streaming state (SURVEY §5.2 risk 5).

Scale notes: event-time windows + watermarks bound state size by the
lateness horizon, not stream length; session windows merge in the
state store; ``dropDuplicatesWithinWatermark`` keeps only the id set
inside the horizon. All state lives in the checkpointed state store,
partitioned by the grouping key — the streaming analogue of the
reference's per-thread aggregation caches (q4112.c:225-237).

API-generation note (round 6): Spark 4's successor API for custom
stateful processing — ``transformWithStateInPandas``
(StatefulProcessor + value/list/map state + timers) — requires the
``protobuf`` Python package for its state-server protocol, which
this container does not ship and cannot install; importing the
processor machinery fails before any query runs. The
``applyInPandasWithState`` operators here are the supported
equivalent surface (same arbitrary-state semantics; timers ≈
EventTimeTimeout, used by :func:`sessionize_stateful`'s TTL path).
Porting ``update()`` to a StatefulProcessor is mechanical when the
dependency is available.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from database_join_spark.functions import DSUM
from database_join_spark.session import configure_session

#: Decimal-stable sum (FIXTURES.md rule 2), same spelling as batch.
_VSUM = DSUM.format(c="value")

#: The disk-backed state-store provider — the only one that survives
#: unbounded catch-up depth (STREAM_THROUGHPUT_PROBE.json: a single
#: availableNow trigger holds the ENTIRE backlog's dedup state live;
#: the in-JVM-memory provider cannot hold 1e8 rows, RocksDB ran it).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

_ROCKSDB_CONF_PREFIX = "spark.sql.streaming.stateStore.rocksdb."


def rocksdb_state_store_confs() -> dict[str, str]:
    """Per-query SQL confs selecting the RocksDB state-store provider,
    with the measured-winning tuning.

    Which provider to run is a measured rule, not taste
    (STREAM_THROUGHPUT_PROBE.json, 1e8 events): in-memory state for
    horizon-bounded live streams (2.6–2.7× faster on the live path);
    RocksDB the moment catch-up depth is unbounded — a bulk replay's
    watermark advances only at trigger end, so the whole backlog's
    state is live at once and must not need to fit on the heap.

    When RocksDB is the pick, these are the knobs the tuning sweep
    won with (ROCKSDB_TUNING_PROBE.json, 5e7 events / 20 triggers,
    in-session controls):

    - changelog checkpointing — per-batch changelog uploads instead
      of full snapshots. The steady-state lever: 1.56× the untuned
      median batch rate (634k vs 403k rows/s); early triggers pay
      for it, so short replays see only ~9.6% wall.
    - 256 MB write buffers × 4 — fewer memtable flushes per commit,
      +6.7% alone, sub-additive with changelog mode.

    The residual ~2.2× vs in-memory is the put-path floor (every
    event is one get+put on a fresh key; nothing for a block cache
    to do), so no further knobs are encoded here.

    Apply per-query before ``writeStream.start()`` (the provider is
    read at stream start)::

        for k, v in rocksdb_state_store_confs().items():
            spark.conf.set(k, v)
    """
    return {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        _ROCKSDB_CONF_PREFIX + "changelogCheckpointing.enabled": "true",
        _ROCKSDB_CONF_PREFIX + "writeBufferSizeMB": "256",
        _ROCKSDB_CONF_PREFIX + "maxWriteBufferNumber": "4",
    }


#: events.parquet has shipped at two physical resolutions across
#: fixture generations (TESTDATA.md): TIMESTAMP(NANOS) — surfaced as
#: INT64 nanos under nanosAsLong, rebuilt into a µs timestamp — and
#: TIMESTAMP(MICROS), read as a timestamp directly. Streaming reads
#: need an explicit schema, so read ts's type from the batch catalog's
#: memoized schema (catalog.schema) and declare the matching one.
_EVENTS_SCHEMA_NANOS = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
_EVENTS_SCHEMA_MICROS = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a file-source stream (one-file replay).

    ``readStream.parquet`` over the fixture directory is the
    file-source pattern: at production scale the same code tails a
    bucket/directory as files land.
    """
    from pyspark.sql.types import LongType
    from pyspark.sql.utils import AnalysisException

    from database_join_spark.catalog import schema

    configure_session(spark)  # nanosAsLong et al. (RUNTIME_CONFS)
    # The MICROS schema declares ts as TIMESTAMP (LTZ) over a file
    # whose annotation is NTZ, which reinterprets raw micros as
    # epoch-UTC; catalog.table instead casts NTZ→LTZ through the
    # session zone. The two agree ONLY at session tz UTC —
    # configure_session sets it best-effort, so fail loudly here
    # rather than let a non-UTC session silently diverge batch from
    # stream (ADVICE r02).
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise RuntimeError(
            f"events_stream requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the stream-side TIMESTAMP schema reads the "
            f"fixture's NTZ micros as epoch-UTC and would diverge from "
            f"the batch catalog under any other session zone"
        )
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    try:
        nanos = isinstance(schema(spark, path)["ts"].dataType, LongType)
    except AnalysisException:
        # Probe file not landed yet — the documented production
        # pattern tails a directory as files land, so construction
        # must not require data to exist. Current fixture generations
        # ship TIMESTAMP(MICROS) (TESTDATA.md); declare that.
        nanos = False
    # The file source wants a directory; the fixture is a single file,
    # so stream the directory with a glob pinned to it.
    stream = (
        spark.readStream.schema(
            _EVENTS_SCHEMA_NANOS if nanos else _EVENTS_SCHEMA_MICROS
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    if nanos:
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return stream


def tumbling_counts(stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming twin of queries.streaming.stream_tumbling."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(_VSUM).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(stream: DataFrame, gap: str = "12 hours") -> DataFrame:
    """Streaming twin of queries.streaming.stream_session (session
    windows merge incrementally in the state store)."""
    return (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(_VSUM).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Stateful streaming dedup on event_id, state bounded by the
    watermark horizon (#32's late-data surface)."""
    return stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


#: Minimum token count a document must clear to enter the corpus —
#: the same threshold the batch quality gate applies
#: (queries/pipeline.py corpus_pipeline / PIPELINE_E2E_PROBE).
INGEST_MIN_TOKENS = 20


def corpus_ingest_dedup(stream: DataFrame) -> DataFrame:
    """Streaming ingest front of the corpus pipeline (round 11): the
    quality gate plus cross-batch exact dedup, over a document stream
    ``(doc_id, text, ...)`` — the incremental-arrival shape of
    ``corpus_pipeline``'s first two stages. A crawl never
    re-deduplicates its corpus; each arriving batch is admitted only
    where its content fingerprint has never been seen (the streaming
    analogue of ``dedup_incremental``'s anti-join against the
    fingerprint store).

    Semantics: ``dropDuplicates`` on the 128-bit content fingerprint
    with NO watermark — first ARRIVAL wins (arrival order IS the
    dedup policy of an ingest pipeline; the batch library's min-id
    survivor rule applies when ids, not arrival, define precedence).
    "Exact" is exact ON THE FINGERPRINT, and the fingerprint is the
    library's order-insensitive normalization (md5 over the sorted
    DISTINCT token set, ``operators/text.fingerprint`` — see its
    caveat): two documents with the same token set but different
    order or multiplicity collapse to one. That is the same key
    ``corpus_pipeline``'s batch stage dedups on (the ingest/batch
    parity the probe asserts depends on it); byte-exact identity
    would key on ``md5(text)`` instead.
    State is therefore the full fingerprint store, growing with the
    unique corpus — that is the honest cost of global exact dedup,
    and exactly what the disk-backed RocksDB provider is for
    (:data:`ROCKSDB_PROVIDER`; the in-memory provider caps at JVM
    heap). Stateless stages downstream (decontamination against a
    static benchmark set, packing) ride per-batch in ``foreachBatch``
    — see scripts/stream_ingest_probe.py for the composed run with
    planted per-day masses and batch-replay parity.

    100 TB: state is (fp, doc payload) keyed by fingerprint, hash-
    partitioned across the fleet like every state store; per-batch
    work is one shuffle of the BATCH (not the corpus) on fp. The
    fingerprint store never rewrites — RocksDB changelog checkpoints
    append deltas only.
    """
    from database_join_spark.operators import text as T

    return (
        stream.withColumn("n_tokens", T.token_count("text"))
        .filter(F.col("n_tokens") >= INGEST_MIN_TOKENS)
        .withColumn("fp", T.fingerprint("text"))
        .dropDuplicates(["fp"])
    )


#: Candidate-sketch fetches collect rep ids to the driver and push an
#: In-filter into the parquet scan while the list stays a filter-sized
#: literal; past this, fall back to a broadcast semi-join.
_ISIN_FETCH_MAX = 100_000

#: Cross-batch cache of the DECODED bucket store, keyed by store dir
#: (round 13, VERDICT r12 #3-residual). The store is append-only and
#: every batch probes ALL of it, so re-reading + re-decoding the
#: whole parquet store per batch pays the full decode for rows that
#: were identical last batch — the measured residual slope
#: (STREAM_INGEST_NEARDUP_PROBE arm 2: 25.2 → 32.6 s/batch over 20
#: batches at 2M docs). Range/partition pruning CANNOT fix this:
#: LSH buckets are uniform hashes, so a batch's ~1M probed buckets
#: overlap every file's bucket range with probability ~1 — no
#: file-stat scheme skips anything. What is reducible is the
#: re-decode: each entry holds the persisted frame over the files
#: already consumed, and a batch unions in only the NEW append
#: files (one sorted file per batch, see the append below) — per
#: batch parquet IO becomes O(delta) while the probe's CPU over the
#: cached rows stays the irreducible O(state) hash-probe (24 B/row,
#: distributes across the fleet). MEMORY_AND_DISK, so a large store
#: degrades to spill, not recompute; a restart simply rebuilds from
#: the files (cold read once). Deliberately NOT in _PERSIST_POOL —
#: the pool is for intra-query temporaries, this is cross-batch
#: state with an explicit lifecycle (:func:`clear_neardedup_cache`).
#: Entries rebuild from scratch every _STORE_REBUILD_EVERY unions so
#: the union plan depth stays bounded.
_STORE_CACHE: dict = {}
_STORE_REBUILD_EVERY = 64
#: Frames superseded by an increment, awaiting release at batch end.
#: Unpersisting the old snapshot eagerly would force the increment
#: to materialize first (a full extra pass over the store per batch
#: — the round-13 probe measured that maintenance pass costing
#: exactly what the cache saves); deferring lets the BATCH'S OWN
#: probe materialize the union (its hit_pairs checkpoint is eager),
#: and the old frame is released after the appends, when nothing
#: reads it.
_STORE_RETIRED: list = []


def _release_retired_store_frames() -> None:
    while _STORE_RETIRED:
        try:
            _STORE_RETIRED.pop().unpersist(blocking=False)
        except Exception:
            pass


def clear_neardedup_cache(state_dir: str | None = None) -> None:
    """Release the cached bucket-store frames (all, or one store's).
    Call when a stream is stopped/abandoned; a restarted stream does
    not need it (the cache detects new files and rebuilds)."""
    _release_retired_store_frames()
    keys = (
        [k for k in _STORE_CACHE if state_dir is None or k.startswith(
            state_dir.rstrip("/")
        )]
    )
    for k in keys:
        frame, _seen, _unions = _STORE_CACHE.pop(k)
        try:
            frame.unpersist(blocking=False)
        except Exception:
            pass


def _bucket_store_frame(spark, buckets_dir: str):
    """The accumulated bucket store as a persisted DataFrame, updated
    incrementally: returns the cached frame unioned with any files
    appended since the last call (materialized before the previous
    increment is released, so no window recomputes the old rows from
    parquet). Returns None when the store has no data files yet."""
    from pathlib import Path

    from pyspark import StorageLevel

    files = sorted(
        str(p) for p in Path(buckets_dir).rglob("*.parquet")
    )
    if not files:
        return None
    fileset = set(files)
    entry = _STORE_CACHE.get(buckets_dir)
    if entry is not None:
        frame, seen, unions = entry
        if seen == fileset:
            return frame
        new = sorted(fileset - seen)
        if seen <= fileset and unions < _STORE_REBUILD_EVERY:
            nf = frame.unionByName(
                spark.read.parquet(*new)
            ).persist(StorageLevel.MEMORY_AND_DISK)
            # no eager materialization: the caller's probe is the
            # first (and materializing) reader — an eager count here
            # would re-pay a full store pass per batch. The old
            # frame retires at batch end, after the probe consumed
            # the union through its eager checkpoint.
            _STORE_RETIRED.append(frame)
            _STORE_CACHE[buckets_dir] = (nf, fileset, unions + 1)
            return nf
        # compaction/rewrite under us, or depth budget reached
        _STORE_RETIRED.append(frame)
        _STORE_CACHE.pop(buckets_dir, None)
    # Explicit FILE paths, never the directory: a directory-based
    # plan re-lists on recompute and silently absorbs files appended
    # after the snapshot — double-counting rows whenever the cache
    # misses or an increment recomputes (caught by the round-13
    # lifecycle test). Pinned paths read exactly the snapshot.
    nf = spark.read.parquet(*files).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _STORE_CACHE[buckets_dir] = (nf, fileset, 0)
    return nf


def ingest_neardedup_batch(
    batch_df: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    toks_col: str = "toks",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.6,
) -> DataFrame:
    """Cross-batch MinHash near-dup retirement for an ingest pipeline
    (round 12, VERDICT r11 #7): the batch composition dedups exact +
    MinHash + ExactSubstr, but a crawl's NEAR-dups arrive across
    batches too — :func:`corpus_ingest_dedup`'s fingerprint state
    only catches token-set-identical re-emits. This is the
    ``foreachBatch`` stage that closes the gap, composing AFTER the
    exact stage (``batch_df`` must carry a materialized token array
    in ``toks_col`` — the tokenize-once contract).

    Per batch, with the hashed-shingle machinery (no n-gram string
    ever allocated, ``operators/dedup.shingle_hashes_from_tokens``):

    1. WITHIN-batch: LSH banded buckets over the batch, bucket
       self-join candidates, exact hashed-set Jaccard verify — a doc
       that verifies ≥ ``threshold`` against a lower-id batchmate is
       dropped (the batch library's min-id survivor rule; the policy
       is pairwise, same as the batch MinHash stage — no transitive
       closure).
    2. CROSS-batch: the batch's buckets probe the accumulated BUCKET
       STORE (``state_dir``/buckets: one (band, bucket, doc_id) row
       per admitted doc-band — compact, id-only); bucket hits fetch
       the rep's hashed-shingle SET from the SKETCH STORE
       (``state_dir``/sketches: (doc_id, hs)) and verify the same
       exact Jaccard. Any verified hit retires the arriving doc —
       first arrival wins, like the exact stage.
    3. Survivors' buckets + sketches APPEND to the two stores, and
       the admitted frame (original columns) is returned for the
       caller's downstream stages/sink.

    State shape at 100 TB: the bucket store is ``bands`` id rows per
    admitted doc; the sketch store one int64 array (~distinct
    shingles ≈ tokens) per doc — both append-only, the same
    grow-with-unique-corpus cost the fingerprint store already pays.
    The store is probed WITHOUT ever shuffling it (the batch's
    bucket rows broadcast into a map-side scan — the round-12 probe
    measured the shuffle-join spelling growing 21 → 81 s/batch over
    20 batches at 2M docs, and this spelling holding 25 → 33 s),
    and candidate sketches are fetched by a driver-collected id
    In-filter pushed into the parquet scan (append files are
    id-ranged, so file stats prune the read to the reps' files;
    past :data:`_ISIN_FETCH_MAX` candidates it falls back to a
    broadcast semi-join). The residual per-batch slope is the
    bucket store's columnar scan — linear in unique corpus but
    payload-free (24 B/row); on a fleet that scan distributes, and
    the index-free-parquet trade can be retired entirely with a
    bucketed-table layout on the bucket hash. The two appends + the
    caller's sink append are not one atomic commit — batch-id
    idempotence across restarts stays the checkpointed sink's job
    (STREAM_KILL_RECOVERY_PROBE covers the recovery contract).

    The hashed sets make Jaccard long-equality; two different
    n-grams colliding at ~2⁻⁶⁴ per pair can only inflate a
    candidate's Jaccard microscopically — the same declared
    semantics as the batch ``dedup_minhash`` path's hashed tier.
    Returns the admitted subset of ``batch_df`` (localCheckpointed:
    the plan feeds signatures, verification, and the caller's sink —
    the measured multi-consumer re-execution trap).
    """
    from pathlib import Path

    from database_join_spark.operators import dedup as D
    from database_join_spark.session import persist_mark, release_persisted

    # Frames above this mark are the batch's own (released at exit).
    pool_mark = persist_mark()
    spark = batch_df.sparkSession
    batch_df = batch_df.localCheckpoint(eager=True)
    hs_frame = batch_df.select(
        F.col(id_col),
        D.shingle_hashes_from_tokens(toks_col, shingle_n).alias("hs"),
    ).localCheckpoint(eager=True)

    # One signature pass for the whole stage: the bucket frame feeds
    # the within-batch pair expansion, the cross-batch store probe,
    # AND the survivors' store append — the 32-seed rehash is the
    # batch's CPU hot spot, so it runs once behind a checkpoint.
    bb = D.banded_buckets(
        hs_frame,
        id_col=id_col,
        shingle_col="hs",
        num_hashes=num_hashes,
        bands=bands,
        prehashed=True,
    ).localCheckpoint(eager=True)

    # ---- 1. within-batch near-dups (min-id survivor, pairwise)
    cand = D.lsh_pairs_from_buckets(bb, id_col=id_col)
    dropped_in_batch = (
        D.pair_payloads(hs_frame, cand, id_col=id_col, payload_col="hs")
        .filter(D.jaccard("hs_a", "hs_b") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    surv = batch_df.join(dropped_in_batch, id_col, "left_anti")
    surv_hs = hs_frame.join(dropped_in_batch, id_col, "left_anti")

    # ---- 2. cross-batch: probe the bucket store, verify vs sketches
    buckets_dir = f"{state_dir.rstrip('/')}/buckets"
    sketches_dir = f"{state_dir.rstrip('/')}/sketches"
    surv_buckets = bb.join(dropped_in_batch, id_col, "left_anti")
    # Both stores must exist to probe: sketches are appended FIRST
    # (below), so a crash between the two appends leaves an orphan
    # sketch row (unreachable, harmless) rather than a bucket row
    # whose sketch fetch would miss — and a first-batch crash can
    # never leave buckets without a sketches dir, which used to
    # hard-crash every subsequent batch on the sketches read
    # (ADVICE r12).
    store_b = None
    if Path(buckets_dir).exists() and Path(sketches_dir).exists():
        # The store is the BIG side and it grows every batch; the
        # batch is bounded. Broadcasting the batch's bucket rows
        # probes the store as a map-side scan — NO shuffle of the
        # store, ever (the first probe run's shuffle-join spelling
        # measured batch seconds growing 21 → 81 s over 20 batches
        # at 2M docs). Round 13: the scan reads the store through
        # the incremental decoded-frame cache, so per-batch parquet
        # IO is the last append only (see _STORE_CACHE — uniform
        # LSH buckets make file-range pruning impossible, caching
        # the decode is the reducible part).
        store_b = _bucket_store_frame(spark, buckets_dir)
    if store_b is not None:
        hit_pairs = (
            store_b.withColumnRenamed(id_col, "rep_id")
            .join(F.broadcast(surv_buckets), ["band", "bucket"])
            .select(id_col, "rep_id")
            .distinct()
            .localCheckpoint(eager=True)
        )
        # Sketch fetch: candidate rep ids are near-dup-mass bounded
        # (a crawl's per-batch duplicate rate), so collect them and
        # push an In-filter INTO the parquet scan — append files are
        # id-ranged (each batch appends a contiguous id run), so
        # file/row-group stats prune the store read to the few files
        # holding the reps instead of scanning every sketch ever
        # admitted. Past _ISIN_FETCH_MAX candidates the plan falls
        # back to the join spelling (a literal list that large stops
        # being a filter and starts being a table). The probe is
        # limit-bounded BEFORE any full collect — collecting all ids
        # first and only then comparing against the max would bound
        # the In-filter but not driver memory, so a hot bucket or
        # high-duplicate crawl could still OOM the driver (ADVICE
        # r12): at most _ISIN_FETCH_MAX+1 ids ever reach the driver.
        probe = (
            hit_pairs.select("rep_id")
            .distinct()
            .limit(_ISIN_FETCH_MAX + 1)
            .collect()
        )
        sketches = spark.read.parquet(sketches_dir)
        if len(probe) <= _ISIN_FETCH_MAX:
            rep_ids = [r["rep_id"] for r in probe]
            rep_rows = sketches.filter(
                F.col(id_col).isin(rep_ids)
                if rep_ids
                else F.lit(False)
            )
        else:
            rep_rows = sketches.join(
                F.broadcast(hit_pairs.select("rep_id").distinct()),
                sketches[id_col] == F.col("rep_id"),
                "left_semi",
            )
        rep_hs = rep_rows.select(
            F.col(id_col).alias("rep_id"), F.col("hs").alias("rep_hs")
        )
        dropped_cross = (
            hit_pairs.join(F.broadcast(rep_hs), "rep_id")
            .join(surv_hs, id_col)
            .filter(D.jaccard("hs", "rep_hs") >= threshold)
            .select(id_col)
            .distinct()
        )
        surv = surv.join(dropped_cross, id_col, "left_anti")
        surv_hs = surv_hs.join(dropped_cross, id_col, "left_anti")
        surv_buckets = surv_buckets.join(
            dropped_cross, id_col, "left_anti"
        )

    # ---- 3. admit: append survivors' state, return the frame
    surv = surv.localCheckpoint(eager=True)
    admitted_ids = surv.select(id_col)
    # Sketches append BEFORE buckets: a failure between the two
    # leaves an orphan sketch (no bucket row ever routes a probe to
    # it — unreachable, harmless), whereas the old bucket-first
    # order left bucket rows whose sketch fetch silently missed
    # (ADVICE r12). Idempotence across restarts remains the
    # checkpointed sink's job, as the docstring declares.
    # One file per append, rows sorted: sketches by id (keeps the
    # append id-ranged so the rep fetch's In-filter prunes files by
    # row-group stats), buckets by (band, bucket) (delta-encodes the
    # sorted int64 buckets — smaller store, cheaper cold rebuild).
    # The append mass is micro-batch-bounded (~batch_docs·bands
    # 24 B rows), so the single write task is not a bottleneck; a
    # larger trigger interval simply writes a larger single file.
    surv_hs.join(admitted_ids, id_col, "left_semi").coalesce(
        1
    ).sortWithinPartitions(id_col).write.mode("append").parquet(
        sketches_dir
    )
    surv_buckets.join(admitted_ids, id_col, "left_semi").coalesce(
        1
    ).sortWithinPartitions("band", "bucket").write.mode(
        "append"
    ).parquet(buckets_dir)
    # pair_payloads track_persist()s its candidate frame for the NEXT
    # QUERY's entry to drain — a foreachBatch loop has no next query,
    # so the pool would grow one cached frame per micro-batch. Release
    # only this batch's frames: draining the whole pool could
    # unpersist another in-flight query's frames on a shared session
    # before its results are collected (ADVICE r12).
    release_persisted(pool_mark)
    # store snapshots superseded by this batch's increment: the probe
    # consumed the union (eager hit_pairs checkpoint) and the appends
    # are done — the old frames have no readers left
    _release_retired_store_frames()
    return surv


def click_to_purchase_join(stream: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding 24 h.

    Both sides carry watermarks and the join condition bounds the
    event-time distance, so the state store can expire rows once the
    watermark passes the interval — the requirement that makes
    stream-stream joins tractable (unbounded state otherwise). The
    batch twin is the identical join on the static frame
    (tests/test_streaming.py proves equivalence).
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts > purchase_ts - INTERVAL 24 HOURS
            """
        ),
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "click_ts")


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-user running event count + value total across micro-batches.

    This is the arbitrary-state escape hatch (#33) — the semantics
    (monotone running totals per key) are NOT expressible as a
    windowed agg. State is one (count, sum) pair per user, updated
    per micro-batch; a production job would set a timeout to expire
    idle keys.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Session gap for stateful sessionization, µs — must equal the
#: batch twin's gap (queries/extras.py _SESSION_GAP_US);
#: tests/test_streaming.py asserts stream ≡ that batch query.
_SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize_stateful(
    stream: DataFrame, ttl_watermark: str | None = None
) -> DataFrame:
    """Streaming gap-sessionization via ``applyInPandasWithState`` —
    the stateful twin of the batch ``sessionize_events`` query
    (queries/extras.py): per user, events separated by >30 min of
    silence start a new session; each update emits SNAPSHOTS of the
    sessions the micro-batch touched.

    Why arbitrary state instead of ``F.session_window``: the builtin
    merges intervals but drops per-session SEQUENCE NUMBERS and
    member event ids. Here state is one open-session tuple per user
    (last event time, sequence counter, running stats); a batch's
    rows are walked in (ts, event_id) order, closing and emitting a
    session whenever the gap exceeds the threshold.

    Every emitted column is MONOTONE within a (user, session_seq)
    key (counts/max grow, min shrinks), so a replayed stream's final
    answer is ``min/max`` over the update-mode sink — that is what
    the batch-equivalence test aggregates.

    ``ttl_watermark`` is the 100 TB state-eviction knob (round 5):
    when set (e.g. ``"1 hour"``), the input is watermarked and the
    operator uses ``EventTimeTimeout`` — once the watermark passes an
    idle user's last event + session gap, the open session's FINAL
    snapshot is emitted and the state is REMOVED. Without it, state
    is O(1) per user but the user set itself grows unboundedly over
    a long-lived stream; with it, state size tracks the ACTIVE user
    set. Two documented trades come with the knob (ADVICE r05):

    * A user re-appearing after eviction starts at session_seq 1
      again — matching what any gap-bounded state store can promise.
    * Rows BEHIND the watermark are dropped before they reach the
      update function (standard Structured Streaming semantics for a
      watermarked stateful operator), so the no-TTL contract that a
      cross-batch late event folds into the open session
      (test_stateful_sessionize_late_event_does_not_regress_cursor)
      does NOT carry over: in TTL mode, lateness beyond the
      watermark delay loses the event entirely. Pick
      ``ttl_watermark`` at least as large as the worst replay lag
      the source can produce.

    The batch≡stream tests run without TTL so sequence numbers match
    the unbounded batch recursion; the eviction contract and the
    late-row drop each have their own replay test
    (test_sessionize_ttl_evicts_idle_user_state,
    test_sessionize_ttl_drops_rows_behind_watermark).
    """
    if ttl_watermark is not None:
        stream = stream.withWatermark("ts", ttl_watermark)

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # state: (last_e, seq, n, first_ev, last_ev, start_e)
        if ttl_watermark is not None and state.hasTimedOut:
            last_e, seq, n, first_ev, last_ev, start_e = state.get
            state.remove()
            yield pd.DataFrame(
                [(
                    int(key[0]), seq, n, first_ev, last_ev,
                    (last_e - start_e) // 1_000_000,
                )],
                columns=[
                    "user_id", "session_seq", "n_events",
                    "first_event", "last_event", "duration_sec",
                ],
            )
            return
        if state.exists:
            last_e, seq, n, first_ev, last_ev, start_e = state.get
        else:
            last_e = seq = n = first_ev = last_ev = start_e = -1
        out: list[tuple[int, int, int, int, int, int]] = []

        def snapshot() -> tuple[int, int, int, int, int, int]:
            return (
                int(key[0]),
                seq,
                n,
                first_ev,
                last_ev,
                (last_e - start_e) // 1_000_000,
            )

        pdf = pd.concat(list(pdfs), ignore_index=True)
        # datetime64[ns] → integer epoch-µs, matching the batch
        # query's unix_micros discipline (exact on µs fixtures)
        e_us = pdf["ts"].astype("int64") // 1_000
        order = sorted(zip(e_us, pdf["event_id"]))
        for e, ev in order:
            e, ev = int(e), int(ev)
            if last_e < 0 or e - last_e > _SESSION_GAP_US:
                if last_e >= 0:
                    out.append(snapshot())  # close previous session
                seq, n, first_ev, last_ev, start_e = seq + 1 if seq >= 0 else 1, 0, ev, ev, e
            n += 1
            first_ev = min(first_ev, ev)
            last_ev = max(last_ev, ev)
            # Never regress the gap cursor: a cross-batch late
            # arrival (e < last_e) is folded into the open session's
            # stats, but advancing time keeps measuring gaps from
            # the TRUE latest event — otherwise one late row could
            # trigger a spurious session split on the next in-gap
            # event and silently diverge from batch sessionize_events
            # (which sees a totally ordered replay). A late event
            # that belongs to an already-CLOSED session is
            # unrecoverable without unbounded state; it lands in the
            # open session — the documented contract, same trade
            # as watermark-expired rows in windowed aggs.
            last_e = max(last_e, e)
        out.append(snapshot())  # open session's current snapshot
        state.update((last_e, seq, n, first_ev, last_ev, start_e))
        if ttl_watermark is not None:
            # Expire once the watermark passes the open session's
            # gap horizon. Event-time timeouts must be set strictly
            # beyond the current watermark — a late batch whose rows
            # are already behind it would otherwise throw.
            state.setTimeoutTimestamp(
                max(
                    last_e // 1_000 + _SESSION_GAP_US // 1_000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_seq", "n_events",
                "first_event", "last_event", "duration_sec",
            ],
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id BIGINT, session_seq BIGINT, n_events BIGINT, "
            "first_event BIGINT, last_event BIGINT, duration_sec BIGINT"
        ),
        stateStructType=(
            "last_e BIGINT, seq BIGINT, n BIGINT, "
            "first_ev BIGINT, last_ev BIGINT, start_e BIGINT"
        ),
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_watermark is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


#: Pointer file naming the committed version inside an upsert target.
_LATEST = "_LATEST"


def _latest_version(target_dir: str) -> int | None:
    try:
        with open(os.path.join(target_dir, _LATEST)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def read_upsert_target(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """The committed state of an upsert target, or None before the
    first commit. Readers only ever see a fully-written version: the
    pointer is repointed after the parquet write completes."""
    version = _latest_version(target_dir)
    if version is None:
        return None
    return spark.read.parquet(os.path.join(target_dir, f"v={version}"))


def upsert_totals_foreach_batch(
    stream: DataFrame, target_dir: str, checkpoint_dir: str
) -> None:
    """``foreachBatch`` sink: maintain per-user running totals in a
    parquet target by merging each micro-batch (read-modify-write
    keyed upsert — the pattern behind every 'streaming MERGE INTO'
    when no transactional table format is present).

    Correct under foreachBatch's at-least-once contract (ADVICE r01):

    - **Idempotent replay.** The committed version number IS the batch
      id. A replayed batch (crash after commit, before the checkpoint
      recorded it) sees ``batch_id <= latest`` and skips — the
      standard idempotent-foreachBatch pattern.
    - **No destructive overwrite.** Each batch writes a NEW
      ``v=<batch_id>`` directory with a fully distributed write, then
      atomically repoints the ``_LATEST`` file (write-temp +
      ``os.replace``). A crash mid-write leaves the previous version
      committed and readable; the half-written directory is
      overwritten when the batch replays.
    - **No driver materialization.** The merge is executor-side
      parquet-to-parquet; the driver touches only the few-byte
      pointer. (Round 1 collected the whole merged state per batch —
      a driver OOM at scale.)

    On an object store the pointer spelling becomes a manifest/
    conditional-PUT (or a transactional table format); the layout and
    idempotence logic are unchanged. Old versions are pruned to the
    two most recent, so storage is bounded at ~2× state size.
    """
    spark = stream.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = _latest_version(target_dir)
        if latest is not None and batch_id <= latest:
            return  # replayed batch: already folded into the target
        batch_totals = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        current = read_upsert_target(spark, target_dir)
        if current is not None:
            merged = (
                current.unionByName(batch_totals)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_value").alias("total_value"),
                )
            )
        else:  # first batch: no target yet
            merged = batch_totals
        # distributed write to a fresh version dir (reads v=<latest>,
        # writes v=<batch_id> — never the directory being read)
        merged.write.mode("overwrite").parquet(
            os.path.join(target_dir, f"v={batch_id}")
        )
        # atomic commit: the version becomes visible all-or-nothing
        tmp = os.path.join(target_dir, f"{_LATEST}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(batch_id))
        os.replace(tmp, os.path.join(target_dir, _LATEST))
        # bounded storage: keep the committed + previous version only
        for entry in os.listdir(target_dir):
            if entry.startswith("v="):
                v = int(entry.split("=", 1)[1])
                if v < batch_id and (latest is None or v != latest):
                    shutil.rmtree(
                        os.path.join(target_dir, entry), ignore_errors=True
                    )

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()


def run_to_completion(
    sdf: DataFrame,
    table_name: str,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
) -> None:
    """Replay the whole (finite) stream with an availableNow trigger
    into an in-memory sink — the batch≡stream proof harness.

    Pass a persistent ``checkpoint_dir`` to carry state (watermarks,
    aggregation/session state, seen files) across calls — that is how
    the late-data tests advance the watermark between micro-batches
    deterministically.
    """

    def _run(ckpt: str) -> None:
        q = (
            sdf.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()

    if checkpoint_dir is not None:
        _run(checkpoint_dir)
    else:
        with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
            _run(ckpt)
