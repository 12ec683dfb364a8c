#!/usr/bin/env python
"""Streaming corpus-ingest composition probe (round 11).

PIPELINE_E2E_PROBE pins the BATCH composition of the corpus pipeline;
this probe pins its INCREMENTAL-ARRIVAL twin: documents land in day
files, and each day flows through quality gate → cross-batch exact
dedup (`streaming.corpus_ingest_dedup`: dropDuplicates on the content
fingerprint, RocksDB state = the fingerprint store) → n-gram
decontamination against a static benchmark set → an append sink, one
micro-batch per day (`maxFilesPerTrigger=1`, availableNow catch-up).

Planted classes per day (doc_id % 50, per-day counts EXACT):

- class 2 — 10-word docs              → quality gate (never reach state)
- class 3 — same-day copy of id-3     → within-BATCH dedup
- class 4 — verbatim re-emit of the previous day's same-slot doc
            (day 0: unique)           → cross-BATCH dedup (the state)
- class 7 — carries a benchmark 5-gram → decontam drops AFTER dedup
            admitted it (state row exists, sink row doesn't)

so the sink must hold exactly
``days·per_day − days·cls(short) − days·cls(same-day) −
(days−1)·cls(cross-day) − days·cls(leak)`` docs, and the final state
store exactly ``sink + days·cls`` fingerprints (the admitted-then-
decontaminated leak docs). Beyond the arithmetic, the probe replays
the whole log as a BATCH query (gate → distinct fp → minus leaky fps)
and asserts the sink's fingerprint SET equals it in both directions —
arrival-order ties (which of a same-day pair survives) change doc_ids
but never fingerprints, which is why the parity key is fp.

Decontamination rides in ``foreachBatch`` (stream-static shape: the
batch side explodes 5-gram shingles and inner-joins the broadcast
benchmark set; flagged docs anti-join out) — the stateless stages of
an ingest pipeline belong per-batch, the stateful fingerprint store
in the streaming graph. The run is single and uninterrupted
(exactly-once under kill is STREAM_KILL_RECOVERY_PROBE's job).

Usage: python scripts/stream_ingest_probe.py [--per-day 100000]
       [--days 20] [--quick]
Writes STREAM_INGEST_PROBE.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

VOCAB = 50_000
WORDS = 100
LEAK_AT, LEAK_LEN = 20, 5
SCHEMA = "doc_id BIGINT, day INT, text STRING"


def synth_day(spark, day: int, per_day: int):
    """One day of documents; global doc_id = day·per_day + slot keeps
    every class's word stream disjoint across days except the planted
    re-emits."""
    from pyspark.sql import functions as F

    base = (
        # same-day dup: copy id-3's (background) stream
        "CASE WHEN id % 50 = 3 THEN id - 3 "
        # cross-day dup: previous day's same-slot background doc
        f"WHEN id % 50 = 4 AND id >= {per_day} THEN id - 4 - {per_day} "
        "ELSE id END"
    )
    word = (
        f"CASE WHEN id % 50 = 7 AND i BETWEEN {LEAK_AT} "
        f"AND {LEAK_AT + LEAK_LEN - 1} "
        f"THEN concat('b', CAST(id AS STRING), 'x', "
        f"CAST(i - {LEAK_AT} AS STRING)) "
        f"ELSE concat('w', pmod(xxhash64({base}, i), {VOCAB})) END"
    )
    nw = f"IF(id % 50 = 2, 10, {WORDS})"
    return (
        spark.range(day * per_day, (day + 1) * per_day)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(day).alias("day"),
            F.expr(
                f"array_join(transform(sequence(0, {nw} - 1), "
                f"i -> {word}), ' ')"
            ).alias("text"),
        )
    )


def synth_benchmark(spark, n_total: int):
    """Held-out benchmark docs holding every class-7 leak 5-gram."""
    from pyspark.sql import functions as F

    return (
        spark.range(n_total)
        .filter(F.col("id") % 50 == 7)
        .select(
            F.expr(
                f"array_join(concat("
                f"transform(sequence(0, {LEAK_LEN - 1}), "
                f"  i -> concat('b', CAST(id AS STRING), 'x', "
                f"       CAST(i AS STRING))), "
                f"transform(sequence(0, 9), "
                f"  i -> concat('v', pmod(xxhash64(id, i + 9000), "
                f"       {VOCAB})))), ' ')"
            ).alias("text"),
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--per-day", type=int, default=100_000)
    ap.add_argument("--days", type=int, default=20)
    ap.add_argument(
        "--quick", action="store_true",
        help="5k docs × 4 days smoke of the full harness",
    )
    args = ap.parse_args()
    per_day = 5_000 if args.quick else args.per_day
    days = 4 if args.quick else args.days
    assert per_day % 50 == 0, "per-day count must be a multiple of 50"
    cls = per_day // 50
    n_total = per_day * days

    from pyspark.sql import functions as F

    from database_join_spark.hostinfo import host_snapshot
    from database_join_spark.operators import dedup as D
    from database_join_spark.operators import text as T
    from database_join_spark.queries.pipeline import _DECON_N
    from database_join_spark.session import get_spark
    from database_join_spark.streaming import (
        corpus_ingest_dedup,
        rocksdb_state_store_confs,
    )

    spark = get_spark(app_name="stream-ingest-probe")
    for key, value in rocksdb_state_store_confs().items():
        spark.conf.set(key, value)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {
        "per_day": per_day,
        "days": days,
        "docs_total": n_total,
        "host_start": host_snapshot(),
    }

    tmp = tempfile.mkdtemp(prefix="stream_ingest_")
    src = str(Path(tmp, "src"))
    sink = str(Path(tmp, "sink"))
    ckpt = str(Path(tmp, "ckpt"))

    t0 = time.perf_counter()
    for day in range(days):
        # repartition(1), not coalesce(1): coalesce narrows the WHOLE
        # plan to one task, single-threading the generation itself;
        # repartition keeps generation parallel and only the write
        # lands in one file (one file per day = one micro-batch per
        # day under maxFilesPerTrigger=1)
        synth_day(spark, day, per_day).repartition(1).write.parquet(
            str(Path(src, f"d{day:03d}"))
        )
    out["gen_sec"] = round(time.perf_counter() - t0, 2)

    bench_sh = (
        synth_benchmark(spark, n_total)
        .select(T.tokens("text").alias("toks"))
        .select(
            F.explode(D.shingles_from_tokens("toks", _DECON_N)).alias(
                "shingle"
            )
        )
        .distinct()
        .persist()
    )
    out["bench_shingles"] = bench_sh.count()

    def decontam_and_append(batch_df, batch_id: int) -> None:
        # the batch frame feeds TWO consumers (flag derivation + the
        # anti-join), and each re-plan re-executes the upstream
        # stateful dedupe within the same trigger — observed as
        # exactly-doubled numRowsTotal/numRowsUpdated (the answer
        # stays right — re-putting the same keys is idempotent within
        # a batch — but the state-store work is real and the metrics
        # lie). persist()+count() only shields the DIRECT scan: the
        # derived flag plan still missed the cache and re-ran the
        # dedupe. localCheckpoint truncates the lineage at the batch
        # boundary, so the stateful operator runs exactly once per
        # trigger no matter how many consumers follow.
        batch_df = batch_df.localCheckpoint(eager=True)
        toks = batch_df.select(
            "doc_id", "day", "fp",
            T.tokens("text").alias("toks"),
        )
        flagged = (
            toks.select(
                "doc_id",
                F.explode(
                    D.shingles_from_tokens("toks", _DECON_N)
                ).alias("shingle"),
            )
            .join(F.broadcast(bench_sh), "shingle")
            .select("doc_id")
            .distinct()
        )
        (
            batch_df.join(flagged, "doc_id", "left_anti")
            .select("doc_id", "day", "fp", "n_tokens")
            .write.mode("append")
            .parquet(sink)
        )

    # ---- the composed ingest run: one micro-batch per day file set
    t0 = time.perf_counter()
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        corpus_ingest_dedup(stream)
        .writeStream.foreachBatch(decontam_and_append)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    wall = round(time.perf_counter() - t0, 2)

    batch_secs = [
        p["durationMs"]["triggerExecution"] / 1e3
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    state_rows = max(
        (s["numRowsTotal"]
         for p in progress for s in p.get("stateOperators", [])),
        default=None,
    )
    out["ingest"] = {
        "wall_sec": wall,
        "docs_per_sec": round(n_total / wall),
        "n_batches": len(batch_secs),
        "batch_sec": {
            "min": round(min(batch_secs), 2),
            "p50": round(sorted(batch_secs)[len(batch_secs) // 2], 2),
            "max": round(max(batch_secs), 2),
        },
        "state_rows_final": state_rows,
    }
    print(f"# ingest: {out['ingest']}", file=sys.stderr)

    # ---- exact planted arithmetic
    admitted = spark.read.parquet(sink).persist()
    got = admitted.count()
    expected_sink = (
        n_total            # arrivals
        - days * cls       # class 2: short
        - days * cls       # class 3: same-day copies
        - (days - 1) * cls  # class 4: cross-day re-emits (day 0 unique)
        - days * cls       # class 7: decontaminated after admission
    )
    expected_state = expected_sink + days * cls  # leak fps ARE in state
    assert got == expected_sink, (got, expected_sink)
    assert state_rows == expected_state, (state_rows, expected_state)
    out["sink_rows"] = got
    out["expected_sink_rows"] = expected_sink
    out["expected_state_rows"] = expected_state
    out["exact_match"] = True

    # ---- batch-replay parity on the fingerprint SET: gate → distinct
    # fp → minus leaky fps, computed as one batch query over the log.
    # Tokenize into a COLUMN once (size(toks) ≡ token_count, the same
    # gate corpus_ingest_dedup applies); the raw-text shingles()
    # convenience form would re-run the tokenizer per shingle
    # position — the library's documented trap, and at 2M docs ×
    # ~96 shingles × 5 positions it turns this check into the
    # longest phase of the probe
    gated = (
        spark.read.parquet(src + "/*")
        .select(
            "doc_id",
            T.tokens("text").alias("toks"),
            T.fingerprint("text").alias("fp"),
        )
        .filter(F.size("toks") >= 20)
        .persist()
    )
    leaky = (
        gated.select(
            "fp",
            F.explode(D.shingles_from_tokens("toks", _DECON_N)).alias(
                "shingle"
            ),
        )
        .join(F.broadcast(bench_sh), "shingle")
        .select("fp")
        .distinct()
    )
    # persist: both anti-join counts consume this frame, and its
    # lineage holds the full-corpus shingle explode — unpersisted it
    # would re-run per count
    expected_fps = gated.select("fp").distinct().join(
        leaky, "fp", "left_anti"
    ).persist()
    missing = expected_fps.join(admitted, "fp", "left_anti").count()
    extra = admitted.select("fp").distinct().join(
        expected_fps, "fp", "left_anti"
    ).count()
    assert missing == 0 and extra == 0, (missing, extra)
    out["batch_replay_fp_parity"] = {"missing": missing, "extra": extra}
    expected_fps.unpersist()
    out["host_end"] = host_snapshot()

    Path(_REPO, "STREAM_INGEST_PROBE.json").write_text(
        json.dumps(out, indent=1) + "\n"
    )
    print(json.dumps({k: v for k, v in out.items()
                      if k not in ("host_start", "host_end")}))
    import shutil

    admitted.unpersist()
    gated.unpersist()
    bench_sh.unpersist()
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
