#!/usr/bin/env python
"""Streaming kill-recovery at volume (round 11, VERDICT r10 #8).

The RocksDB changelog-restore path is pytest-pinned at fixture scale
(tests/test_streaming.py restarts a STOPPED query), but nothing kills
a query MID-BATCH at volume and proves exactly-once output after
restart. This probe does, on the stateful-dedup pipeline
(`streaming.dedup_within_watermark`, RocksDB provider with the tuned
conf set):

1. Generate an event log with PLANTED cross-batch duplicates: day
   file d holds per_day new event_ids plus dup_frac·per_day re-emits
   of day d-1's ids (original timestamps +1 h — late-but-inside-the-
   watermark data), so the dedup answer depends on state that crosses
   the killed batch boundary.
2. ``control`` arm: a fresh subprocess replays the whole log
   (availableNow, maxFilesPerTrigger=1) into a parquet file sink,
   uninterrupted.
3. ``kill`` arm: an identical subprocess is SIGKILLed MID-BATCH —
   the parent polls the checkpoint and fires when ``offsets/`` is one
   ahead of ``commits/`` (batch started, not committed), past a
   minimum batch count. A second subprocess restarts from the same
   checkpoint + sink and drains to completion.
4. Exactly-once assert: both sinks (read through Spark, which honors
   the file sink's ``_spark_metadata`` transaction log) must hold
   EXACTLY the planted unique id set — same count, same distinct
   count, zero ids in either direction of an anti-join, no dupes, no
   loss. Orphan data files on disk that the metadata log excludes are
   counted and reported (their presence is EVIDENCE the kill
   interrupted a write; their exclusion is the exactly-once
   mechanism).

Usage: python scripts/stream_kill_recovery_probe.py [--events 50000000]
       [--days 20] [--quick]
Writes STREAM_KILL_RECOVERY_PROBE.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

BASE_EPOCH = 1_704_067_200  # 2024-01-01, off the epoch-0 boundary
SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT"
DUP_FRAC = 0.1


def gen_event_log(spark, n: int, days: int, out_dir: str) -> int:
    """Day files with planted cross-file duplicates; returns the
    expected unique-id count. File d: per_day fresh ids with day-d
    timestamps + per_day·DUP_FRAC duplicates of day d-1's ids
    carrying their ORIGINAL timestamps +1 h (late data, still past
    the 1-day watermark when file d is the current batch — the
    restart must restore day d-1's dedup state to drop them)."""
    from pyspark.sql import functions as F

    per_day = n // days
    n_dup = int(per_day * DUP_FRAC)

    def day_ts(ids, d):
        return F.timestamp_seconds(
            F.lit(BASE_EPOCH + d * 86400)
            + (ids % per_day) * 86400 / per_day
        )

    for d in range(days):
        fresh = spark.range(d * per_day, (d + 1) * per_day).select(
            F.col("id").alias("event_id"),
            day_ts(F.col("id"), d).alias("ts"),
            (F.col("id") % 1_000_000).alias("user_id"),
        )
        if d > 0 and n_dup:
            dups = spark.range(
                (d - 1) * per_day, (d - 1) * per_day + n_dup
            ).select(
                F.col("id").alias("event_id"),
                (day_ts(F.col("id"), d - 1) + F.expr(
                    "INTERVAL 1 HOUR"
                )).alias("ts"),
                (F.col("id") % 1_000_000).alias("user_id"),
            )
            fresh = fresh.unionAll(dups)
        fresh.coalesce(1).write.mode(
            "append" if d else "overwrite"
        ).parquet(out_dir)
    return per_day * days


def child_main(src: str, ckpt: str, sink: str) -> None:
    """Run the dedup stream to backlog completion — the process the
    parent kills (first launch) or restarts (second launch)."""
    from database_join_spark import streaming as ST
    from database_join_spark.session import get_spark

    spark = get_spark(app_name="kill-recovery-child")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in ST.rocksdb_state_store_confs().items():
        spark.conf.set(k, v)
    stream = ST.dedup_within_watermark(
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    spark.stop()


def _counts(ckpt: str) -> tuple[int, int]:
    def n(sub):
        p = Path(ckpt, sub)
        return (
            len([f for f in p.iterdir() if not f.name.startswith(".")])
            if p.is_dir()
            else 0
        )

    return n("offsets"), n("commits")


def launch(src, ckpt, sink):
    return subprocess.Popen(
        [sys.executable, __file__, "--child", src, ckpt, sink],
        start_new_session=True,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=50_000_000)
    ap.add_argument("--days", type=int, default=20)
    ap.add_argument("--min-batches", type=int, default=5)
    ap.add_argument(
        "--quick", action="store_true",
        help="1e6-event smoke of the full harness",
    )
    ap.add_argument("--child", nargs=3, metavar=("SRC", "CKPT", "SINK"))
    args = ap.parse_args()
    if args.child:
        child_main(*args.child)
        return

    n = 1_000_000 if args.quick else args.events
    from pyspark.sql import functions as F

    from database_join_spark.hostinfo import host_snapshot
    from database_join_spark.session import get_spark

    spark = get_spark(app_name="kill-recovery-parent")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix=f"kill_recovery_u{os.getuid()}_")
    src = os.path.join(work, "src")
    out: dict = {
        "events": n,
        "days": args.days,
        "dup_frac": DUP_FRAC,
        "host_start": host_snapshot(),
    }
    t0 = time.perf_counter()
    expected_unique = gen_event_log(spark, n, args.days, src)
    out["gen_sec"] = round(time.perf_counter() - t0, 1)
    out["expected_unique"] = expected_unique

    # ---- control: uninterrupted replay in a fresh subprocess
    ctrl_ckpt, ctrl_sink = (
        os.path.join(work, "ctrl_ckpt"),
        os.path.join(work, "ctrl_sink"),
    )
    t0 = time.perf_counter()
    rc = launch(src, ctrl_ckpt, ctrl_sink).wait()
    out["control"] = {
        "wall_sec": round(time.perf_counter() - t0, 1),
        "exit": rc,
        "batches": _counts(ctrl_ckpt)[1],
    }
    assert rc == 0, f"control child exited {rc}"
    print(f"# control: {out['control']}", file=sys.stderr)

    # ---- kill arm: SIGKILL mid-batch, then restart from checkpoint
    kill_ckpt, kill_sink = (
        os.path.join(work, "kill_ckpt"),
        os.path.join(work, "kill_sink"),
    )
    t0 = time.perf_counter()
    child = launch(src, kill_ckpt, kill_sink)
    killed_at = None
    while child.poll() is None:
        offs, comms = _counts(kill_ckpt)
        # mid-batch: the offsets file for batch N exists (batch
        # started) but its commit doesn't (batch not finished)
        if comms >= args.min_batches and offs > comms:
            os.killpg(os.getpgid(child.pid), signal.SIGKILL)
            killed_at = {"offsets": offs, "commits": comms}
            break
        time.sleep(0.02)
    child.wait()
    assert killed_at is not None, (
        "stream drained before the kill window — raise --days or "
        "lower --min-batches"
    )
    out["killed_mid_batch"] = killed_at
    print(f"# killed mid-batch: {killed_at}", file=sys.stderr)
    rc = launch(src, kill_ckpt, kill_sink).wait()
    out["kill_arm"] = {
        "wall_sec_total": round(time.perf_counter() - t0, 1),
        "restart_exit": rc,
        "batches_final": _counts(kill_ckpt)[1],
    }
    assert rc == 0, f"restarted child exited {rc}"
    print(f"# kill arm: {out['kill_arm']}", file=sys.stderr)

    # ---- exactly-once verdict (parquet reads honor _spark_metadata)
    ctrl = spark.read.parquet(ctrl_sink)
    kill = spark.read.parquet(kill_sink)

    def profile(df):
        r = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("event_id").alias("uniq"),
        ).collect()[0]
        return {"rows": r["rows"], "unique_ids": r["uniq"]}

    out["control_sink"] = profile(ctrl)
    out["kill_sink"] = profile(kill)
    missing = ctrl.select("event_id").exceptAll(
        kill.select("event_id")
    ).count()
    extra = kill.select("event_id").exceptAll(
        ctrl.select("event_id")
    ).count()
    out["ids_missing_after_recovery"] = missing
    out["ids_extra_after_recovery"] = extra
    # orphan files: on disk but excluded by the sink's metadata log —
    # their presence shows the kill really interrupted uncommitted
    # work; their exclusion is the exactly-once mechanism. The
    # metadata log lists committed files as JSON lines with a "path".
    def committed_files(sink):
        names = set()
        for f in Path(sink, "_spark_metadata").iterdir():
            if f.name.startswith(".") or f.name.endswith(".crc"):
                continue
            for line in f.read_text().splitlines():
                if '"path"' in line:
                    names.add(
                        json.loads(line)["path"].rsplit("/", 1)[-1]
                    )
        return names

    on_disk = {p.name for p in Path(kill_sink).glob("*.parquet")}
    listed = committed_files(kill_sink)
    out["kill_sink_files_on_disk"] = len(on_disk)
    out["kill_sink_files_committed"] = len(on_disk & listed)
    out["kill_sink_orphan_files"] = len(on_disk - listed)
    assert out["control_sink"] == {
        "rows": expected_unique, "unique_ids": expected_unique,
    }, out["control_sink"]
    assert out["kill_sink"] == out["control_sink"], (
        out["kill_sink"], out["control_sink"],
    )
    assert missing == 0 and extra == 0, (missing, extra)
    out["exactly_once"] = True
    print(
        f"# exactly-once: control == kill == {expected_unique} "
        f"unique ids; {out['kill_sink_orphan_files']} orphan data "
        f"files on disk excluded by _spark_metadata "
        f"({out['kill_sink_files_committed']} committed)",
        file=sys.stderr,
    )

    out["host_end"] = host_snapshot()
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    Path(_REPO, "STREAM_KILL_RECOVERY_PROBE.json").write_text(
        json.dumps(out, indent=1) + "\n"
    )
    print(json.dumps({k: v for k, v in out.items()
                      if k not in ("host_start", "host_end")}))
    spark.stop()


if __name__ == "__main__":
    main()
