#!/usr/bin/env python
"""SemDeDup k-ladder: measure the recall/wall frontier in k, then
encode the winner as ``plans.sizing.k_for`` (round 12, VERDICT r11
#1 — the one remaining 100×-scale killer).

SEMDEDUP_STAGEWALL_PROBE (r11) decomposed the shipped recipe's wall:
the within-block pair sweep is 78% of it, and pair work scales
Σ|block|² ≈ (expansion·n)²/k. The r11 default k = n/10k holds MEAN
block size frozen at ~15k rows (~1.5× expansion under the ratio-
capped probing), so the quadratic term grows linearly with n
FOREVER — at 100× scale the sweep dominates everything. The
recall-preserving fix is k ∝ n (bounded mean block rows — the
SemDeDup paper's own 110k-clusters-for-LAION recipe); this probe
measures the ladder so the constant is chosen from data:

per rung k ∈ {n/10k, 316, 1000, 3162, 10000}:
  * end-to-end wall of the SHIPPED operator
    (``semdedup_pairs(fit_sample_mod=10, ratio=1.5, m=4)``) — the
    exact code the registry's ``dedup_semantic`` runs, so what's
    measured is what ships;
  * recall vs the planted twin ground truth (the frontier's y-axis
    — if recall bends with finer clustering the ladder must show
    it, not assume it);
  * attribution (NOT in the wall): sampled-fit seconds (the
    k-linear cost that eventually pays back the sweep's savings),
    block rows, Σ|block|²/2 candidate pairs, mean/p99 block size.

Every rung runs the one assign kernel behind
:func:`kmeans_assign_topm` (``similarity._assign_rows``): one cell of
all k centroids below ``plans.sizing.TWOLEVEL_ASSIGN_MIN_K``, the √k
router index from there on.

Usage: python scripts/semdedup_kladder_probe.py [--n 1000000]
       [--quick] [--ks 100,316,1000,3162]
Writes SEMDEDUP_KLADDER_PROBE.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from database_join_spark.operators import similarity as S  # noqa: E402
from database_join_spark.plans.sizing import TWOLEVEL_ASSIGN_MIN_K  # noqa: E402
from database_join_spark.session import get_spark  # noqa: E402
from scripts.semdedup_probe import (  # noqa: E402
    DUP_EVERY,
    ITERS,
    THRESHOLD,
    synth_corpus,
)

M, RATIO, FIT_MOD = 4, 1.5, 10


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--quick", action="store_true", help="50k smoke")
    ap.add_argument("--ks", type=str, default=None)
    args = ap.parse_args()
    n = 50_000 if args.quick else args.n
    if args.ks:
        ks = [int(s) for s in args.ks.split(",")]
    else:
        ks = sorted({max(10, n // 10_000), 316, 1000, 3162, 10_000})
        if args.quick:
            ks = [10, 100, 316]

    from database_join_spark.hostinfo import host_snapshot

    spark = get_spark(app_name="semdedup-kladder")
    spark.sparkContext.setLogLevel("ERROR")

    truth = {(b, n + b // DUP_EVERY) for b in range(0, n, DUP_EVERY)}
    n_twins = len(truth)
    emb = synth_corpus(spark, n).persist()
    n_total = emb.count()

    out: dict = {
        "n_base": n,
        "n_total": n_total,
        "m": M,
        "ratio": RATIO,
        "fit_sample_mod": FIT_MOD,
        "iterations": ITERS,
        "threshold": THRESHOLD,
        "planted_pairs": n_twins,
        "host_start": host_snapshot(),
        "rungs": [],
    }

    for k in ks:
        # --- the shipped operator, end to end (the wall) ---
        t0 = time.monotonic()
        got = {
            (r["id_a"], r["id_b"])
            for r in S.semdedup_pairs(
                emb,
                k=k,
                iterations=ITERS,
                m=M,
                threshold=THRESHOLD,
                ratio=RATIO,
                fit_sample_mod=FIT_MOD,
            ).collect()
        }
        wall = round(time.monotonic() - t0, 2)
        recall = round(len(got & truth) / n_twins, 4)

        # --- attribution (separate pass, NOT in the wall) ---
        fit_in = emb.filter(
            F.pmod(F.xxhash64("vec_id"), F.lit(FIT_MOD)) == 0
        )
        t1 = time.monotonic()
        _a, cents, _h = S.kmeans_fit(fit_in, k=k, iterations=ITERS)
        fit_sec = round(time.monotonic() - t1, 2)
        base = emb.select(
            F.col("vec_id").alias("id"),
            F.expr(S._quant("embedding")).alias("qv"),
        )
        stats = (
            S.kmeans_assign_topm(base, cents, m=M, ratio=RATIO)
            .groupBy("block")
            .count()
            .agg(
                F.sum("count").alias("rows"),
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias(
                    "pairs"
                ),
                F.mean("count").alias("mean_s"),
                F.expr("percentile(count, 0.99)").alias("p99_s"),
                F.max("count").alias("max_s"),
            )
            .collect()[0]
        )
        rung = {
            "k": k,
            # the assign kernel's only selection: its index shape
            "assign_impl": (
                "np2l" if k >= TWOLEVEL_ASSIGN_MIN_K else "np"
            ),
            "wall_sec": wall,
            "recall_vs_planted": recall,
            "emitted_pairs": len(got),
            "fit_sec_attribution": fit_sec,
            "block_rows": int(stats["rows"]),
            "expansion": round(stats["rows"] / n_total, 3),
            "candidate_pairs": int(stats["pairs"]),
            "mean_block_rows": round(stats["mean_s"], 1),
            "p99_block_rows": int(stats["p99_s"]),
            "max_block_rows": int(stats["max_s"]),
            "host": host_snapshot(),
        }
        out["rungs"].append(rung)
        print(json.dumps(rung))

    emb.unpersist()
    out["host_end"] = host_snapshot()
    # merge-on-write: a later invocation at the same geometry
    # replaces only its own k rungs (e.g. the round-12 quiet-box
    # re-run of the k_for winner), keeping the rest of the ladder
    artifact = Path(_REPO, "SEMDEDUP_KLADDER_PROBE.json")
    if artifact.exists():
        prior = json.loads(artifact.read_text())
        same_geom = all(
            prior.get(k) == out[k]
            for k in ("n_base", "m", "ratio", "fit_sample_mod",
                      "iterations", "threshold")
        )
        if same_geom:
            new_ks = {r["k"] for r in out["rungs"]}
            out["rungs"] = sorted(
                [r for r in prior["rungs"] if r["k"] not in new_ks]
                + out["rungs"],
                key=lambda r: r["k"],
            )
    artifact.write_text(json.dumps(out, indent=1) + "\n")
    print("wrote SEMDEDUP_KLADDER_PROBE.json")


if __name__ == "__main__":
    main()
