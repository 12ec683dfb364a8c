#!/usr/bin/env python
"""Driver-side cost curve of the SemDeDup coarse router (round 13).

VERDICT r12's remaining SemDeDup cost structure names the router —
exact int64 Lloyd's over the k fine centroids themselves,
``operators/similarity.centroid_router`` — as the k^1.5 DRIVER-side
term (k·√k·dim work per iteration, 8+1 passes). It runs once per
assign and once per fit, on one core, so it is invisible at the
measured 1M–8M corpus scale (k ≤ 8080 → sub-second) but grows
k^1.5 while every distributed term grows k or √k per row: at some k
the single-core router outweighs the whole distributed fit.

This probe measures the curve on THIS box (synthetic uniform int64
centroids, the same dtype/geometry the quantizer produces), fits
the per-op constant, and extrapolates to the k where the router
wall would cross the measured two-level fit wall — the number
``plans/sizing.py`` encodes as the router's named ceiling. The
at-scale spelling past that point is the same trick one level up:
fit the coarse centers on a SAMPLE of the fine centroids (the
fit_sample_mod_for rule applied to the router's own input) and/or
distribute the one-pass final assignment of fine centroids to
cells (a k-row Arrow assign against the kc coarse centers — the
machinery of kmeans_assign, reused verbatim).

Usage: python scripts/router_wall_probe.py [--ks 10000,30000,100000,300000]
Writes ROUTER_WALL_PROBE.json.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

import numpy as np

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from database_join_spark.hostinfo import host_snapshot  # noqa: E402
from database_join_spark.operators.similarity import (  # noqa: E402
    centroid_router,
)
from database_join_spark.plans.sizing import coarse_k_for  # noqa: E402

DIM = 64
#: The quantizer's fixed-point range (same magnitude the corpus
#: quantization produces; the router's int64 einsum cost does not
#: depend on the values, but keeping the geometry honest costs
#: nothing).
SCALE = 1 << 20


def one_rung(k: int, rng: np.random.Generator) -> dict:
    cents = rng.integers(-SCALE, SCALE, size=(k, DIM), dtype=np.int64)
    kc = coarse_k_for(k)
    t0 = time.monotonic()
    coarse, cell_of = centroid_router(cents.tolist(), kc)
    wall = round(time.monotonic() - t0, 3)
    return {
        "k": k,
        "kc": kc,
        "router_wall_sec": wall,
        "live_cells": int(len(coarse)),
        "ops_per_iter": k * kc * DIM,
        "host": host_snapshot(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ks", default="10000,30000,100000,300000")
    args = ap.parse_args()
    ks = [int(s) for s in args.ks.split(",")]
    rng = np.random.default_rng(13)

    rungs = []
    for k in ks:
        rung = one_rung(k, rng)
        rungs.append(rung)
        print(json.dumps({x: rung[x] for x in rung if x != "host"}))

    # per-op constant from the largest rung (9 assignment passes =
    # 8 Lloyd iterations + the final one; the update loop is
    # kc-bounded and second-order)
    top = rungs[-1]
    sec_per_op = top["router_wall_sec"] / (9 * top["ops_per_iter"])
    # Crossing point vs the measured two-level fit: fit wall at
    # k_for-scale is ~11.3 s at k=4040 growing ~k^1.5 (100·k^1.5
    # distributed over 32 cores); router is k^1.5 on ONE core with
    # constant sec_per_op·9·dim... both k^1.5 — the RATIO is the
    # story: router/fit ≈ (sec_per_op·9·k·√k·64) / (fit_sec(k)).
    fit_ref_k, fit_ref_sec = 4040, 11.31  # SEMDEDUP_FIT2L_PROBE 4M
    ratio_at = {}
    for k in (10_000, 100_000, 1_000_000, 10_000_000):
        router = sec_per_op * 9 * k * coarse_k_for(k) * DIM
        fit = fit_ref_sec * (k / fit_ref_k) ** 1.5
        # the fit reference is a 32-core local wall; a 1000-executor
        # fleet cuts the DISTRIBUTED term ~31x while the single-core
        # router wall is unchanged — the share that motivates the
        # named at-scale spelling
        fit_fleet = fit / 31.0
        ratio_at[str(k)] = {
            "router_sec_est": round(router, 1),
            "twolevel_fit_sec_est": round(fit, 1),
            "router_share": round(router / (router + fit), 3),
            "router_share_1000exec": round(
                router / (router + fit_fleet), 3
            ),
        }
    out = {
        "dim": DIM,
        "rungs": rungs,
        "sec_per_int64_op": sec_per_op,
        "extrapolation": ratio_at,
        "read": (
            "router and distributed fit both grow k^1.5, so the "
            "driver-side router stays a FIXED SHARE of the fit wall "
            "— the share measured/extrapolated here. It becomes the "
            "dominant term only if the fit's 32-way parallelism "
            "rises (a real cluster: 1000 executors make the fit "
            "~30x faster while the router stays single-core) — the "
            "named at-scale spelling is to sample the router's own "
            "fit input (fit_sample_mod_for applied at the router "
            "level) and distribute the final k-row cell assignment "
            "through kmeans_assign against the kc coarse centers."
        ),
    }
    Path(_REPO, "ROUTER_WALL_PROBE.json").write_text(
        json.dumps(out, indent=1) + "\n"
    )
    print("wrote ROUTER_WALL_PROBE.json")


if __name__ == "__main__":
    main()
