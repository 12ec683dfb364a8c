#!/usr/bin/env python
"""SemDeDup stage-wall breakdown (round 11).

SEMDEDUP_COARSE_PROBE settled that the int8/SGEMM scorer is only a
1.11× end-to-end lever at 1M/k=100 — i.e. after the round-10
blocking fixes the wall is NOT GEMM anymore, contradicting the
"~95% scorer" reading the sampled-fit probe took from r09-shaped
walls. This probe decomposes the shipped recipe
(``semdedup_pairs(fit_sample_mod=10, ratio=1.5)``) into its real
phases with persist barriers, so next round's lever is named from
measurement, not inference:

- ``fit``     — sampled k-means fit (kmeans_fit)
- ``assign``  — multi-probe blocking over the full corpus
                (kmeans_assign_topm; includes the quantize pass)
- ``expand``  — chunk-pair expansion (the skew-parallelism shuffle
                that replicates oversized blocks' rows; carries the
                512-byte quantized vector per row — the suspected
                mass)
- ``score``   — the Arrow/applyInPandas within-block pair sweep
- ``dedupe``  — threshold + cross-block distinct

The phase frames are the operator's own internals (imported, not
re-spelled) materialized behind persists; the probe asserts the
final pair count equals the planted mass so the decomposition can't
drift from the shipped answer. Persist barriers change scheduling
(each phase runs alone), so phase walls are attribution, the
uncached e2e number stays SEMDEDUP_COARSE_PROBE's.

Usage: python scripts/semdedup_stagewall_probe.py [--n 500000]
       [--quick]
Writes SEMDEDUP_STAGEWALL_PROBE.json at the repo root. Run with
SPARK_GRAFT_DRIVER_MEM=24g (the barriers cache the 512 B/row
quantized-vector frames the lazy plan never holds at once).
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
from database_join_spark.session import get_spark  # noqa: E402
from scripts.semdedup_probe import (  # noqa: E402
    DUP_EVERY,
    THRESHOLD,
    synth_corpus,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=500_000)
    ap.add_argument("--k", type=int, default=None,
                    help="centroids (default n/10k, the probe scaling)")
    ap.add_argument("--quick", action="store_true",
                    help="50k-vector smoke")
    args = ap.parse_args()
    n = 50_000 if args.quick else args.n
    k = args.k or max(10, n // 10_000)
    m, iterations, ratio, mod = 4, 3, 1.5, 10

    from database_join_spark.hostinfo import host_snapshot

    spark = get_spark(app_name="semdedup-stagewall")
    spark.sparkContext.setLogLevel("ERROR")

    emb = synth_corpus(spark, n).persist()
    n_total = emb.count()
    n_twins = len(range(0, n, DUP_EVERY))

    out: dict = {
        "n_base": n, "n_total": n_total, "k": k, "m": m,
        "iterations": iterations, "ratio": ratio,
        "fit_sample_mod": mod, "host_start": host_snapshot(),
        "phases": {},
    }

    def phase(name, thunk):
        t0 = time.perf_counter()
        result = thunk()
        sec = round(time.perf_counter() - t0, 2)
        out["phases"][name] = sec
        print(f"# {name}: {sec}s", file=sys.stderr)
        return result

    # fit — sampled, exactly the shipped spelling
    fit_input = emb.filter(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0
    )
    _, cents, _ = phase(
        "fit",
        lambda: S.kmeans_fit(
            fit_input, id_col="vec_id", vec_col="embedding",
            k=k, iterations=iterations,
        ),
    )

    # assign — quantize + multi-probe blocking, full corpus
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.expr(S._quant("embedding")).alias("qv"),
    )
    blocks = S.kmeans_assign_topm(base, cents, m=m, ratio=ratio).persist()
    phase("assign", blocks.count)

    # expand — the chunk-pair shuffle (operator internals, same
    # constants)
    sizes = blocks.groupBy("block").agg(F.count(F.lit(1)).alias("s"))
    chunks = sizes.select(
        "block",
        F.greatest(
            F.lit(1), F.ceil(F.col("s") / S.SEMDEDUP_TARGET_CHUNK)
        ).cast("int").alias("c"),
    )
    chunked = (
        blocks.join(F.broadcast(chunks), "block")
        .withColumn("ch", F.pmod(F.xxhash64("id"), F.col("c")).cast("int"))
        .withColumn("other", F.explode(F.expr("sequence(0, c - 1)")))
        .select(
            "block", "id", "qv", "ch",
            F.least("ch", "other").alias("ca"),
            F.greatest("ch", "other").alias("cb"),
        )
        .persist()
    )
    expand_rows = phase("expand", chunked.count)
    out["expand_rows"] = expand_rows
    out["block_rows"] = blocks.count()

    # score — the Arrow pair sweep (exact tier, the shipped default)
    scored = chunked.groupBy("block", "ca", "cb").applyInPandas(
        S._block_scorer(THRESHOLD),
        schema="id_a long, id_b long, dot long, n2_a long, n2_b long",
    ).persist()
    phase("score", scored.count)
    out["scored_rows"] = scored.count()

    # dedupe — threshold + cross-block distinct
    pairs = (
        scored.select(
            "id_a", "id_b",
            S.cosine(
                F.col("dot"), F.col("n2_a"), F.col("n2_b")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= THRESHOLD)
        .distinct()
        .persist()
    )
    n_pairs = phase("dedupe", pairs.count)

    # planted-mass guard: the decomposition must reproduce the
    # operator's answer (recall 1.0 at these settings per
    # SEMDEDUP_PROBE) or the attribution is of the wrong plan.
    # Twin of base id b has id n + b//DUP_EVERY (synth_corpus)
    hit = (
        pairs.filter(
            (F.col("id_a") % DUP_EVERY == 0)
            & (F.col("id_b")
               == F.lit(n) + (F.col("id_a") / DUP_EVERY).cast("long"))
        ).count()
    )
    out["pairs"] = n_pairs
    out["planted_pairs"] = n_twins
    out["planted_recall"] = round(hit / n_twins, 4)
    assert out["planted_recall"] == 1.0, out["planted_recall"]

    out["total_phase_sec"] = round(sum(out["phases"].values()), 2)
    out["host_end"] = host_snapshot()
    for df in (pairs, scored, chunked, blocks, emb):
        df.unpersist()
    Path(_REPO, "SEMDEDUP_STAGEWALL_PROBE.json").write_text(
        json.dumps(out, indent=1) + "\n"
    )
    print(json.dumps({key: val for key, val in out.items()
                      if "host" not in key}))
    spark.stop()


if __name__ == "__main__":
    main()
