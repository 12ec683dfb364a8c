"""Vector similarity search over embedding columns (SURVEY.md §2.2 #29).

Two paths:

- **Brute-force cosine top-k** — exact baseline. Embeddings are
  quantized to integer fixed-point (floor(x·10⁷) → BIGINT) and the
  dot products summed in int64 — exact, associative, and therefore
  partition-order-independent AND bit-identical across engines
  (FIXTURES.md rule 2 applied to vectors; double folds are
  order-sensitive, and decimal casts of doubles round differently in
  Spark vs DuckDB, so integers are the only watertight choice). The
  ~1e-7 quantization error is documented operator semantics.
- **LSH-bucketed ANN (random hyperplanes)** — the scale path: each
  vector gets a b-bit signature from sign(v·h_j) against deterministic
  pseudo-random hyperplanes; candidates share a signature bucket, so
  the pair join is keyed on the bucket instead of being a cross join.
  At 100 TB: signatures are one linear scan; the bucket join shuffles
  (bucket, id, vec) only for same-bucket pairs.

JVM expressions (zip_with/aggregate) everywhere EXCEPT the SemDeDup
within-block scorer, which is an Arrow-batched tiled numpy GEMM
(``_block_scorer`` — the one place the matrix-product shape beats
any per-row SQL spelling by orders of magnitude; exactness argument
in its docstring), and the k-means assign kernel (``_assign_rows``,
behind one Arrow assign and the one-task assign + score of a corpus
that fits one scorer chunk).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Fixed-point quantization scale: floor(x·10⁷) → BIGINT. Unit-scale
#: float32 coordinates quantize to |q| ≤ 1e7+ε; element products are
#: ≤ ~1e14 and a 64-dim dot sum ≤ ~6.4e15 — far inside int64. The
#: int64 fold is exact and associative → partition-order-independent
#: and bit-identical across engines (the float→double cast, the ×1e7
#: double multiply, and FLOOR are all IEEE-defined and identical in
#: Spark and DuckDB). The ~1e-7 quantization error is documented
#: operator semantics; int64 folds are ~10× cheaper than the
#: DECIMAL(32,18) fold they replaced.
QUANT_SCALE = 10_000_000


def _quant(vec: str) -> str:
    return (
        f"transform({vec}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}.0) AS BIGINT))"
    )


def dot_q7(a: str, b: str) -> Column:
    """Exact quantized dot product of two array<float> columns
    (int64 fold over floor(x·10⁷) fixed-point coordinates)."""
    return F.expr(
        f"""
        aggregate(
          zip_with({_quant(a)}, {_quant(b)}, (x, y) -> x * y),
          CAST(0 AS BIGINT),
          (acc, v) -> acc + v
        )
        """
    )


def norm2_q7(a: str) -> Column:
    """Exact quantized squared L2 norm (int64 fold)."""
    return dot_q7(a, a)


def cosine(dot_col: Column, n2a: Column, n2b: Column) -> Column:
    """Cosine from exact int64 fixed-point parts, rounded to 9
    decimals.

    The int64 parts are < 2^53 so their double casts are exact in
    both engines; rounding to 9 decimals additionally absorbs any
    engine difference in round-to-nearest of the quotient (the same
    guard that fixed a 1-ulp Spark/DuckDB divergence in the earlier
    decimal-fold variant). Ordering uses the rounded value + a
    unique-key tiebreak so ranks are engine-independent too.
    """
    return F.round(
        dot_col.cast("double")
        / (F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double"))),
        9,
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query with a unique-key tiebreak.

    At 100 TB the corpus side stays partitioned; only queries are
    replicated — per-partition top-k via WindowGroupLimit keeps the
    shuffle to k rows per query per partition.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm2_q7(vec_col).alias("q_n2"),
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm2_q7(vec_col).alias("c_n2"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                dot_q7("q_vec", "c_vec"), F.col("q_n2"), F.col("c_n2")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "neighbor_id", "cos_sim")
    )


def hyperplane_signature(
    vec_col: str = "embedding",
    bits: int = 8,
    dim: int = 64,
    table_id: int = 0,
) -> Column:
    """Deterministic random-hyperplane LSH signature (sign bits).

    Hyperplane coordinates are seeded-PRNG constants generated ON THE
    DRIVER and embedded as array literals — they are query constants,
    and the earlier per-row xxhash64 derivation re-generated all
    bits×dim coordinates for every row (measured ~2× the whole ANN
    query's cost). Sign-only use makes the dot precision-insensitive.
    """
    import random

    planes = []
    for j in range(bits):
        rng = random.Random((table_id << 16) | j)
        coords = ", ".join(
            f"{rng.uniform(-1.0, 1.0):.9f}D" for _ in range(dim)
        )
        # h_j · v, folded in double (sign only → precision-insensitive)
        dot = (
            f"aggregate(zip_with({vec_col}, array({coords}), "
            f"(x, h) -> CAST(x AS DOUBLE) * h), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        planes.append(
            f"IF({dot} > 0, shiftleft(CAST(1 AS BIGINT), {j}), CAST(0 AS BIGINT))"
        )
    return F.expr(" + ".join(planes))


def _centroid_fingerprint(
    centroids: list[tuple[int, list[float]]],
) -> str:
    """Deterministic fingerprint of an IVF centroid set. JSON float
    serialization is repr-based, so the value survives the
    write-to-sidecar/read-back round trip the stored-index path uses
    (probe + tests both store centroids as JSON)."""
    import hashlib
    import json

    normalized = [
        [int(cid), [float(x) for x in vec]] for cid, vec in centroids
    ]
    return hashlib.sha256(
        json.dumps(normalized).encode()
    ).hexdigest()[:16]


def _require_index_fingerprint(
    df: DataFrame, col: str, expected: dict, what: str
) -> None:
    """Validate the parameter fingerprint embedded in a stored index
    table's column metadata (ADVICE r08: a stored table built with
    different knobs — or assembled from mismatched halves — silently
    yields wrong/degraded top-k; the fingerprint turns that into a
    loud error). Raises ``ValueError`` on a missing or mismatched
    fingerprint."""
    try:
        meta = dict(df.schema[col].metadata or {})
    except KeyError:
        raise ValueError(
            f"{what}: expected fingerprint column {col!r} is absent "
            f"from the stored index (columns: {df.columns})"
        )
    actual = {k: meta.get(k) for k in expected}
    if actual != expected:
        raise ValueError(
            f"{what}: stored-index fingerprint mismatch — expected "
            f"{expected}, stored {actual}. Rebuild the index with "
            f"the same parameters you query with (a missing "
            f"fingerprint means the table predates fingerprinting "
            f"or was not built by this operator)."
        )


def ivf_index(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Build the IVF index state: the cell-assigned corpus table
    ``(neighbor_id, c_vec, cell, c_n2)`` plus the centroid list.

    This is the ONE-per-corpus pass that :func:`ivf_topk` otherwise
    re-pays per query batch (KMeans fit + assignment + norms). The
    100 TB posture is to MATERIALIZE it: write the returned frame
    with ``.write.partitionBy("cell").parquet(...)`` so each probe
    is a dynamic-partition-pruned scan, and keep the centroids with
    the table metadata — then every query batch costs only its
    probed cells (ANN_PROBE's stored arms measure exactly this).
    Layout note (IVF_LAYOUT_PROBE.json, same-session A/B): keep the
    natural per-writer-task file layout. The scoring stage inherits
    the scan's split structure, and compacting to one (or few
    salted) files per cell REDUCED its parallelism and measured
    slower at full cell coverage (58.8 s natural vs 80.8 aligned /
    111.4 salted; decode itself is ~1 s in every layout) — file-count
    alignment is for scan-dominated consumers
    (``operators.bucketing.write_partitioned_aligned``), not for
    this compute-heavy one. At FULL cell coverage no stored layout
    beats the in-memory inline arm (31.2 s same session): a
    high-coverage batch should score against a cached corpus or use
    the stored-LSH surface instead."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus_fv = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        array_to_vector(F.col(vec_col)).alias("fv"),
    )
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="fv", predictionCol="cell"
    ).fit(corpus_fv.select("fv"))
    centroids = [
        (int(cid), [float(x) for x in center])
        for cid, center in enumerate(model.clusterCenters())
    ]
    # Parameter fingerprint rides in the schema metadata of a DATA
    # column (c_n2, not cell: partitionBy("cell") strips the
    # partition column from the data files, so its field metadata
    # does not survive the stored round trip). Spark persists column
    # metadata in the parquet footer schema, so the stored table
    # carries its own build provenance; ivf_topk validates it
    # against the centroid half of the index (ADVICE r08).
    fp_meta = {
        "ivf_n_centroids": n_centroids,
        "ivf_seed": seed,
        "ivf_centroid_fp": _centroid_fingerprint(centroids),
    }
    corpus = model.transform(corpus_fv).select(
        "neighbor_id",
        "c_vec",
        "cell",
        norm2_q7("c_vec").alias("c_n2", metadata=fp_meta),
    )
    return corpus, centroids


def ivf_topk(
    vectors: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    index: tuple[DataFrame, list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization.

    A KMeans coarse quantizer (spark.ml, seeded) partitions the
    corpus into ``n_centroids`` cells; each query probes its
    ``n_probe`` nearest cells and rescores exactly (quantized cosine)
    only within them — expected cost |corpus|·n_probe/n_centroids per
    query. At 100 TB: train the quantizer on a sample, store the cell
    id as a partition column so a probe is a partition-pruned scan;
    centroids are driver-side constants (n_centroids × dim floats),
    broadcast implicitly as literals.

    Pass ``index`` (from :func:`ivf_index`, possibly read back from
    its stored parquet) to skip the per-corpus fit/assign pass —
    the stored-index regime where ANN beats brute force even at
    small query counts. The stored corpus carries a build
    fingerprint in its schema metadata; it is validated against the
    centroid half here, so a corpus paired with centroids from a
    different build (or a table not written by :func:`ivf_index`)
    raises instead of silently returning degraded top-k.

    Stored-read sizing (round 9, IVF_SPLIT_PROBE.json): the scoring
    stage's parallelism follows the stored table's SCAN partitioning,
    and default split confs starve it — read the index under
    ``bucketing.compute_bound_read_confs()`` (1m splits / 64k open
    cost). With that, the stored index runs the full-cell-coverage
    batch 16.5 s vs 26.1 s inline — the regime it previously LOST
    2× now wins; keep the natural fragmented write (many small row
    groups), since splits cannot subdivide a parquet row group and
    the compacted aligned layout pins its own floor at 74+ s."""
    from pyspark.sql import Window

    if index is None:
        if vectors is None:
            raise ValueError(
                "ivf_topk: pass either a corpus `vectors` DataFrame "
                "or a prebuilt `index` from ivf_index()"
            )
        corpus, centroids = ivf_index(
            vectors,
            n_centroids=n_centroids,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
        )
    else:
        corpus, centroids = index
        _require_index_fingerprint(
            corpus,
            "c_n2",
            {
                "ivf_n_centroids": len(centroids),
                "ivf_centroid_fp": _centroid_fingerprint(centroids),
            },
            what="ivf_topk",
        )

    # centroid table as literals (driver-side constants, like the LSH
    # hyperplanes); n_probe nearest cells per query via a tiny window
    cent_df = queries.sparkSession.createDataFrame(
        centroids, "cell INT, centroid ARRAY<DOUBLE>"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm2_q7(vec_col).alias("q_n2"),
    )
    d2 = F.expr(
        "aggregate(zip_with(q_vec, centroid, "
        "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("d2"), F.col("cell"))
    probed = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("d2", d2)
        .withColumn("cr", F.row_number().over(wq))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", "q_vec", "q_n2", "cell")
    )
    scored = (
        corpus.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                dot_q7("q_vec", "c_vec"), F.col("q_n2"), F.col("c_n2")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "neighbor_id", "cos_sim")
    )


def lsh_corpus_buckets(
    df: DataFrame,
    bits: int = 4,
    tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "neighbor_id",
) -> DataFrame:
    """The corpus-side LSH state: ``(out_id, tid, bucket)`` — one row
    per (vector, table). This is the one-per-corpus signature pass
    :func:`lsh_topk` otherwise re-pays per query batch; the 100 TB
    posture is to MATERIALIZE it once (``.write.parquet(...)``,
    optionally bucketed by (tid, bucket)) and hand it back via
    ``lsh_topk(..., corpus_buckets=...)``. The hyperplanes are
    seeded constants, so a stored table stays valid until the corpus
    itself changes."""
    sigs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tid"),
                hyperplane_signature(vec_col, bits, dim, t).alias(
                    "bucket"
                ),
            )
            for t in range(tables)
        ]
    )
    # Parameter fingerprint in the bucket column's schema metadata
    # (persisted in the parquet footer): a stored bucket table built
    # with different bits/tables/dim would silently miss every
    # candidate (signatures keyed differently); lsh_topk validates
    # this against its own knobs and raises instead (ADVICE r08).
    fp_meta = {"lsh_bits": bits, "lsh_tables": tables, "lsh_dim": dim}
    return df.select(
        F.col(id_col).alias(out_id), F.explode(sigs).alias("tb")
    ).select(
        out_id,
        "tb.tid",
        F.col("tb.bucket").alias("bucket", metadata=fp_meta),
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 4,
    tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: exact rescoring restricted to candidates that share
    a bucket with the query in ANY of ``tables`` independent LSH
    tables (the classic multi-table OR-construction).

    One table of b bits captures a neighbor at angular similarity p
    with probability p^b; L tables lift that to 1-(1-p^b)^L, the
    knob that trades candidate mass for recall. Per table the join is
    keyed on (table_id, bucket) — ids and signatures shuffle, vectors
    are fetched once per distinct candidate pair. Recall < 1 by
    construction (pytest pins a floor on fixtures); cost drops from
    O(|corpus|·|queries|) to the bucket-collision mass.

    Pass ``corpus_buckets`` (from :func:`lsh_corpus_buckets`, read
    back from its stored table) to skip the corpus signature pass —
    it must have been built with the SAME bits/tables/dim (the
    hyperplanes are seeded by (table_id, bit), so equal knobs ⇒
    equal signatures). The build knobs ride in the stored table's
    schema metadata and are VALIDATED here — a mismatched table
    raises instead of silently missing every candidate.
    """
    from pyspark.sql import Window

    if corpus_buckets is None:
        corpus_buckets = lsh_corpus_buckets(
            vectors, bits, tables, dim, id_col, vec_col
        )
    else:
        _require_index_fingerprint(
            corpus_buckets,
            "bucket",
            {"lsh_bits": bits, "lsh_tables": tables, "lsh_dim": dim},
            what="lsh_topk",
        )
    cand = (
        corpus_buckets.join(
            F.broadcast(
                lsh_corpus_buckets(
                    queries, bits, tables, dim, id_col, vec_col, "query_id"
                )
            ),
            on=["tid", "bucket"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm2_q7(vec_col).alias("q_n2"),
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm2_q7(vec_col).alias("c_n2"),
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                dot_q7("q_vec", "c_vec"), F.col("q_n2"), F.col("c_n2")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "neighbor_id", "cos_sim")
    )


# --------------------------------------------------------------------------
# k-means clustering (exact fixed-point) — topic/style bucketing
# --------------------------------------------------------------------------
def kmeans_assign(base: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Assign every row of ``base`` (columns ``id``, ``qv`` — a
    quantized int64 vector from :func:`_quant`) to its nearest
    centroid by EXACT integer squared distance: columns ``id``,
    ``qv``, ``cluster`` (1-based) and ``sqdist``. This is
    :func:`kmeans_assign_topm` at m=1; distance ties break to the
    lowest cluster index."""
    return _assign_frame(base, centroids, 1, None).select(
        "id",
        "qv",
        F.col("block").alias("cluster"),
        F.col("d2").alias("sqdist"),
    )


def kmeans_assign_topm(
    base: DataFrame,
    centroids: list[list[int]],
    m: int,
    ratio: float | None = None,
) -> DataFrame:
    """Multi-probe cluster assignment: one exploded ``(id, qv,
    block)`` row per (vector, block) for the vector's ``m`` NEAREST
    centroids — the blocking form of :func:`kmeans_assign`, map-only
    (no shuffle). Candidates are ordered by (distance, index), so
    distance ties break to the lowest cluster index — the order
    ``numpy.argsort(kind='stable')`` yields, which is what lets the
    multi-probe candidate SET be pinned bit-for-bit against an
    independent fit.

    ``ratio`` (VERDICT r08 #6) makes the probe width ADAPTIVE:
    centroid j is probed only when ``d²_j ≤ ratio · d²_nearest``
    (m becomes the cap). Fixed-m pays the full m-wide candidate
    mass for EVERY vector to recover the few boundary-straddling
    twins; under the ratio rule, vectors deep inside a cell (the
    bulk) probe one cell, and only genuine boundary cases fan out —
    the SEMDEDUP_PROBE measured m=4 paying 17.5× the m=1 candidate
    mass at 1M to recover 173 boundary misses. The comparison is
    exact int64 arithmetic: ratio is snapped to a small fraction
    p/q (q ≤ 8) and evaluated as ``d²_j·q ≤ d²_min·p`` — bounded by
    2.6e16·8 ≈ 2.1e17 < 2⁶³, so no float rounding at the decision
    boundary. The nearest centroid always qualifies (d²·q ≤ d²·p
    for p ≥ q), so every vector keeps at least its home block.

    The assign kernel is :func:`_assign_rows`; from
    :data:`~database_join_spark.plans.sizing.TWOLEVEL_ASSIGN_MIN_K`
    centroids on it routes each vector through a √k coarse index
    (:func:`centroid_router`, n·√k work instead of n·k).
    """
    return _assign_frame(base, centroids, m, ratio).drop("d2")


def _assign_frame(
    base: DataFrame,
    centroids: list[list[int]],
    m: int,
    ratio: float | None,
) -> DataFrame:
    """The one Spark assign: a ``mapInArrow`` over ``base``'s ``(id,
    qv)`` that runs :func:`_assign_rows` on every Arrow batch and
    emits ``(id, qv, block, d2)``, one row per kept probe. The
    centroid index (:func:`_assign_index`) ships once per executor
    as a Spark broadcast, not in the task closure: at SemDeDup's
    LAION-scale 110k clusters the matrix is ~56 MB."""
    frac = None if ratio is None else _snap_ratio(ratio)
    bc = base.sparkSession.sparkContext.broadcast(_assign_index(centroids))

    def assign(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            qv = batch.column("qv")
            row, block, d2 = _assign_rows(_decode_qv(qv), bc.value, m, frac)
            take = pa.array(row)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id").cast(pa.int64()).take(take),
                    qv.take(take),
                    pa.array(block, type=pa.int32()),
                    pa.array(d2),
                ],
                names=["id", "qv", "block", "d2"],
            )

    return base.select("id", "qv").mapInArrow(
        assign, schema="id long, qv array<long>, block int, d2 long"
    )


#: Cell budget (rows × dim) under which the Lloyd loop runs on the
#: DRIVER over one bounded collect instead of as iterations×2 Spark
#: jobs. Rationale: the fit input is bounded BY DESIGN — callers fit
#: on ``fit_sample_mod_for``'s ~100-rows-per-centroid hash sample —
#: and the round-13 sf0.1 wall probe (SEMDEDUP_SF01_WALL_PROBE.json)
#: measured the distributed loop at 3.7 s of the dedup_semantic
#: bench row's 4.44 s: per-iteration plan analysis + codegen of the
#: then literal-SQL k·dim centroid tree plus two tiny jobs, pure
#: fixed overhead at sample scale. 2²² int64 cells = 32 MiB collected —
#: e.g. 65k rows at dim 64 (k ≈ 650 under the 100-rows/centroid
#: rule) — far inside driver memory and maxResultSize. An input over
#: the budget (or a k·dim centroid matrix over it) runs the
#: distributed loop; nothing else selects between the two. The numpy
#: loop is BIT-IDENTICAL (pinned, tests/test_pipeline.py): same
#: k-lowest-id seed, the same assign kernel (:func:`_assign_rows` at
#: m=1), and the same floor-div centroid update the distributed path
#: computes.
DRIVER_FIT_MAX_CELLS = 1 << 22


def _kmeans_lloyd_np(
    rows: list,
    k: int,
    iterations: int,
    track_inertia: bool,
) -> tuple[list[list[int]], list[int]]:
    """Driver-side exact-int64 Lloyd loop over collected (id, qv)
    rows — the bit-identical small-sample spelling of the
    distributed loop in :func:`_fit_centroids` (see
    :data:`DRIVER_FIT_MAX_CELLS`). Returns (centroids, history)."""
    import numpy as np

    ordered = sorted(rows, key=lambda r: r.id)
    q = np.array([list(r.qv) for r in ordered], dtype=np.int64)
    k = min(k, q.shape[0])
    cents = q[:k].copy()  # k lowest-id seeds, id order
    history: list[int] = []
    for _ in range(iterations):
        # m=1 keeps exactly one (row, block) per row, in row order
        _row, block, d2min = _assign_rows(q, _assign_index(cents), 1, None)
        assign = block - 1
        if track_inertia:
            history.append(sum(int(v) for v in d2min))
        new = cents.copy()
        for j in range(k):
            members = q[assign == j]
            if len(members):
                # Python-int floor div == the distributed path's
                # ``s // n`` update (sums bounded: |q| ≤ ~1e7 × the
                # ≤ DRIVER_FIT_MAX_CELLS rows collected « 2^63)
                new[j] = members.sum(axis=0, dtype=np.int64) // len(
                    members
                )
        cents = new
    return [[int(c) for c in row] for row in cents], history


def _driver_fit_rows(
    base: DataFrame,
    k: int,
    n_hint: int | None = None,
    dim_hint: int | None = None,
) -> list | None:
    """Bounded driver-fit probe (see :data:`DRIVER_FIT_MAX_CELLS`):
    collect the fit input iff it provably fits the driver cell
    budget. One ``head()`` job for the dimension plus at most one
    ≤32 MiB collect — the row cap is ``DRIVER_FIT_MAX_CELLS // dim``
    with NO ``max(k, …)`` escape hatch (ADVICE r13: the old cap let
    a k=110k/dim=768 fit collect ~0.7 GB to the driver only to fall
    back anyway); when ``k·dim`` alone exceeds the budget the driver
    loop could not hold the centroid matrix either, so the probe
    skips without collecting. ``n_hint`` (ADVICE r13) is the
    caller's known row count for ``base``: when it proves the input
    over the cap the collect is skipped outright — large fits pay
    zero probe jobs beyond the head.

    ``dim_hint`` (round 14) is the caller's known vector
    dimensionality — the engine's embedding tables are fixed-dim by
    construction, so one cached catalog value (``parquet_list_dim``)
    stands for the whole column and the per-run ``head(1)``
    dim-discovery job is skipped: the row cap is computed from the
    hint and emptiness falls out of the collect itself. Unlike
    n_hint it is checked: the collected rows' real dim re-derives
    the cap, and rows over it are not collected for the driver.

    Returns the collected rows (possibly empty), or None when the
    input was not collected (over the cap, or never attempted).
    Called only by :func:`_fit_centroids`, which runs the
    distributed loop on None.
    """
    if dim_hint is not None:
        dim = max(1, dim_hint)
    else:
        head = base.select("qv").head(1)
        if not head:
            return []
        dim = max(1, len(head[0].qv))
    max_rows = DRIVER_FIT_MAX_CELLS // dim
    if k * dim > DRIVER_FIT_MAX_CELLS or (
        n_hint is not None and n_hint > max_rows
    ):
        return None
    rows = base.limit(max_rows + 1).collect()
    # Also the cap of the rows' real dim, so a too-small dim_hint
    # cannot hand the driver fit more cells than the budget.
    if rows and len(rows) > DRIVER_FIT_MAX_CELLS // max(dim, len(rows[0].qv)):
        return None
    return rows


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    iterations: int = 5,
    track_inertia: bool = False,
    n_hint: int | None = None,
    dim_hint: int | None = None,
) -> tuple[DataFrame, list[list[int]], list[int]]:
    """Lloyd's k-means over an embedding column in EXACT fixed-point
    integer arithmetic — every distance, assignment, and centroid
    update is an int64 computation, so the fit is bit-deterministic
    across runs, partitionings, and re-orderings (a float k-means
    is not: parallel double sums drift with partition order, and a
    point near a Voronoi boundary can flip clusters run-to-run).

    Per iteration: one map-stage assignment (:func:`kmeans_assign`,
    no shuffle; from ``TWOLEVEL_ASSIGN_MIN_K`` on its kernel routes
    through the n_s·√k two-level index, which under k_for's k ∝ n is
    what keeps the fit's per-iteration work sub-n·k), then one
    vocabulary-bounded aggregation — posexplode to (cluster, pos,
    val) and sum/count — whose exchange carries at most k·dim
    groups after map-side partial aggregation. The driver holds
    ONLY the k·dim centroid matrix (the same scalar-bounded loop
    contract as connected_components): rows never collect. New
    centroid coordinate = floor mean ``Σq DIV n`` (exact int64 to
    ~10¹¹ members per cluster at q7 scale); a cluster that loses
    all members keeps its previous centroid. Init = the k
    lowest-id vectors (deterministic, no RNG). An input that fits
    :data:`DRIVER_FIT_MAX_CELLS` runs the same loop on the driver
    with the same assign kernel, so both land on the same centroids
    at every k. An input of fewer than k rows is its own fit: every
    row is a centroid (Lloyd's fixed point, inertia 0).

    Returns (final assignment DataFrame, final centroids, inertia
    history — empty unless ``track_inertia``, which adds one extra
    job per iteration and exists for the monotone-objective
    property test; the production path leaves it off). An empty
    input returns an empty assignment and no centroids.

    ``n_hint`` (round 14, ADVICE r13): the caller's known row count
    for ``df`` — when it proves the input over the driver-fit row
    cap the probe's bounded collect is skipped outright, so large
    fits pay one head() job instead of head + a ≤32 MiB collect.
    A hint, never a limit: absent or small hints change nothing.
    ``dim_hint``: the known vector dimensionality, which skips that
    head() job (see :func:`_driver_fit_rows`).

    The quantized input is persisted (through ``track_persist``, so
    the next gated query's configure_session drains it): the fit
    reads it, and the returned assignment reads it again.
    """
    from database_join_spark.session import track_persist

    base = track_persist(_quant_base(df, id_col, vec_col))
    cents, history = _fit_centroids(
        base,
        k=k,
        iterations=iterations,
        track_inertia=track_inertia,
        n_hint=n_hint,
        dim_hint=dim_hint,
    )
    return kmeans_assign(base, cents), cents, history


def _quant_base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``df`` as the ``(id, qv)`` frame every k-means step reads: the
    id and the quantized vector (:func:`_quant`)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(_quant(vec_col)).alias("qv"),
    )


def _fit_centroids(
    base: DataFrame,
    k: int = 10,
    iterations: int = 5,
    track_inertia: bool = False,
    n_hint: int | None = None,
    dim_hint: int | None = None,
) -> tuple[list[list[int]], list[int]]:
    """The fit of :func:`kmeans_fit` over a quantized ``(id, qv)``
    frame (:func:`_quant_base`), for callers that need only the
    centroids (``semdedup_pairs`` blocks on its own full-corpus
    frame). Returns (centroids, inertia history); fewer than k
    centroids means the input holds fewer than k rows.

    The fit runs on the driver when :func:`_driver_fit_rows` collects
    the input, else as the distributed loop. The driver fit reads
    ``base`` once, through the probe's collect. The distributed loop
    reads it iterations + 1 times (the seed collect, then one assign
    + one stats aggregation per iteration), and each read otherwise
    re-runs the scan + sample filter + quantization, so it persists
    ``base`` (through ``track_persist``) unless an equal plan is
    cached already. ``base.is_cached`` then tells the caller whether
    this fit persisted it: a caller that keeps only the centroids
    releases exactly that persist, since unpersisting by plan would
    also drop an equal-plan cache someone else holds."""
    from pyspark import StorageLevel

    from database_join_spark.session import track_persist

    rows = _driver_fit_rows(base, k, n_hint=n_hint, dim_hint=dim_hint)
    if rows is not None:
        if not rows:  # an empty input: no seed, nothing to fit
            return [], []
        return _kmeans_lloyd_np(rows, k, iterations, track_inertia)
    if base.storageLevel == StorageLevel.NONE:
        track_persist(base)
    seed_rows = base.orderBy("id").limit(k).collect()
    cents = [list(r.qv) for r in sorted(seed_rows, key=lambda r: r.id)]
    if len(cents) < k:
        # Fewer rows than k: every row is its own seed and its own
        # nearest centroid at distance 0 — Lloyd's fixed point, so
        # the loop would only repeat it (and an empty input has
        # nothing to fit).
        inertia = [0] * iterations if track_inertia and cents else []
        return cents, inertia
    history: list[int] = []
    for _ in range(iterations):
        assigned = kmeans_assign(base, cents)
        if track_inertia:
            history.append(
                int(
                    assigned.agg(
                        F.sum(F.col("sqdist").cast("decimal(38,0)"))
                    ).collect()[0][0]
                )
            )
        stats = (
            assigned.select(
                "cluster", F.posexplode("qv").alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum("val").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cluster.setdefault(r.cluster, {})[r.pos] = (r.s, r.n)
        cents = [
            [
                coords[p][0] // coords[p][1]
                for p in sorted(coords)
            ]
            if (coords := by_cluster.get(j + 1))
            else cents[j]
            for j in range(k)
        ]
    return cents, history


def _snap_ratio(ratio: float) -> tuple[int, int]:
    """Snap an adaptive-probe ratio to an exact small fraction p/q
    (q ≤ 8) for the int64 boundary comparison ``d²_j·q ≤ d²_min·p``.
    Refuses a silent snap (ADVICE r09: 1.1 would become 9/8 = 1.125
    with no signal beyond the docstring)."""
    from fractions import Fraction

    if ratio < 1.0:
        raise ValueError(f"ratio must be >= 1, got {ratio}")
    frac = Fraction(ratio).limit_denominator(8)
    p, q = frac.numerator, frac.denominator
    if abs(p / q - ratio) > 1e-9:
        raise ValueError(
            f"ratio={ratio} is not exactly representable with "
            f"denominator <= 8 (nearest {p}/{q} = {p / q}); pass "
            f"one that is (e.g. 1.25, 1.5, 9/8 = 1.125)"
        )
    return p, q


def _np_sqdists(q, cents, n2c):
    """Exact int64 squared-distance matrix between batch rows ``q``
    (b×dim int64) and centroids ``cents`` (k×dim int64):
    d²[i,j] = |q_i|² + |c_j|² − 2·q_i·c_j. The cross-dot runs as a
    float64 GEMM when every partial sum provably stays an integer
    ≤ 2^53 (dim·amax² bound), else as an int64 matmul (no BLAS,
    still exact to 2^63); the combine is int64 either way."""
    import numpy as np

    dim = q.shape[1]
    amax = int(max(np.abs(q).max(initial=0), np.abs(cents).max(initial=0)))
    if dim * amax * amax < (1 << 53):
        dot = (
            q.astype(np.float64) @ cents.T.astype(np.float64)
        ).astype(np.int64)
    else:
        dot = q @ cents.T
    n2q = np.einsum("ij,ij->i", q, q)
    return n2q[:, None] + n2c[None, :] - 2 * dot


#: Cell budget for one tiled distance matrix in :func:`_assign_rows`:
#: ≤ 2^24 int64 cells (128 MiB) per (row-chunk × centroids) block —
#: the same discipline as :data:`_GEMM_TILE_CELLS`; without it a
#: 10k-row Arrow batch against k=10000 centroids materializes an
#: 800 MB matrix PER WORKER and the assign drowns in allocation churn
#: (measured on the round-12 k-ladder).
_ASSIGN_TILE_CELLS = 1 << 24


def _topm_exact(d2, m):
    """Top-m column indices per row of ``d2``, ordered exactly like
    ``argsort(kind='stable')`` — ascending (value, index) — without
    paying a full-row sort: ``argpartition`` selects the m smallest
    in O(k) (measured 5.7× cheaper than the stable argsort at
    k=3162 on the round-12 ladder), a 4-element lexsort orders them,
    and the rare rows where the selection boundary TIES (argpartition
    makes no stability promise among equal values) fall back to the
    stable sort so the emitted set is exactly the stable order's in
    every case. Returns ``(order, sorted_d)`` with shapes
    (rows, min(m, k)).
    """
    import numpy as np

    k = d2.shape[1]
    if m >= k:
        order = np.argsort(d2, axis=1, kind="stable")
        return order, np.take_along_axis(d2, order, axis=1)
    sel = np.argpartition(d2, m - 1, axis=1)[:, :m]
    selv = np.take_along_axis(d2, sel, axis=1)
    # stable (value, index) order within the selected m
    ord_in = np.lexsort((sel, selv), axis=1)
    order = np.take_along_axis(sel, ord_in, axis=1)
    sorted_d = np.take_along_axis(selv, ord_in, axis=1)
    # boundary ties: a value equal to the m-th smallest may sit
    # outside the partition — resolve those rows the slow way
    thresh = sorted_d[:, -1]
    tied = np.nonzero((d2 <= thresh[:, None]).sum(axis=1) > m)[0]
    for i in tied:
        row = np.argsort(d2[i], kind="stable")[:m]
        order[i] = row
        sorted_d[i] = d2[i, row]
    return order, sorted_d


#: Coarse-level probe cap / ratio for the two-level assign: a vector
#: probes its ``COARSE_PROBE_M`` nearest coarse cells, pruned by the
#: same exact int64 prefix rule as the fine level (``d²_c·q ≤
#: d²_cmin·p``). The coarse probe must be WIDER than the fine one —
#: the fine top-m can only be found inside probed cells, so a missed
#: coarse cell silently truncates the candidate set. At 8/2.0 the 1M
#: probe (k=k_for=1000) measured emitted-row deviation vs the flat
#: assign on identical centroids at 2·10⁻⁶ — 8 rows of 4.04M, under
#: BOTH the shipped ratio-capped spelling and the uncapped m=4 —
#: while pruning the fine work to ≤ coarse_m of √k cells
#: (SEMDEDUP_TWOLEVEL_PROBE.json; the well-separated fixture pin in
#: tests/test_pipeline.py is exactly zero).
COARSE_PROBE_M = 8
COARSE_PROBE_RATIO = 2.0


def centroid_router(
    centroids: list[list[int]], kc: int, iterations: int = 8
):
    """Group ``k`` fine centroids into ``kc`` coarse cells by running
    exact int64 Lloyd's ON THE CENTROIDS THEMSELVES — k rows of
    driver-side numpy (k·kc·dim work per iteration; at the SemDeDup
    paper's 110k-cluster scale with kc=√k≈332 and dim 64 that is
    ~2.3e9 integer ops — single-digit seconds, once per assign).
    This is what makes the two-level assign bit-compatible with the
    flat one: the FINE centroids are untouched (same fit, same
    coordinates), the router only adds a coarse index over them —
    IVF over centroids instead of a hierarchical re-fit, so any
    probe that covers the true top-m cells reproduces the flat
    output exactly.

    Same determinism discipline as :func:`kmeans_fit`: init = first
    ``kc`` centroids in index order, nearest = first minimum (lowest
    index on ties), update = exact floor mean, an emptied cell keeps
    its previous center. Cells left WITHOUT members are dropped from
    the returned router (a probe routed to an empty cell would
    contribute zero candidates and could leave a vector with no
    home block).

    Returns ``(coarse, cell_of)``: the kc'×dim coarse matrix
    (kc' ≤ kc after empty-cell drop) and the per-fine-centroid cell
    index (int32, 0-based into ``coarse``).
    """
    import numpy as np

    cents = np.asarray(centroids, dtype=np.int64)
    k = len(cents)
    kc = max(1, min(kc, k))
    coarse = cents[:kc].copy()
    cell = np.zeros(k, dtype=np.int64)
    for _ in range(iterations):
        n2c = np.einsum("ij,ij->i", coarse, coarse)
        cell = np.argmin(_np_sqdists(cents, coarse, n2c), axis=1)
        for j in range(kc):
            members = cents[cell == j]
            if len(members):
                coarse[j] = members.sum(axis=0) // len(members)
    n2c = np.einsum("ij,ij->i", coarse, coarse)
    cell = np.argmin(_np_sqdists(cents, coarse, n2c), axis=1)
    live = np.unique(cell)
    remap = np.full(kc, -1, dtype=np.int64)
    remap[live] = np.arange(len(live))
    return coarse[live], remap[cell].astype(np.int32)


def _assign_index(centroids):
    """The centroid index :func:`_assign_rows` scans: ``(coarse,
    n2_coarse, fine, n2_fine, block_of, starts)``. ``fine`` holds the
    k centroids in cell-contiguous order, ``block_of`` their 1-based
    block ids and ``starts`` the kc+1 cell bounds into ``fine``.

    Below :data:`~database_join_spark.plans.sizing.TWOLEVEL_ASSIGN_MIN_K`
    centroids the index is ONE cell holding all k in id order and
    ``coarse`` is None (no router fit; at small k the router is pure
    overhead). From there on the cells are :func:`centroid_router`'s
    ⌈√k⌉ groups, so a vector scores ≤ ``COARSE_PROBE_M`` cells instead
    of all k centroids (n·√k work instead of n·k: under k_for's k ∝ n
    the flat n·k GEMM is the last super-linear SemDeDup term)."""
    import numpy as np

    from database_join_spark.plans.sizing import (
        TWOLEVEL_ASSIGN_MIN_K,
        coarse_k_for,
    )

    k = len(centroids)
    cents = np.asarray(centroids, dtype=np.int64).reshape(k, -1 if k else 0)
    if k < TWOLEVEL_ASSIGN_MIN_K:
        coarse = n2_coarse = None
        perm = np.arange(k)
        starts = np.array([0, k])
    else:
        coarse, cell_of = centroid_router(cents, coarse_k_for(k))
        n2_coarse = np.einsum("ij,ij->i", coarse, coarse)
        # within a cell the fine ids ascend with the local column, so
        # a per-cell stable top-m is already in (d², block) order
        perm = np.lexsort((np.arange(k), cell_of))
        starts = np.searchsorted(cell_of[perm], np.arange(len(coarse) + 1))
    fine = cents[perm]
    return (
        coarse,
        n2_coarse,
        fine,
        np.einsum("ij,ij->i", fine, fine),
        perm + 1,
        starts,
    )


def _decode_qv(qv):
    """The (rows, dim) int64 matrix of an Arrow ``list<int64>`` column
    of one-dimension vectors, read straight from its list offsets."""
    import numpy as np

    lens = np.diff(np.asarray(qv.offsets))
    if qv.null_count or (lens != lens[0]).any():
        raise ValueError(
            "the k-means assign needs non-null vectors of one dimension"
        )
    return qv.flatten().to_numpy().reshape(len(qv), int(lens[0]))


def _assign_rows(q, index, m, frac):
    """The k-means assign kernel every assign site runs: the top-``m``
    centroids of each row of ``q`` (int64, rows × dim) by EXACT int64
    squared distance (:func:`_np_sqdists`), in stable (d², block)
    order, kept while ``d²·q' ≤ d²_min·p`` for ``frac = (p, q')``
    (:func:`_snap_ratio`; None keeps all m). Returns ``(row, block,
    d2)`` int64 arrays, one entry per kept probe, row-major; m=1 is
    the nearest centroid (ties to the lowest id), and k < m keeps k.

    ``index`` is :func:`_assign_index`'s. A one-cell index scores all
    k centroids and needs no merge. A routed index first probes the
    vector's nearest coarse cells (``COARSE_PROBE_M`` / exact
    ``COARSE_PROBE_RATIO`` prefix, always including the nearest), takes
    each probed cell's own top-m (a global winner is a winner in its
    cell) and merges the candidates in (d², block) order: identical to
    the one-cell answer wherever the probe covers the true top-m cells
    (SEMDEDUP_TWOLEVEL_PROBE.json bounds the misses at 2·10⁻⁶ of rows
    at 1M/k=1000). Every vector keeps at least one block, since the
    router returns no empty cells."""
    import numpy as np

    coarse, n2_coarse, fine, n2_fine, block_of, starts = index
    k = len(fine)
    if coarse is None:
        width = k
    else:
        mc = min(COARSE_PROBE_M, len(coarse))
        cp, cq = _snap_ratio(COARSE_PROBE_RATIO)
        width = max(len(coarse), mc * -(-k // len(coarse)))
    tile = max(1, _ASSIGN_TILE_CELLS // max(1, width))
    rows, cols, dists = [], [], []
    for lo in range(0, len(q) if k else 0, tile):
        t = q[lo : lo + tile]
        if coarse is None:
            order, d = _topm_exact(_np_sqdists(t, fine, n2_fine), m)
            r = np.repeat(np.arange(len(t)), order.shape[1])
            c, d = order.ravel(), d.ravel()
        else:
            order_c, d_c = _topm_exact(_np_sqdists(t, coarse, n2_coarse), mc)
            keep_c = d_c * cq <= d_c[:, :1] * cp
            probe_rows = np.repeat(np.arange(len(t)), keep_c.sum(axis=1))
            probe_cells = order_c[keep_c]
            by_cell = np.argsort(probe_cells, kind="stable")
            probe_rows, probe_cells = probe_rows[by_cell], probe_cells[by_cell]
            bounds = np.searchsorted(probe_cells, np.arange(len(coarse) + 1))
            parts = []
            for cell in np.unique(probe_cells):
                rc = probe_rows[bounds[cell] : bounds[cell + 1]]
                s, e = starts[cell], starts[cell + 1]
                loc, ld = _topm_exact(
                    _np_sqdists(t[rc], fine[s:e], n2_fine[s:e]), m
                )
                parts.append(
                    (np.repeat(rc, loc.shape[1]), loc.ravel() + s, ld.ravel())
                )
            r, c, d = (np.concatenate(x) for x in zip(*parts))
            merged = np.lexsort((block_of[c], d, r))
            r, c, d = r[merged], c[merged], d[merged]
        # r ascends and each row's candidates are in (d², block) order
        first = np.flatnonzero(np.diff(r, prepend=-1))
        counts = np.diff(np.append(first, len(r)))
        keep = np.arange(len(r)) - np.repeat(first, counts) < m
        if frac is not None:
            p, qd = frac
            keep &= d * qd <= np.repeat(d[first], counts) * p
        rows.append(r[keep] + lo)
        cols.append(c[keep])
        dists.append(d[keep])
    if not rows:
        return (np.empty(0, np.int64),) * 3
    return (
        np.concatenate(rows),
        block_of[np.concatenate(cols)],
        np.concatenate(dists),
    )


def semdedup_pairs(
    emb: DataFrame,
    k: int,
    iterations: int,
    m: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ratio: float | None = None,
    fit_sample_mod: int | None = None,
    n_hint: int | None = None,
    dim_hint: int | None = None,
) -> DataFrame:
    """SemDeDup candidate-pair scoring: exact-integer k-means fit →
    multi-probe blocking (:func:`kmeans_assign_topm`, m nearest
    centroids per vector) → exact quantized cosine on co-blocked
    pairs only → pairs at or above ``threshold``, deduped across
    blocks. The engine's one spelling of the recipe: the registry's
    ``dedup_semantic`` query and the scale probe
    (scripts/semdedup_probe.py) both call this, so what's probed is
    what ships.

    Returns (id_a, id_b, cos_sim) with id_a < id_b, each pair once
    (none for an empty ``emb``). Precision is exact by construction
    (every emitted pair carries its true quantized cosine); recall
    misses exactly the true pairs sharing none of their m probed
    clusters — the measured m-curve lives on ``_SEMDEDUP_PROBES``
    (queries/pipeline.py) and in SEMDEDUP_PROBE.json. Both paths
    below block with the one assign kernel (:func:`_assign_rows`).
    ``ratio`` switches the blocking to
    distance-ratio ADAPTIVE probing (see
    :func:`kmeans_assign_topm`): m becomes the cap, and only
    vectors near a Voronoi boundary fan out — the probe's adaptive
    arms measure the recall/candidate-mass trade per r.

    ``fit_sample_mod`` fits the k-means on the deterministic
    1-in-mod hash-sample ``xxhash64(id) % mod == 0`` (the ASSIGN
    stays full-corpus — blocking quality depends on where the
    centroids sit, not on which rows placed them). The r09 1M wall
    was fit/assign-bound (446 of 759 s), so this is the at-scale
    lever; SEMDEDUP_PROBE.json's round-10 ``sampled_fit`` arm
    measures the fit-time/recall trade at 1M/k=100. Centroids are
    still bit-deterministic (the sample is a pure id function; the
    k lowest-id sampled vectors seed). A sample with fewer than k
    rows (corpus smaller than ~mod·k) would clamp k toward the sample
    size and block against a degenerate centroid set — silently
    wrong pairs instead of an error — so it falls back to the
    full-corpus fit. Either way the fit is one :func:`_fit_centroids`
    call per input, and a base that call persisted is released as
    soon as the centroids are out: only the centroids are needed
    here, since the blocking assign runs on the full corpus.

    ``n_hint`` (round 13) is the caller's known corpus row count
    (e.g. the cached parquet-footer rowcount). When it proves the
    whole corpus fits one scorer chunk (≤
    :data:`SEMDEDUP_TARGET_CHUNK` rows) the assign and the scorer run
    in ONE ``mapInArrow`` task over the coalesced corpus
    (:func:`_semdedup_one_task`): no chunk census, blocks persist or
    block exchange, and the action is one Spark job of one task. A
    wrong small hint costs only parallelism (one bigger task), never
    correctness. An absent or large hint runs the chunking
    machinery, and there the hint also sizes the blocks persist. The
    fit sees it only on the full corpus, where it lets a big corpus
    skip the probe collect.

    ``dim_hint`` (round 14) is the caller's known embedding
    dimensionality (the cached ``parquet_list_dim`` statistic):
    with it the fit probe computes its row cap directly and skips
    the per-run ``head(1)`` dim-discovery job — the sampled-fit
    common path then pays exactly ONE Spark job (the bounded
    collect) before the blocking assign. Absent hint: unchanged.
    """
    fit = functools.partial(
        _fit_centroids, k=k, iterations=iterations, dim_hint=dim_hint
    )
    base = _quant_base(emb, id_col, vec_col)
    if fit_sample_mod is not None and fit_sample_mod > 1:
        sample = emb.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(fit_sample_mod))
            == 0
        )
        fit_bases = [_quant_base(sample, id_col, vec_col)]
        cents, _hist = fit(fit_bases[0])
        if len(cents) < k:  # the sample holds fewer than k rows
            fit_bases.append(base)
            cents, _hist = fit(base, n_hint=n_hint)
        for fit_base in fit_bases:
            if fit_base.is_cached:  # persisted by this fit
                fit_base.unpersist()
    else:
        # A distributed fit leaves ``base`` cached, and the blocking
        # assign below reads that cache.
        cents, _hist = fit(base, n_hint=n_hint)
    if n_hint is not None and n_hint <= SEMDEDUP_TARGET_CHUNK:
        # One chunk: no block can exceed TARGET_CHUNK rows when the
        # whole corpus has at most that many, so the census, the
        # blocks persist and the (block, ca, cb) exchange each have
        # one possible outcome. One task assigns and scores it all.
        scored = _semdedup_one_task(base, cents, m, ratio, threshold)
        return _pairs_above(scored, threshold)
    # Persisted: the blocks frame is consumed twice (the size census
    # below + the chunk-pair join), and without the cache boundary
    # the ENTIRE assign — k·dim distance work per vector — runs
    # twice. Negligible at fixture k, but at k_for(n) scale the
    # assign is a real phase (round-12 ladder) and paying it once is
    # the point. Routed through track_persist so the next gated
    # query's configure_session drains it — a raw .persist here leaked
    # one cached frame per call for the life of a shared session
    # (ADVICE r12); track_persist's default level already degrades to
    # disk spill, not recompute.
    from database_join_spark.session import track_persist

    assign_frame = kmeans_assign_topm(base, cents, m=m, ratio=ratio)
    # Memory-adaptive persist (round 14, guide §5: cache only when
    # recompute costs more than the memory pressure): the blocks
    # frame is n·m rows of (block, id, qv) — at 8M vectors / dim 64 /
    # m=4 that is ~17 GB, and persisting it on the default 8 g heap
    # OOM'd the 8M end-to-end probe outright
    # (SEMDEDUP_8M_TUNE_PROBE.json) while the recompute alternative
    # is ONE bounded extra n·√k assign pass (45 s at 8M). When the
    # caller's row-count hint proves the frame over the budget, skip
    # the cache and let the census + chunk-pair join each derive the
    # (deterministic) assign; hint absent or small: persist. The dim
    # is the fitted centroids' own, so no dim hint is needed.
    dim = len(cents[0]) if cents else 0
    if (
        n_hint is not None
        and n_hint * m * (dim * 8 + 48) > SEMDEDUP_BLOCKS_PERSIST_MAX_BYTES
    ):
        blocks = assign_frame
    else:
        blocks = track_persist(assign_frame)
    # Chunk-pair parallelism: one task per BLOCK serializes on a
    # skewed cluster (measured: a straggler block pinned the 300k
    # probe arm to one core for 15+ min while 31 sat idle). Blocks
    # larger than TARGET_CHUNK rows are hash-split into c chunks and
    # every chunk PAIR (ca ≤ cb) becomes its own task: the Σ|block|²
    # pair work is unchanged but spreads over c(c+1)/2 tasks. Price:
    # each row of an oversized block replicates c times into the
    # block's chunk-pair groups (c = ⌈s/TARGET⌉ — the shuffle grows
    # only for blocks that need the parallelism; c=1 blocks pay
    # nothing). Right-sized blocks (k ∝ n) keep c=1 everywhere and
    # this is a no-op. The scorer exchange keeps AQE's byte-based
    # width: here the blocks carry real bytes (≥ MBs per block) and
    # coalescing yields well-sized multi-block tasks, while pinning
    # one task per block was measured as a tiny-task regression at
    # the 8M rung (k=8080 single-block tasks: e2e 1353 s vs the
    # AQE-width 542 s, SEMDEDUP_8M_TUNE_PROBE.json).
    sizes = blocks.groupBy("block").agg(F.count(F.lit(1)).alias("s"))
    chunks = sizes.select(
        "block",
        F.greatest(F.lit(1), F.ceil(F.col("s") / SEMDEDUP_TARGET_CHUNK))
        .cast("int")
        .alias("c"),
    )
    chunked = (
        blocks.join(F.broadcast(chunks), "block")
        .withColumn("ch", F.pmod(F.xxhash64("id"), F.col("c")).cast("int"))
        .withColumn("other", F.explode(F.expr("sequence(0, c - 1)")))
        .select(
            "block",
            "id",
            "qv",
            "ch",
            F.least("ch", "other").alias("ca"),
            F.greatest("ch", "other").alias("cb"),
        )
    )
    scored = chunked.groupBy("block", "ca", "cb").applyInPandas(
        _block_scorer(threshold), schema=_PAIR_SCHEMA
    )
    return _pairs_above(scored, threshold)


def _pairs_above(scored: DataFrame, threshold: float) -> DataFrame:
    """The Spark-side decision over scorer rows: exact fixed-point
    :func:`cosine`, the threshold, and one row per pair across the
    blocks both vectors probed."""
    return (
        scored.select(
            "id_a",
            "id_b",
            cosine(F.col("dot"), F.col("n2_a"), F.col("n2_b")).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def _semdedup_one_task(
    base: DataFrame,
    cents: list[list[int]],
    m: int,
    ratio: float | None,
    threshold: float,
) -> DataFrame:
    """:func:`semdedup_pairs` for a corpus that fits one scorer chunk,
    as one ``mapInArrow`` task over ``base.coalesce(1)``: the top-m
    assign kernel (:func:`_assign_rows`, the same blocks as
    :func:`kmeans_assign_topm`), then every block's upper triangle
    through the :func:`_block_scorer` core. The centroid index rides
    in the closure. Emits the scorer's (id_a, id_b, dot, n2_a, n2_b)
    rows; the coalesced single partition also satisfies the
    ``distinct`` that follows, so the whole action is one job of one
    task."""
    import numpy as np

    frac = None if ratio is None else _snap_ratio(ratio)
    index = _assign_index(cents)
    pairs = _pair_scorer(threshold)

    def run(batches):
        import pyarrow as pa

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        ids = tbl.column("id").to_numpy()
        q = _decode_qv(tbl.column("qv").combine_chunks())
        row, block, _d2 = _assign_rows(q, index, m, frac)
        by_block = np.argsort(block, kind="stable")
        row, block = row[by_block], block[by_block]
        cuts = np.flatnonzero(np.diff(block)) + 1
        for members in np.split(row, cuts):
            qm = q[members]
            cols = pairs(ids[members], qm, ids[members], qm, True)
            if cols is not None:
                yield pa.RecordBatch.from_arrays(
                    cols, names=list(_PAIR_COLS)
                )

    return base.coalesce(1).mapInArrow(run, schema=_PAIR_SCHEMA)


#: Tile budget for the per-block GEMM: ≤ 2^24 f64 cells (128 MiB)
#: per partial product, so a skewed block degrades to more tiles,
#: never to an OOM-sized matrix.
_GEMM_TILE_CELLS = 1 << 24

#: Rows per GEMM chunk: a block bigger than this splits into chunk
#: pairs so no single task owns more than ~TARGET² /2 ≈ 3.4e7 pair
#: scores (~1 s of GEMM) — the straggler bound for skewed clusters.
SEMDEDUP_TARGET_CHUNK = 8192

#: Byte budget above which semdedup_pairs stops persisting the
#: blocks frame and recomputes the assign per consumer instead
#: (round 14, guide §5). The frame is n·m·(dim·8 + ~48 B overhead);
#: at the 8M-vector rung that is ~17 GB, which displaced execution
#: memory until the default-heap (8 g) end-to-end run died with JVM
#: heap OOM + crashed Python workers (SEMDEDUP_8M_TUNE_PROBE.json)
#: — while the recompute alternative is one bounded extra n·√k
#: assign pass (45 s at 8M, measured). 2 GiB keeps the cache well
#: under the default heap's storage share; override via env for
#: bigger executors (production fleets size this to executor
#: storage memory, not to this sandbox's 8 g).
SEMDEDUP_BLOCKS_PERSIST_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_SEMDEDUP_PERSIST_MAX_BYTES", 2 << 30)
)


#: Output columns of the block scorer, and their Spark schema.
_PAIR_COLS = ("id_a", "id_b", "dot", "n2_a", "n2_b")
_PAIR_SCHEMA = ", ".join(f"{c} long" for c in _PAIR_COLS)


def _block_scorer(threshold: float):
    """Per-chunk-pair pairwise scorer for :func:`semdedup_pairs` — a
    tiled numpy GEMM over quantized vectors, run behind
    ``applyInPandas`` (Arrow-batched; one task per (block, ca, cb)
    chunk pair — ca == cb scores the within-chunk upper triangle,
    ca < cb the full cross rectangle, so every block pair is emitted
    exactly once before the cross-probe distinct()).

    Why Python here when the engine's rule is JVM-first: SemDeDup's
    within-block scoring IS a dense matrix product (the paper's own
    implementation is batched GEMM), and the measured gap is
    decisive — the r07 join+higher-order-fold spelling scored 1.4M
    candidate pairs/s (2.3M with pre-quantized arrays; the unrolled
    64-term sum was WORSE at 0.4M — it falls out of codegen), which
    priced the 1M-vector probe arm at ~10 hours; BLAS GEMM does the
    same exact arithmetic orders of magnitude faster and never
    materializes the s² pair rows in the join machinery at all. The
    shuffle moves each vector m times (the blocking), not the pair
    mass — strictly less wire than the join spelling.

    Exactness is NOT sacrificed. The scorer runs two passes:
    pass 1 is a float64 GEMM over the row-normalized vectors, kept
    where its cosine clears ``threshold − 1e-9``; pass 2 recomputes
    the survivors' dots in int64 (``einsum``, exact to 2^63 at any
    coordinate scale) and only then applies the upper-triangle mask.
    Pass 1's rounding error is ~dim·eps (≈1e-14 at dim 64) whatever
    the coordinates' magnitude, far below the 1e-9 slack, so its
    survivors are a superset of every pair the Spark-side
    :func:`cosine` + threshold keeps. The emitted (dot, n2_a, n2_b)
    are the SAME int64s the JVM fold produces, and the cosine +
    threshold decision still happens Spark-side — so the
    rounding/tiebreak contract pinned by tests is unchanged.
    """
    import numpy as np

    pairs = _pair_scorer(threshold)

    def _prep(pdf, mask):
        ids = pdf["id"].to_numpy()[mask]
        q = (
            np.stack(pdf["qv"].to_numpy()[mask])
            .astype(np.int64, copy=False)
            if mask.any()
            else np.empty((0, 1), np.int64)
        )
        order = np.argsort(ids, kind="stable")
        return ids[order], q[order]

    def score(key, pdf):
        import pandas as pd

        ca, cb = int(key[1]), int(key[2])
        ch = pdf["ch"].to_numpy()
        ids_a, qa = _prep(pdf, ch == ca)
        if ca == cb:
            cols = pairs(ids_a, qa, ids_a, qa, True)
        else:
            ids_b, qb = _prep(pdf, ch == cb)
            cols = pairs(ids_a, qa, ids_b, qb, False)
        if cols is None:
            cols = [np.empty(0, np.int64)] * len(_PAIR_COLS)
        return pd.DataFrame(dict(zip(_PAIR_COLS, cols)))

    return score


def _pair_scorer(threshold: float):
    """Array core of :func:`_block_scorer`: ``pairs(ids_a, qa, ids_b,
    qb, triangle)`` scores the quantized rows ``qa`` (int64, with ids
    ``ids_a``) against ``qb`` — the upper triangle of ``qa`` against
    itself when ``triangle`` — and returns the ``(id_a, id_b, dot,
    n2_a, n2_b)`` int64 columns of every pair that clears the
    pre-filter, with id_a < id_b, or None when none does. The
    chunk-pair scorer and the one-task path of :func:`semdedup_pairs`
    both call it."""
    import numpy as np

    slack = threshold - 1e-9

    def _unit(q, n2):
        """Row-normalized float64 image; a zero vector stays zero, so
        its cosines are 0 and it only survives a threshold ≤ 1e-9
        (the Spark-side cosine of a zero norm is null and drops it)."""
        n = np.sqrt(n2.astype(np.float64))
        inv = np.divide(1.0, n, out=np.zeros_like(n), where=n > 0)
        return q * inv[:, None]

    def pairs(ids_a, qa, ids_b, qb, triangle):
        if len(ids_a) == 0 or len(ids_b) == 0 or (
            triangle and len(ids_a) < 2
        ):
            return None
        n2a = np.einsum("ij,ij->i", qa, qa)  # int64, exact
        n2b = (
            n2a if triangle else np.einsum("ij,ij->i", qb, qb)
        )
        ua = _unit(qa, n2a)
        ub = ua if triangle else _unit(qb, n2b)
        rows = max(1, _GEMM_TILE_CELLS // len(ids_b))
        out = []
        for i0 in range(0, len(ids_a), rows):
            i1 = min(i0 + rows, len(ids_a))
            # pass 1: float64 cosines, off by ~dim·eps ≪ the slack
            hit = ua[i0:i1] @ ub.T >= slack  # (i1-i0) × len(ids_b)
            ii, jj = np.nonzero(hit)
            ii += i0
            if triangle:
                # upper triangle: column index > absolute row index
                up = jj > ii
                ii, jj = ii[up], jj[up]
            if len(ii) == 0:
                continue
            # pass 2: exact int64 dots for the survivors only
            dots = np.einsum("ij,ij->i", qa[ii], qb[jj])
            a_id, b_id = ids_a[ii], ids_b[jj]
            a_n2, b_n2 = n2a[ii], n2b[jj]
            # normalize so id_a < id_b (cross-chunk pairs arrive in
            # arbitrary id order; triangle pairs are ordered already)
            swap = a_id > b_id
            out.append(
                (
                    np.where(swap, b_id, a_id),
                    np.where(swap, a_id, b_id),
                    dots,
                    np.where(swap, b_n2, a_n2),
                    np.where(swap, a_n2, b_n2),
                )
            )
        if not out:
            return None
        return [np.concatenate(x) for x in zip(*out)]

    return pairs
