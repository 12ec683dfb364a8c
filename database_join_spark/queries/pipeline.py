"""LLM-data-pipeline EXT operators (SURVEY.md §2.2, #27–#30 plus the
mandated dedup/similarity/multimodal/text extensions).

None of these exist in the reference (its data model is two uint32
tables, ``q4112.h:13-41``); they generalize its machinery — hash
partitioning (``q4112.c:110-115``) becomes LSH banding/bucketing,
the PK-uniqueness contract (``q4112.h:14-15``) becomes exact dedup —
onto the ``documents`` / ``embeddings`` fixtures.

Scale posture (100 TB): every dedup/similarity path is either
(a) a single hash shuffle keyed on a small derived key (fingerprint,
LSH bucket) with payloads left behind, or (b) explicitly labeled the
O(n²) validation baseline and excluded from the bench set. No Python
in any hot loop except the Arrow-batched multimodal extractor, whose
work is embarrassingly parallel and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from database_join_spark.catalog import table
from database_join_spark.operators import dedup as D
from database_join_spark.operators import multimodal as M
from database_join_spark.operators import similarity as S
from database_join_spark.operators import text as T
from database_join_spark.queries import query
from database_join_spark.session import track_persist as _track_persist

#: Near-dup decision threshold shared by the exact-Jaccard baseline and
#: both approximate paths (the sf fixtures plant dup pairs ≥0.8; the
#: background pair mass sits <0.2, so 0.6 separates cleanly).
JACCARD_THRESHOLD = 0.6
SHINGLE_N = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


def _size_exchanges(
    spark: SparkSession,
    sf_dir: str,
    rows_per_task: int | None = None,
    path=None,
) -> None:
    """Size the session's shuffle partitions for a heavy
    documents-table query (VERDICT r11 #4 — the calibrated rule had
    no product callers): cached parquet-footer row count × the
    table's MEASURED mean tokens per doc, through
    :func:`plans.sizing.shuffle_partitions_for`. The dominant
    exchanges here — ExactSubstr's window-key groupBy and MinHash's
    shingle/signature shuffle — carry ~one row per token position
    per doc, so tokens/doc IS the fan-out multiplier; until round 13
    it was a constant 93 calibrated on the probe corpus
    (PIPELINE_SCALE_PROBE.json's geometry), which under-sized the
    exchange by exactly the length ratio on longer-document corpora
    (VERDICT r12 #3). Both statistics come from the catalog (row
    count from parquet footers, tokens/doc from a 10k-doc sampled
    scan, each paid once per table version). At fixture scale the
    rule lands exactly on the session default (floor = cores) —
    gate plans unchanged; past ~1M docs it scales the exchange with
    the input, which the r11 sweep measured at 1.5×-and-growing
    when left at the default."""
    from pathlib import Path

    from ..plans.stats import (
        mean_tokens_per_doc_cached,
        sized_shuffle_for_table,
    )

    table_dir = f"{sf_dir.rstrip('/')}/documents.parquet"
    if not Path(table_dir).exists():
        return
    rows_per_doc, _ = mean_tokens_per_doc_cached(spark, table_dir, path=path)
    sized_shuffle_for_table(
        spark,
        table_dir,
        rows_per_input_row=rows_per_doc,
        rows_per_task=rows_per_task,
        path=path,
    )


# --------------------------------------------------------------------------
# 27. dedup_exact — exact near-dup grouping by token-set fingerprint
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {T.FINGERPRINT_DUCK.format(c="text")} AS fp
      FROM documents
    )
    SELECT fp,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS group_size
    FROM fp GROUP BY fp
    """,
    bench=True,
    tags=("pipeline", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical survivor (min doc_id) per fingerprint.

    The fingerprint (md5 of the sorted token set, operators/text.py) is
    the dedup key; survivor choice is deterministic min-id — unlike
    ``dropDuplicates``, whose arbitrary-row semantics can't pass an
    order-insensitive hash gate. One shuffle of (fp, doc_id) pairs:
    at 100 TB the payload text never moves, only 16-byte keys + ids.
    Generalizes the reference's PK-uniqueness contract (q4112.h:14-15)
    from 'assume unique' to 'make unique'.
    """
    fp = _docs(spark, sf_dir).select(
        "doc_id", T.fingerprint("text").alias("fp")
    )
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


# --------------------------------------------------------------------------
# 27b. dedup_exact_survivors — full-row dedup via the window operator
# --------------------------------------------------------------------------
@query(
    "dedup_exact_survivors",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang, source,
             {T.FINGERPRINT_DUCK.format(c="text")} AS fp
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fp
    )
    SELECT lang, source, COUNT(*) AS n_unique
    FROM r WHERE rn = 1
    GROUP BY lang, source
    """,
    tags=("pipeline", "dedup"),
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving-row counts per (lang, source) after exact dedup.

    Exercises the reusable ``operators.dedup.dedup_exact`` window
    operator (row_number over the dedup key) with payload columns
    riding along — the shape a real corpus-dedup job has.
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source", T.fingerprint("text").alias("fp")
    )
    survivors = D.dedup_exact(docs, ["fp"], "doc_id")
    return survivors.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_unique")
    )


# --------------------------------------------------------------------------
# 28a. dedup_ngram_jaccard — exact O(n²) baseline (validation only)
# --------------------------------------------------------------------------
_SH_DUCK = D.shingles_duck("text", SHINGLE_N)

@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_SH_DUCK} AS sh FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / NULLIF(CAST(len(a.sh) + len(b.sh)
                    - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 0.0)
             AS jac
    FROM s a JOIN s b
      ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / NULLIF(CAST(len(a.sh) + len(b.sh)
                   - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 0.0)
          >= {JACCARD_THRESHOLD}
    """,
    tags=("pipeline", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force n-gram Jaccard near-dup pairs (exact baseline).

    ALL pairs (no blocking), exact 3-gram-shingle Jaccard, threshold
    0.6. This is O(n²) — NOT a 100 TB operator; it exists as the
    ground truth that pins the recall of the MinHash and SimHash scale
    paths (SURVEY §7.4 risk 4); deliberately unblocked so the ground
    truth includes cross-language planted dups. The single double
    division of two exact ints is bit-identical across engines, and
    the oracle mirrors Spark's NULL guard on an empty union (docs
    with <3 tokens) — without it DuckDB computes 0/0 = NaN, orders
    NaN above every threshold, and keeps pairs Spark drops
    (ADVICE r01).
    """
    s = (
        _docs(spark, sf_dir)
        .select("doc_id", T.tokens("text").alias("toks"))
        .select(
            "doc_id", D.shingles_from_tokens("toks", SHINGLE_N).alias("sh")
        )
    )
    a, b = s.alias("a"), s.alias("b")
    jac = D.jaccard("a.sh", "b.sh")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("jac"),
        )
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------------------
# 28a'. dedup_clusters — connected components over the near-dup graph
# --------------------------------------------------------------------------
@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT doc_id, {_SH_DUCK} AS sh FROM documents
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / NULLIF(CAST(len(a.sh) + len(b.sh)
                     - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 0.0)
            >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM p
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
    tags=("pipeline", "dedup"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the
    verified near-dup pair graph (doc_id → cluster_id = min id in
    the component).

    The step a production corpus dedup needs BETWEEN pair-finding and
    row-filtering: pairs (a,b),(b,c) must retire b and c together,
    which per-pair survivor logic gets wrong. Pairs here come from
    the exact Jaccard baseline so DuckDB can oracle the whole
    pipeline (transitive closure via recursive CTE); at corpus scale
    the input is dedup_minhash's verified pairs — same schema, same
    clustering (operators/dedup.py connected_components, label
    propagation with per-round localCheckpoint).
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    return D.connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("cluster_id")
    )


# --------------------------------------------------------------------------
# 28b. dedup_minhash — MinHash-LSH near-dup (the scale path)
# --------------------------------------------------------------------------
@query("dedup_minhash", bench=True, tags=("pipeline", "dedup", "no-oracle"))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact Jaccard re-verification.

    shingle → 32-slot MinHash → 16 bands × 2 rows → bucket self-join →
    exact Jaccard only on candidates. The bucket join shuffles (band,
    bucket, id) triples — payloads stay put — so the cost is ~linear
    in the duplicate mass instead of O(n²): the 100 TB path. xxhash64
    seeds make signatures deterministic with no RNG state (same trick
    as the reference's hash-partitioned FM bitmaps, q4112.c:110-115).
    b=16/r=2 puts the S-curve threshold at (1/16)^(1/2)≈0.25, i.e.
    P(candidate | J=0.6) ≈ 1-(1-0.36)^16 ≈ 0.999 — high recall at the
    decision threshold; exact verification then restores precision.
    No DuckDB oracle (xxhash64 is Spark-specific); correctness is
    pinned by tests/test_pipeline.py recall-vs-baseline on the planted
    fixtures.
    """
    _size_exchanges(spark, sf_dir)
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", T.tokens("text").alias("toks"))
        .select(
            "doc_id", D.shingles_from_tokens("toks", SHINGLE_N).alias("sh")
        )
        # Shingle + hash-to-int64 is the expensive linear pass and
        # this plan uses its output three times (signatures + both
        # verification sides): materialize it ONCE, as int64 hashes
        # rather than shingle strings — the int arrays are ~2-3×
        # smaller to cache and Jaccard over them is long-equality
        # instead of string-equality (distinct shingles stay distinct
        # under xxhash64 up to a ~2^-64 per-pair collision — far
        # below the LSH path's own false-negative rate). At cluster
        # scale this is a persisted/checkpointed signature-input
        # table. Released at the next query's entry
        # (session.track_persist).
        .select("doc_id", D.shingle_hashes("sh").alias("hs"))
        .transform(_track_persist)
    )
    cand = D.lsh_candidate_pairs(
        docs,
        id_col="doc_id",
        shingle_col="hs",
        num_hashes=32,
        bands=16,
        prehashed=True,
    )
    # Verification payloads attach via the semi-filtered pair join
    # (operators/dedup.py pair_payloads): only candidate docs'
    # hashed shingles ever move, and no size estimate is trusted with
    # the full shingle table (measured 1M-doc broadcast abort
    # otherwise). Exact Jaccard runs on the hashed sets — identical
    # to string-set Jaccard absent a 64-bit collision.
    return (
        D.pair_payloads(docs, cand, id_col="doc_id", payload_col="hs")
        .select("id_a", "id_b", D.jaccard("hs_a", "hs_b").alias("jac"))
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------------------
# 28c. dedup_simhash — SimHash near-dup (single-signature scale path)
# --------------------------------------------------------------------------
@query(
    "dedup_simhash",
    tags=("pipeline", "dedup", "no-oracle"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature, chunk-bucketed
    Hamming join (pigeonhole blocking).

    One 64-bit signature per doc (operators/dedup.py simhash). The
    signature splits into 4 × 16-bit chunks; each doc lands in 4
    buckets keyed by (chunk_id, chunk_value), candidates are pairs
    sharing ANY bucket, and candidates are verified with
    bit_count(xor) ≤ 12. Pigeonhole: a pair within hamming ≤ 3 has
    ≥1 untouched chunk → guaranteed candidate; higher distances are
    caught with high probability (4 flipped bits must hit 4 distinct
    chunks to escape). At 100 TB this shuffles (8-byte signature +
    id) × 4 — payloads never move. No oracle (xxhash64); pinned by
    recall tests vs the exact baseline.
    """
    # coalesce is identity here (the signature fold always yields a
    # value, even for empty docs) but marks the column NON-NULLABLE,
    # so the self-join's inferred isnotnull(cval) constraint folds
    # away instead of re-inlining the whole signature fold as a
    # per-row filter — a second signature pass (round 10; same
    # constraint-inference trap as topic_kmeans's shell join)
    sig = _docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce(D.simhash("text"), F.lit(0).cast("long")).alias(
            "sig"
        ),
    )
    chunks = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.expr(
                            f"shiftrightunsigned(sig, {16 * c}) & 65535"
                        ).alias("cval"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cb"),
    ).select("doc_id", "sig", "cb.chunk", "cb.cval")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.expr("bit_count(a.sig ^ b.sig)").cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 12)
    )


# --------------------------------------------------------------------------
# 29a. simsearch_embed — exact brute-force cosine top-k
# --------------------------------------------------------------------------
_N_QUERIES = 8
_TOP_K = 5
#: DuckDB spelling of the operators/similarity.py int64 fixed-point
#: quantization: floor(x·10⁷) → BIGINT (see QUANT_SCALE there). A
#: 64-dim dot of quantized coords is ≤ ~6.4e15 < 2^53, so the final
#: BIGINT→DOUBLE cast is exact in both engines.
_Q_DUCK = "CAST(floor(CAST({x} AS DOUBLE) * 10000000.0) AS BIGINT)"
_DOT_DUCK = (
    f"SUM({_Q_DUCK.format(x='qv[i]')} * {_Q_DUCK.format(x='cv[i]')})"
)
_N2_DUCK = (
    "list_sum(list_transform({v}, x -> "
    + _Q_DUCK.format(x="x")
    + " * "
    + _Q_DUCK.format(x="x")
    + "))"
)

@query(
    "simsearch_embed",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {_N2_DUCK.format(v="embedding")} AS q_n2
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {_N2_DUCK.format(v="embedding")} AS c_n2
      FROM embeddings
    ),
    dots AS (
      SELECT query_id, neighbor_id, ANY_VALUE(q_n2) AS q_n2,
             ANY_VALUE(c_n2) AS c_n2, {_DOT_DUCK} AS dot
      FROM q CROSS JOIN c CROSS JOIN range(1, 65) t(i)
      WHERE query_id != neighbor_id
      GROUP BY query_id, neighbor_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND(CAST(dot AS DOUBLE)
               / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(c_n2 AS DOUBLE))),
               9) AS cos_sim
      FROM dots
    )
    SELECT query_id, rnk, neighbor_id, cos_sim FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id)
               AS rnk
      FROM scored
    ) WHERE rnk <= {_TOP_K}
    """,
    bench=True,
    tags=("pipeline", "similarity"),
)
def simsearch_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over the embeddings corpus (brute baseline).

    Query set = vec_id < 8, k = 5. Dot products and norms fold in
    DECIMAL (exact, associative → partition-order-independent and
    bit-identical to the DuckDB oracle, FIXTURES.md rule 2 applied to
    vectors); one double division at the end. The corpus side stays
    partitioned; only the 8 queries broadcast — at 100 TB the same
    plan holds with per-partition top-k pruning before the final
    window (operators/similarity.py).
    """
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.brute_force_topk(emb, queries, k=_TOP_K)
    return out


# --------------------------------------------------------------------------
# 29b. simsearch_lsh — ANN via random-hyperplane LSH buckets
# --------------------------------------------------------------------------
@query(
    "simsearch_lsh",
    tags=("pipeline", "similarity", "no-oracle"),
)
def simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN cosine top-k via multi-table random-hyperplane LSH.

    8 independent tables × 4 bits (tuned for the 500-vector fixture's
    weak cluster structure; corpus scale raises bits with |corpus|) →
    bucket join per table → union of candidates → exact rescoring.
    Recall < 1 by construction; tests pin recall@5 against the exact
    baseline on fixtures. No DuckDB oracle (xxhash64-derived
    hyperplanes); driver records rows-only.
    """
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.lsh_topk(emb, queries, k=_TOP_K, bits=4, tables=8, dim=64)


# --------------------------------------------------------------------------
# 29c. simsearch_ivf — ANN via IVF coarse quantization (KMeans cells)
# --------------------------------------------------------------------------
@query(
    "simsearch_ivf",
    tags=("pipeline", "similarity", "no-oracle"),
)
def simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN cosine top-k via IVF: seeded KMeans cells, n_probe=4 of 16.

    The inverted-file alternative to simsearch_lsh (the task's 'IVF
    or LSH' pair): a trained coarse quantizer beats data-oblivious
    hyperplanes when the corpus clusters. No oracle (KMeans is
    iterative/approximate); recall@5 floor vs the brute baseline in
    tests/test_pipeline.py.
    """
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return S.ivf_topk(
        emb, queries, k=_TOP_K, n_centroids=16, n_probe=4
    )


# --------------------------------------------------------------------------
# 29b'. simsearch_lsh_stored / 29c'. simsearch_ivf_stored — the ANN
# operators' documented 100 TB posture as first-class query ids
# (VERDICT r08 #4): build the corpus-side index state ONCE, write it
# as a parquet table, and answer the query batch from the STORED
# state. ANN_PROBE.json measured these as the winning arms (stored-
# LSH 3.28× over brute force at 1M/20q, 11.8× at 200q); pytest pins
# result-parity with the inline twins, so the driver's rows-only
# check plus the parity pin covers the whole path: build → parquet
# round trip (fingerprint metadata included) → pruned read → query.
# --------------------------------------------------------------------------
def _ann_store_dir(sf_dir: str) -> str:
    """Deterministic per-fixture scratch location for the stored ANN
    index tables. Overwritten on every call (staleness-proof: the
    query ids re-materialize, which at fixture scale costs less than
    a second; a production deployment would write once per corpus
    version and key the location by it, `plans.stats.parquet_table_key`
    style). Deliberately NOT a tempfile.mkdtemp-per-call: the
    returned DataFrame is lazy, so the files must outlive the call."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    # uid in the path (ADVICE r09): a fixed /tmp location is
    # squat-prone on shared hosts and races across users running the
    # same fixtures; same-user concurrent runs still share (documented
    # staleness-proof overwrite above).
    d = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ann_store_u{os.getuid()}",
        tag,
    )
    os.makedirs(d, exist_ok=True)
    return d


@query(
    "simsearch_lsh_stored",
    tags=("pipeline", "similarity", "no-oracle"),
)
def simsearch_lsh_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN cosine top-k answered from a STORED LSH bucket table.

    `lsh_corpus_buckets` (the one-per-corpus signature pass) is
    materialized as parquet and read back; `lsh_topk` validates the
    build fingerprint carried in the stored schema metadata, then
    joins query signatures against the stored buckets — the corpus
    vectors are only touched for exact rescoring of co-bucketed
    candidates. Same knobs as the inline twin `simsearch_lsh`, so
    results are pinned identical (tests/test_pipeline.py). No
    oracle (seeded hyperplanes); driver records rows-only.
    """
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    store = _ann_store_dir(sf_dir) + "/lsh_buckets"
    S.lsh_corpus_buckets(emb, bits=4, tables=8, dim=64).write.mode(
        "overwrite"
    ).parquet(store)
    return S.lsh_topk(
        emb,
        queries,
        k=_TOP_K,
        bits=4,
        tables=8,
        dim=64,
        corpus_buckets=spark.read.parquet(store),
    )


@query(
    "simsearch_ivf_stored",
    tags=("pipeline", "similarity", "no-oracle"),
)
def simsearch_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN cosine top-k answered from a STORED IVF index.

    `ivf_index` (KMeans fit + cell assignment + norms — the
    per-corpus pass) is materialized with ``partitionBy("cell")`` so
    each probe is a partition-pruned scan, centroids as a JSON
    sidecar (the "table metadata"); `ivf_topk` validates the stored
    corpus against the centroid half via the embedded fingerprint
    before answering. Natural per-writer-task file layout kept
    deliberately (IVF_LAYOUT_PROBE.json: compaction starves the
    compute-heavy scoring stage of splits). Same knobs as the inline
    twin `simsearch_ivf`; parity pinned in tests. No oracle
    (iterative KMeans); driver records rows-only.
    """
    import json
    from pathlib import Path

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    store = _ann_store_dir(sf_dir)
    corpus, cents = S.ivf_index(emb, n_centroids=16)
    corpus.write.partitionBy("cell").mode("overwrite").parquet(
        store + "/ivf_cells"
    )
    Path(store, "ivf_centroids.json").write_text(json.dumps(cents))
    stored_cents = [
        (int(c), [float(x) for x in v])
        for c, v in json.loads(
            Path(store, "ivf_centroids.json").read_text()
        )
    ]
    return S.ivf_topk(
        None,
        queries,
        k=_TOP_K,
        n_probe=4,
        index=(spark.read.parquet(store + "/ivf_cells"), stored_cents),
    )


# --------------------------------------------------------------------------
# 29d. dedup_embed_cosine — embedding-cosine near-duplicate pairs
# --------------------------------------------------------------------------
_COS_DUP_THRESHOLD = 0.4

@query(
    "dedup_embed_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding,
             {_N2_DUCK.format(v="embedding")} AS n2
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS qv, b.embedding AS cv,
             a.n2 AS n2a, b.n2 AS n2b
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT id_a, id_b,
             ROUND(CAST((SELECT {_DOT_DUCK}
                         FROM range(1, 65) t(i)) AS DOUBLE)
               / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))),
               9) AS cos_sim
      FROM pairs
    )
    SELECT id_a, id_b, cos_sim FROM scored
    WHERE cos_sim >= {_COS_DUP_THRESHOLD}
    """,
    tags=("pipeline", "dedup", "similarity"),
)
def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (semantic dedup).

    Pairs within the same label block whose quantized-exact cosine
    clears 0.4 (the fixtures' planted semantic dups sit ≥0.4; the
    background mass is far below). Label is the natural blocking key
    here; at corpus scale with no labels the blocking key is the
    multi-table hyperplane LSH bucket from simsearch_lsh — identical
    join shape, payload vectors only move for co-blocked pairs.
    """
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label", "embedding", S.norm2_q7("embedding").alias("n2")
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            S.cosine(
                S.dot_q7("a.embedding", "b.embedding"),
                F.col("a.n2"),
                F.col("b.n2"),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _COS_DUP_THRESHOLD)
    )


# --------------------------------------------------------------------------
# 30a. text_analysis — per-language corpus statistics
# --------------------------------------------------------------------------
@query(
    "text_analysis",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({T.TOKENS_DUCK.format(c="text")})) AS BIGINT)
             AS sum_tokens,
           CAST(SUM(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
             AS sum_bpe_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')))
             AS BIGINT) AS sum_punct,
           CAST(SUM({T.stopword_hits_duck("text", "en")}) AS BIGINT)
             AS sum_stop_hits
    FROM documents GROUP BY lang
    """,
    bench=True,
    tags=("pipeline", "text"),
)
def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token / BPE-ish / punctuation / stopword counts per language.

    All metrics are JVM Catalyst expressions (split, regexp, array
    HOFs — operators/text.py), so the whole query is one
    WholeStageCodegen scan + one tiny group-by exchange on lang:
    linear and shuffle-light at any scale.
    """
    docs = T.with_text_stats(_docs(spark, sf_dir))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_bpe_tokens").alias("sum_bpe_tokens"),
        F.sum("n_punct").alias("sum_punct"),
        F.sum("stop_hits").alias("sum_stop_hits"),
    )


# --------------------------------------------------------------------------
# 30b. text_langid — stopword-overlap language ID, confusion counts
# --------------------------------------------------------------------------
@query(
    "text_langid",
    oracle=f"""
    SELECT lang, {T.predicted_lang_duck("text")} AS predicted,
           COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
    tags=("pipeline", "text"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (actual lang × predicted lang).

    The predictor is the deterministic stopword-argmax heuristic from
    operators/text.py (a real system would put fastText behind a
    pandas UDF; the pipeline shape — one linear scan, group-by on a
    5×6 key domain — is identical).
    """
    docs = _docs(spark, sf_dir)
    return (
        docs.select("lang", T.predicted_lang("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# 30c. text_quality — integer fixed-point quality scores per source
# --------------------------------------------------------------------------
@query(
    "text_quality",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             1000 * {T.stopword_hits_duck("text", "en")}
               // len({T.TOKENS_DUCK.format(c="text")}) AS stop_x1000,
             1000 * len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
               // GREATEST(n_chars, 1) AS punct_x1000
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(stop_x1000) // COUNT(*) AS BIGINT) AS avg_stop_x1000,
           CAST(SUM(punct_x1000) // COUNT(*) AS BIGINT) AS avg_punct_x1000
    FROM per_doc GROUP BY source
    """,
    tags=("pipeline", "text"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality scores: stopword and punctuation ratios in
    integer fixed-point (×1000, floor division).

    Integer-only math end-to-end — the reference's integer-precision
    discipline (4112_project_2.pdf p.3, q4112.c:326) applied to text
    quality so the oracle hash can never drift.
    """
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "source",
        F.expr(
            f"1000 * CAST(size(filter({T.TOKENS_SQL.format(c='text')}, "
            "t -> array_contains(array('the','a','of','and','is'), t))) AS BIGINT) "
            f"DIV size({T.TOKENS_SQL.format(c='text')})"
        ).alias("stop_x1000"),
        (
            F.lit(1000) * T.punct_count("text")
        ).cast("long").alias("p1000"),
        F.greatest(F.col("n_chars"), F.lit(1)).alias("nc"),
    ).withColumn(
        "punct_x1000", F.expr("p1000 DIV nc")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("SUM(stop_x1000) DIV COUNT(*)").cast("long").alias(
            "avg_stop_x1000"
        ),
        F.expr("SUM(punct_x1000) DIV COUNT(*)").cast("long").alias(
            "avg_punct_x1000"
        ),
    )


# --------------------------------------------------------------------------
# 30c'. quality_gopher_rules — rule-based document filter (Gopher/C4 style)
# --------------------------------------------------------------------------
_GR_MIN_WORDS, _GR_MAX_WORDS = 30, 80
_GR_MIN_WLEN, _GR_MAX_WLEN = 4, 10  # mean word length bounds

@query(
    "quality_gopher_rules",
    oracle=f"""
    WITH sig AS (
      SELECT source,
             len(tk) AS n,
             list_sum(list_transform(tk, x -> len(x))) AS sumlen,
             len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
               AS alpha,
             len(list_filter(tk, t -> list_contains(
               ['the', 'a', 'of', 'and', 'is'], t))) AS stop
      FROM (
        SELECT source, {T.TOKENS_DUCK.format(c="text")} AS tk
        FROM documents
      )
    ),
    f AS (
      SELECT source,
             (n < {_GR_MIN_WORDS} OR n > {_GR_MAX_WORDS}) AS f_len,
             (sumlen < {_GR_MIN_WLEN} * n
              OR sumlen > {_GR_MAX_WLEN} * n) AS f_wlen,
             (5 * alpha < 4 * n) AS f_alpha,
             (stop < 1) AS f_stop
      FROM sig
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT f_len AND NOT f_wlen
                          AND NOT f_alpha AND NOT f_stop
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_len,
           CAST(SUM(CASE WHEN f_wlen THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_wlen,
           CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_alpha,
           CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_stop
    FROM f GROUP BY source
    """,
    tags=("pipeline", "text", "quality"),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document filtering in the style of the published
    Gopher/C4 quality heuristics: a document PASSES only if every
    rule holds — word count in [{mn},{mx}], mean word length in
    [{wl},{wh}], ≥80% of tokens contain a letter, and ≥1 English
    stopword hit. Output is the per-source audit a pipeline operator
    needs before dropping data: docs seen, docs passing, and a
    failure count per rule (a doc can fail several).

    All rule arithmetic is INTEGER-exact (mean-word-length bounds as
    ``sumlen >= {wl}*n`` / ``sumlen <= {wh}*n``, the 80% alpha bound
    as ``5*alpha >= 4*n``) — no floating point anywhere, so the
    DuckDB oracle hash can never drift on formatting or summation
    order (same discipline as text_quality).

    100 TB: one scan, per-doc signals are scalar JVM expressions over
    the token array, and the only exchange is the per-source partial
    aggregate (source-cardinality-bounded). Nothing like this exists
    in the reference (two uint32 tables, q4112.h:13-41).
    """
    docs = _docs(spark, sf_dir)
    toks = T.TOKENS_SQL.format(c="text")
    sig = docs.select(
        "source",
        F.expr(f"size({toks})").cast("long").alias("n"),
        F.expr(
            f"aggregate({toks}, 0L, (acc, x) -> acc + length(x))"
        ).alias("sumlen"),
        F.expr(
            f"size(filter({toks}, x -> x rlike '[a-z]'))"
        ).cast("long").alias("alpha"),
        F.expr(
            f"size(filter({toks}, t -> array_contains("
            "array('the','a','of','and','is'), t)))"
        ).cast("long").alias("stop"),
    ).select(
        "source",
        (
            (F.col("n") < _GR_MIN_WORDS) | (F.col("n") > _GR_MAX_WORDS)
        ).alias("f_len"),
        (
            (F.col("sumlen") < _GR_MIN_WLEN * F.col("n"))
            | (F.col("sumlen") > _GR_MAX_WLEN * F.col("n"))
        ).alias("f_wlen"),
        (5 * F.col("alpha") < 4 * F.col("n")).alias("f_alpha"),
        (F.col("stop") < 1).alias("f_stop"),
    )
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (
                ~F.col("f_len")
                & ~F.col("f_wlen")
                & ~F.col("f_alpha")
                & ~F.col("f_stop")
            ).cast("long")
        ).alias("n_pass"),
        F.sum(F.col("f_len").cast("long")).alias("fail_len"),
        F.sum(F.col("f_wlen").cast("long")).alias("fail_wlen"),
        F.sum(F.col("f_alpha").cast("long")).alias("fail_alpha"),
        F.sum(F.col("f_stop").cast("long")).alias("fail_stop"),
    )


quality_gopher_rules.__doc__ = quality_gopher_rules.__doc__.format(
    mn=_GR_MIN_WORDS, mx=_GR_MAX_WORDS, wl=_GR_MIN_WLEN, wh=_GR_MAX_WLEN
)


# --------------------------------------------------------------------------
# 30d. text_winnow — rolling-hash (winnowed) fingerprint dup pairs
# --------------------------------------------------------------------------
@query(
    "text_winnow",
    tags=("pipeline", "text", "dedup", "no-oracle"),
)
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by winnowed rolling-hash fingerprint overlap.

    Each doc → selected fingerprint set (operators/text.py winnowing,
    k=8 chars, window=4); pairs sharing a RARE fingerprint are scored
    by full fingerprint-set Jaccard ≥ 0.5. Blocking key = the
    fingerprint itself (explode + self-join on it), so — like MinHash
    banding — only co-fingerprinted pairs are ever scored and
    payloads never move.

    Ubiquitous fingerprints are excluded from blocking (document
    frequency ≤ 20): a fingerprint shared by d docs yields O(d²)
    candidate pairs, and the fixtures' hottest fingerprints hit 76%
    of the corpus (measured: df=3817 of 5000 at sf0.1 → ~7M pairs
    from ONE fingerprint). Near-dup pairs also share rare
    fingerprints, so the cap costs no recall — the same reason
    search engines drop stopwords from posting-list intersection.
    No oracle (xxhash64); recall pinned vs the exact baseline in
    tests/test_pipeline.py.
    """
    fps = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            T.rolling_kgram_hashes("text", 8).alias("kh"),
        )
        .select(
            "doc_id", T.winnow_from_hashes("kh", 4).alias("fps")
        )
        # released at the next query's entry (session.track_persist)
        .transform(_track_persist)
    )
    exploded = fps.select("doc_id", F.explode("fps").alias("fp"))
    rare = (
        exploded.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 20)
        .select("fp")
    )
    blocked = exploded.join(rare, "fp")
    cand = (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    return (
        D.pair_payloads(fps, cand, id_col="doc_id", payload_col="fps")
        .select(
            "id_a", "id_b", D.jaccard("fps_a", "fps_b").alias("fp_jac")
        )
        .filter(F.col("fp_jac") >= 0.5)
    )


# --------------------------------------------------------------------------
# multimodal_features — binary-column plumbing via Arrow mapInPandas
# --------------------------------------------------------------------------
@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                ELSE 'text-blob' END AS modality,
           CASE doc_id % 3
             WHEN 0 THEN CAST(NULL AS BIGINT)
             WHEN 1 THEN CAST(44 + 2 * (400 + (doc_id % 50) * 10) AS BIGINT)
             ELSE CAST(strlen(text) AS BIGINT) END AS n_bytes,
           CASE WHEN doc_id % 3 = 2 THEN
             CAST(list_sum([ord(text[i]) FOR i IN range(1, strlen(text) + 1)])
                  % 2147483647 AS BIGINT)
           ELSE CAST(NULL AS BIGINT) END AS checksum,
           CASE doc_id % 3
             WHEN 0 THEN '89504e470d0a1a0a'
             WHEN 1 THEN CAST(NULL AS VARCHAR)
             ELSE lower(hex(substr(text, 1, 8))) END AS head_hex,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(4 + doc_id % 13 AS BIGINT) END AS width,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(3 + doc_id % 7 AS BIGINT) END AS height,
           CASE WHEN doc_id % 3 = 1
                THEN CAST(8000 AS BIGINT) END AS sample_rate,
           CASE WHEN doc_id % 3 = 1
                THEN CAST(400 + (doc_id % 50) * 10 AS BIGINT) END AS n_samples
    FROM documents
    """,
    tags=("pipeline", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over opaque binary payloads — now decoding
    REAL binary structure (round 1's decode stubs are retired).

    doc_id mod 3 assigns each document a modality; payloads are real
    PNGs (stdlib encoder: zlib IDAT, CRC-verified chunks) and real
    RIFF/WAVE PCM16 audio (struct) with size parameters derived
    arithmetically from doc_id, plus round 1's UTF-8 text blobs. The
    extractor sniffs magic bytes and parses the actual containers:
    IHDR gives width/height, fmt/data chunks give sample_rate and
    sample count. The DuckDB oracle predicts those decoded values in
    closed form — a decoder that misparses bytes fails the hash gate.
    Zlib-dependent values no SQL engine can recompute (PNG byte
    length) are pinned NULL on both sides. Arrow-batched mapInPandas,
    zero shuffle, linear scan — the 100 TB posture is unchanged.
    """
    payloads = M.attach_multimodal_payload(_docs(spark, sf_dir))
    return M.extract_features(payloads.select("doc_id", "payload"))


# --------------------------------------------------------------------------
# 34. corpus_clean — end-to-end training-corpus cleaning pipeline
# --------------------------------------------------------------------------
_NTOK_DUCK = f"len({T.TOKENS_DUCK.format(c='text')})"

@query(
    "corpus_clean",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, lang, {_NTOK_DUCK} AS n_tokens,
             {T.FINGERPRINT_DUCK.format(c="text")} AS fp,
             {_SH_DUCK} AS sh
      FROM documents
    ),
    elig AS (SELECT * FROM d WHERE n_tokens BETWEEN 20 AND 90),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM elig
    ),
    uniq AS (SELECT doc_id, lang, n_tokens, sh FROM ranked WHERE rn = 1),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM uniq a JOIN uniq b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / NULLIF(CAST(len(a.sh) + len(b.sh)
                     - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 0.0)
            >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM p
    ),
    reach(node, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    cl AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    kept AS (
      SELECT u.lang, u.n_tokens
      FROM uniq u LEFT JOIN cl ON u.doc_id = cl.node
      WHERE cl.node IS NULL OR cl.cluster_id = u.doc_id
    )
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM kept GROUP BY lang
    """,
    tags=("pipeline", "dedup", "text"),
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning: quality gate → exact dedup
    → near-dup cluster retire → per-language kept counts/token mass.

    The composed shape a real pretraining-data job runs nightly,
    verified as ONE oracle so stage interactions (a quality-rejected
    doc must not retire its near-dup twin; a fingerprint survivor must
    still lose to a near-dup cluster minimum) are pinned end-to-end:

    1. quality gate: 20 ≤ whitespace tokens ≤ 90 (drops ~17% of the
       fixture corpus) — per-row filter, fused into the scan;
    2. exact dedup: min-doc_id survivor per token-set fingerprint —
       one shuffle of (16-byte fp, id);
    3. near-dup retire: pairs → connected components
       (operators/dedup.py) → keep each cluster's min id. Pairs here
       come from the exact-Jaccard baseline so DuckDB can oracle the
       whole pipeline; at corpus scale the drop-in pair source is
       dedup_minhash's verified candidates (same schema). The cluster
       map is bounded by duplicate mass → broadcast into the retire
       join;
    4. summary: per-lang counts + kept token mass (exact BIGINT sums).
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        T.token_count("text").alias("n_tokens"),
        T.fingerprint("text").alias("fp"),
        T.tokens("text").alias("toks"),
    )
    elig = docs.filter(F.col("n_tokens").between(20, 90))
    uniq = D.dedup_exact(elig, ["fp"], "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        D.shingles_from_tokens("toks", SHINGLE_N).alias("sh"),
    )
    uniq = _track_persist(uniq)  # read by pair join (×2) + retire join
    a, b = uniq.alias("a"), uniq.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            D.jaccard("a.sh", "b.sh").alias("jac"),
        )
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b")
    )
    clusters = D.connected_components(pairs)  # (id, cluster_id)
    kept = uniq.join(
        F.broadcast(clusters),
        uniq.doc_id == clusters.id,
        "left",
    ).filter(
        F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


# --------------------------------------------------------------------------
# 35. dedup_incremental — new-batch dedup against an existing corpus
# --------------------------------------------------------------------------
@query(
    "dedup_incremental",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang, source,
             {T.FINGERPRINT_DUCK.format(c="text")} AS fp
      FROM documents
    ),
    batch AS (SELECT * FROM f WHERE doc_id % 5 = 0),
    corpus AS (SELECT fp FROM f WHERE doc_id % 5 <> 0),
    fresh AS (
      SELECT b.* FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fresh
    )
    SELECT doc_id, lang, source, fp FROM r WHERE rn = 1
    """,
    tags=("pipeline", "dedup"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit only new-batch docs that are novel
    against the existing corpus AND within their own batch.

    The daily-increment shape of a crawl pipeline: the corpus is
    never re-deduplicated — the new batch (here doc_id % 5 = 0, a
    deterministic ~20% slice standing in for today's arrivals)
    anti-joins the corpus fingerprint store, then exact-dedups
    within itself (min-doc_id survivor). At 100 TB the anti join
    shuffles only (16-byte fp, id) pairs on both sides — corpus
    payloads never move, and the corpus side is read as a
    fingerprint-only columnar projection. Batch-side payload columns
    ride the batch's own (small) shuffle.
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source", T.fingerprint("text").alias("fp")
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select("fp")
    fresh = batch.join(corpus, "fp", "left_anti")
    return D.dedup_exact(fresh, ["fp"], "doc_id").select(
        "doc_id", "lang", "source", "fp"
    )


# --------------------------------------------------------------------------
# 36. embed_quantize — embedding normalization / int8 quantization stats
# --------------------------------------------------------------------------
#: Power-of-two quantization step (1/64): x·64 is EXACT in binary
#: floating point, so floor() sees the same value in every engine —
#: no 1-ulp hazard (the determinism rule behind QUANT_SCALE's floor).
_QSTEP = 64
_Q8_DUCK = (
    f"list_transform(embedding, x -> GREATEST(-127, LEAST(127, "
    f"CAST(floor(CAST(x AS DOUBLE) * {_QSTEP}.0) AS BIGINT))))"
)

@query(
    "embed_quantize",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             len(embedding) AS dim,
             CAST({_N2_DUCK.format(v="embedding")} AS BIGINT) AS norm2_q7,
             {_Q8_DUCK} AS q8
      FROM embeddings
    )
    SELECT vec_id, dim, norm2_q7,
           CAST(len(list_filter(q8, v -> abs(v) = 127)) AS BIGINT)
             AS n_saturated,
           CAST(list_sum(q8) AS BIGINT) AS sum_q8
    FROM q
    """,
    tags=("pipeline", "similarity"),
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-embedding int8 quantization + exact fixed-point norm stats
    — the compression pass an embedding store runs before ANN serving.

    Each vector gets: its dimension, exact squared L2 norm in int64
    fixed-point (floor(x·10⁷) fold — operators/similarity.py
    QUANT_SCALE), and int8 stats at a fixed power-of-two scale (q =
    clamp(floor(x·64), ±127)): saturation count (clipped coordinates
    = information loss) and coordinate sum (bias check). Everything
    is integer or exact-float math, so the oracle hash can never
    drift. Pure per-row Catalyst lambdas: one scan, zero shuffle,
    zero Python — linear at any scale, and the output (4 ints/vector)
    is the compact profile a 100 TB embedding-store audit would
    materialize.
    """
    emb = table(spark, sf_dir, "embeddings")
    q8 = (
        f"transform(embedding, x -> GREATEST(CAST(-127 AS BIGINT), "
        f"LEAST(CAST(127 AS BIGINT), "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * {_QSTEP}.0) AS BIGINT))))"
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        S.norm2_q7("embedding").alias("norm2_q7"),
        F.expr(f"CAST(size(filter({q8}, v -> abs(v) = 127)) AS BIGINT)")
          .alias("n_saturated"),
        F.expr(
            f"aggregate({q8}, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("sum_q8"),
    )


# --------------------------------------------------------------------------
# 37. text_vocab — corpus vocabulary: top-k token frequencies
# --------------------------------------------------------------------------
_VOCAB_K = 50

@query(
    "text_vocab",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({T.TOKENS_DUCK.format(c="text")}) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS freq
    FROM tok GROUP BY token
    ORDER BY freq DESC, token
    LIMIT {_VOCAB_K}
    """,
    tags=("pipeline", "text"),
)
def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-{k} tokens by frequency — the counting
    pass a tokenizer/BPE training job runs over the whole corpus.

    explode(tokens) → count per token → top-k. The plan is the one
    that survives 100 TB: partial (map-side) aggregation collapses
    each partition's token stream to its local vocabulary BEFORE the
    exchange, so the shuffle carries (token, partial_count) pairs
    bounded by vocabulary size — not the token stream; the final
    top-k is TakeOrderedAndProject (per-partition heaps, no global
    sort). Tiebreak on the token string makes the cut deterministic
    across engines.
    """
    toks = _docs(spark, sf_dir).select(
        F.explode(T.tokens("text")).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(_VOCAB_K)
    )


# --------------------------------------------------------------------------
# 37b. bpe_pair_counts — the BPE-training inner loop (top adjacent pairs)
# --------------------------------------------------------------------------
@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH tok AS (
      SELECT {T.TOKENS_DUCK.format(c="text")} AS t FROM documents
    ),
    idx AS (
      SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
      FROM tok WHERE len(t) >= 2
    )
    SELECT t[i] AS a, t[i + 1] AS b,
           CAST(COUNT(*) AS BIGINT) AS freq
    FROM idx GROUP BY a, b
    ORDER BY freq DESC, a, b
    LIMIT {_VOCAB_K}
    """,
    tags=("pipeline", "text"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency count — the inner loop of BPE
    tokenizer training (count all adjacent symbol pairs, merge the
    most frequent, repeat). One iteration over word-level tokens;
    the loop would re-run this query on re-merged arrays.

    Pairs expand map-side from each token array (explode of an index
    sequence + two 1-based element_at — identical construction in
    the oracle so the pair stream is definitionally equal), then the
    same partial-agg + top-k shape as text_vocab: the exchange
    carries (pair, partial_count) bounded by pair vocabulary, never
    the corpus stream, and the top-k is TakeOrderedAndProject with
    an (a, b) tiebreak.
    """
    toks = _docs(spark, sf_dir).select(T.tokens("text").alias("t"))
    pairs = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.expr("explode(sequence(1, size(t) - 1))").alias("i"), "t"
        )
        .select(
            F.expr("element_at(t, i)").alias("a"),
            F.expr("element_at(t, i + 1)").alias("b"),
        )
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "a", "b")
        .limit(_VOCAB_K)
    )


# --------------------------------------------------------------------------
# 38. decontam_ngram — benchmark decontamination by n-gram overlap
# --------------------------------------------------------------------------
_DECON_N = 5  # word n-gram width (real pipelines use 8-13; 5 fits fixtures)
_DECON_MOD = 37  # doc_id % 37 == 0 marks the held-out "benchmark" split

@query(
    "decontam_ngram",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {D.shingles_duck("text", _DECON_N)} AS sh
      FROM documents
    ),
    ev AS (
      SELECT DISTINCT unnest(sh) AS shingle
      FROM sh WHERE doc_id % {_DECON_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, unnest(sh) AS shingle
      FROM sh WHERE doc_id % {_DECON_MOD} <> 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM corpus JOIN ev USING (shingle)
    GROUP BY doc_id
    """,
    tags=("pipeline", "dedup"),
)
def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag corpus documents sharing any
    word 5-gram with a held-out benchmark split (here the deterministic
    doc_id % 37 == 0 slice) — the contamination check every LLM
    training pipeline runs before a benchmark is trusted.

    Scale shape (100 TB corpus, MB-scale benchmark): the benchmark
    side collapses to a DISTINCT shingle set that is tiny relative to
    the corpus, so it is broadcast — the corpus is scanned once, each
    doc's (already-distinct) shingles probe the broadcast hash set,
    and only hits reach the one shuffle (groupBy doc_id), whose
    volume is bounded by contamination mass, not corpus size. No
    pair-wise comparison anywhere.
    """
    docs = _docs(spark, sf_dir)
    # one-step generate: explode the shingle expression in the SAME
    # select (shingles_from_tokens docstring — the two-step
    # alias-then-explode form re-inlines the tokenizer into an
    # inferred pre-Generate filter, measured 19×)
    toks = docs.select("doc_id", T.tokens("text").alias("toks"))
    ev = (
        toks.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select(
            F.explode(
                D.shingles_from_tokens("toks", _DECON_N)
            ).alias("shingle")
        )
        .distinct()
    )
    corpus = toks.filter(F.col("doc_id") % _DECON_MOD != 0).select(
        "doc_id",
        F.explode(D.shingles_from_tokens("toks", _DECON_N)).alias(
            "shingle"
        ),
    )
    return (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


# --------------------------------------------------------------------------
# 38a. decontam_hashed — hashed-shingle two-tier decontamination
# --------------------------------------------------------------------------
@query(
    "decontam_hashed",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {D.shingles_duck("text", _DECON_N)} AS sh
      FROM documents
    ),
    ev AS (
      SELECT DISTINCT unnest(sh) AS shingle
      FROM sh WHERE doc_id % {_DECON_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, unnest(sh) AS shingle
      FROM sh WHERE doc_id % {_DECON_MOD} <> 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM corpus JOIN ev USING (shingle)
    GROUP BY doc_id
    """,
    tags=("pipeline", "dedup", "scale"),
)
def decontam_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with HASHED shingles + exact verify (round
    10): same contract and SAME oracle as ``decontam_ngram``, but
    tier 1 never builds an n-gram string — ``xxhash64`` of the n
    token columns directly (`shingle_hashes_from_tokens`), 8-byte
    longs exploding instead of ~30-byte strings. Hash hits nominate
    CANDIDATE docs (false negatives impossible; false positives ~
    n_grams²/2⁶⁴ plus every true hit); tier 2 re-runs the exact
    string spelling on the candidate docs only, so the result is
    exact while the string construction cost scales with
    CONTAMINATION mass, not corpus mass.

    MEASURED OUTCOME (PIPELINE_E2E_PROBE, 1M docs, two captures):
    no decisive raw-speed win. The stage's original 322 s turned out
    to be the inferred-filter inlining trap (see
    shingles_from_tokens), not string construction — with the trap
    fixed, hash production costs the SAME as string production
    (isolated: within noise per 18.8M shingles), and the tiers land
    in one band: exact 9.5/14.6 s, Bloom 7.0/8.0, this two-tier
    11.7/7.0 across the two captures. The load-bearing claim is the
    NICHE: decontamination against HASH-RELEASED benchmarks (a
    held-out suite published only as n-gram hashes — standard
    practice for proprietary eval sets). Tier 1 runs from hashes
    alone; the plaintext verify tier here exists to keep the
    driver-oracle exactness contract and is skippable in that
    deployment (FP bound ≈ n_grams²/2⁶⁴).
    """
    docs = _docs(spark, sf_dir)
    # every explode below is ONE-STEP (generate the expression in
    # the same select — see shingles_from_tokens docstring for the
    # 19× inferred-filter trap the two-step form pays)
    toks = docs.select("doc_id", T.tokens("text").alias("toks"))
    ev_h = (
        toks.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select(
            F.explode(
                D.shingle_hashes_from_tokens("toks", _DECON_N)
            ).alias("h")
        )
        .distinct()
    )
    # tier-1 stream is (doc_id, hash) ONLY — carrying text through
    # the explode would replicate each doc's full text once per
    # n-gram (measured 1.7× slower than the exact arm before this
    # split); candidates re-join the doc table AFTER the prune, a
    # join bounded by contamination mass
    cand_ids = (
        toks.filter(F.col("doc_id") % _DECON_MOD != 0)
        .select(
            "doc_id",
            F.explode(
                D.shingle_hashes_from_tokens("toks", _DECON_N)
            ).alias("h"),
        )
        .join(F.broadcast(ev_h), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # tier 2: exact string shingles, CANDIDATE docs vs the eval set
    cand_sh = (
        docs.join(cand_ids, "doc_id")
        .select("doc_id", T.tokens("text").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                D.shingles_from_tokens("toks", _DECON_N)
            ).alias("shingle"),
        )
    )
    ev = (
        toks.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select(
            F.explode(
                D.shingles_from_tokens("toks", _DECON_N)
            ).alias("shingle")
        )
        .distinct()
    )
    return (
        cand_sh.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


# --------------------------------------------------------------------------
# 38b. decontam_bloom — bloom-prefiltered decontamination, exact result
# --------------------------------------------------------------------------
@query(
    "decontam_bloom",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {D.shingles_duck("text", _DECON_N)} AS sh
      FROM documents
    ),
    ev AS (
      SELECT DISTINCT unnest(sh) AS shingle
      FROM sh WHERE doc_id % {_DECON_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, unnest(sh) AS shingle
      FROM sh WHERE doc_id % {_DECON_MOD} <> 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM corpus JOIN ev USING (shingle)
    GROUP BY doc_id
    """,
    tags=("pipeline", "dedup"),
)
def decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a Bloom-filter pre-pass: same contract as
    ``decontam_ngram`` (flag corpus docs sharing any word 5-gram with
    the held-out split), but the corpus shingle stream is first
    pruned by a Bloom bitmap built over the eval shingles, and only
    survivors enter the exact semi-join that removes false
    positives. The final result is therefore EXACT and shares
    decontam_ngram's DuckDB oracle.

    The bitmap is pure Catalyst (Spark's internal
    ``bloom_filter_agg``/``might_contain`` runtime-filter expressions
    are not in the public FunctionRegistry): eval shingles hash to a
    bit position (xxhash64 mod 2^17), positions aggregate into 64-bit
    words via ``bit_or``, and the word table collapses to a ONE-ROW
    map broadcast to every task; the probe is two integer ops and an
    ``element_at`` per shingle, inside whole-stage codegen. k=1 is
    the Bloom special case where one hash sets one bit — production
    widths pick k = ln2·m/n hashes; that variant only adds k-way
    word probes to the same plan shape.

    Why this exists at 100 TB: when the eval split's distinct-shingle
    set is large (multi-benchmark suites → 1e8+ shingles), the exact
    broadcast-set probe weighs on every executor; a bitmap at ~16
    bits/key is 1-2 orders smaller than the string hash set and
    filters the corpus stream down to (true hits + ~6% false
    positives) BEFORE any join machinery runs, so the exact verify
    join touches contamination mass, not corpus mass. Same two-tier
    shape as dedup_minhash: cheap approximate prune, exact verify on
    the survivors.
    """
    pre, _corpus, ev, _sizing = _bloom_frames(spark, sf_dir)
    return (
        pre.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def _bloom_frames(spark: SparkSession, sf_dir: str):
    """(pre, corpus, ev, sizing): the bloom-surviving corpus shingle
    stream, the unfiltered stream, the distinct eval shingles, and
    the PrefilterSizing that chose the plan. Estimate-driven since
    round 8: plan_prefilter's HLL passes size the bitmap (≥16
    bits/key, bounded 2^17..2^27) and decide whether the prune pays
    at all — when the eval shingle set covers too much of the corpus
    stream (≥ ~25% survivors) the bitmap tier is dropped and the
    exact verify join runs on the raw stream, which is the same
    exact result at lower cost."""
    docs = _docs(spark, sf_dir)
    # one-step generate (see shingles_from_tokens docstring: the
    # alias-then-explode form pays an inferred filter that re-runs
    # the tokenizer per n-gram position, measured 19×)
    toks = docs.select("doc_id", T.tokens("text").alias("toks"))
    ev = (
        toks.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select(
            F.explode(
                D.shingles_from_tokens("toks", _DECON_N)
            ).alias("shingle")
        )
        .distinct()
    )
    # bitmap build + probe via the shared operator (operators/bloom.py
    # — extracted from this query in round 6 so joins reuse it)
    from database_join_spark.operators import bloom as B

    corpus = toks.filter(F.col("doc_id") % _DECON_MOD != 0).select(
        "doc_id",
        F.explode(D.shingles_from_tokens("toks", _DECON_N)).alias(
            "shingle"
        ),
    )
    from database_join_spark.plans.sizing import plan_prefilter

    sizing = plan_prefilter(corpus, "shingle", ev, "shingle")
    if sizing.apply:
        pre = B.prefilter(
            corpus,
            "shingle",
            B.bitmap_of(ev, "shingle", sizing.bits),
            sizing.bits,
        )
    else:
        pre = corpus
    return pre, corpus, ev, sizing


def _bloom_survivor_counts(spark: SparkSession, sf_dir: str):
    """(survivors, total, sizing) corpus-shingle counts around the
    bitmap — test diagnostic proving the pre-filter prunes, not
    vacuously passes, and that the sizing decision matches."""
    pre, corpus, _ev, sizing = _bloom_frames(spark, sf_dir)
    return pre.count(), corpus.count(), sizing


# --------------------------------------------------------------------------
# 38c. decontam_minhash — cross-corpus NEAR-dup decontamination
# --------------------------------------------------------------------------
@query(
    "decontam_minhash",
    tags=("pipeline", "dedup", "no-oracle"),
)
def decontam_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate decontamination: flag corpus documents that are
    near-copies (exact Jaccard ≥ {thr}) of any held-out benchmark doc
    (doc_id % {mod} == 0 split, as in decontam_ngram). This is the
    third decontamination tier every LLM pipeline runs: exact n-gram
    overlap (decontam_ngram) misses paraphrased/lightly-edited leaks;
    MinHash-LSH catches whole-document near-copies.

    Spelling: one shingle→int64-hash pass over ALL documents
    (materialized once, shared by banding and verification — same
    discipline as dedup_minhash), then BOTH splits run through
    operators.dedup.banded_buckets (32 hashes × 16 bands, S-curve
    threshold ≈0.25 for high recall at J={thr}); candidates come from
    a (band, bucket) equi-join with the benchmark side BROADCAST, and
    exact Jaccard re-verification keeps precision 1.0. Output is one
    row per contaminated corpus doc: (doc_id, n_eval_matches,
    max_jac).

    100 TB shape: the corpus side shuffles only (band, bucket,
    doc_id) triples against a broadcast benchmark bucket table —
    benchmark suites are MB-to-GB scale against a corpus that is not,
    exactly decontam_ngram's asymmetry — and verification payloads
    move only for docs that bucket-collide (the inner broadcast join
    against the candidate doc_ids IS the prune, bounded by
    contamination mass). No all-pairs comparison anywhere. No
    DuckDB oracle (xxhash64 banding is Spark-specific); recall vs the
    exact cross-split Jaccard baseline and precision-by-construction
    are pinned in tests/test_pipeline.py.
    """
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", T.tokens("text").alias("toks"))
        .select(
            "doc_id", D.shingles_from_tokens("toks", SHINGLE_N).alias("sh")
        )
        .select("doc_id", D.shingle_hashes("sh").alias("hs"))
        .transform(_track_persist)
    )
    ev = docs.filter(F.col("doc_id") % _DECON_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _DECON_MOD != 0)
    return decontam_minhash_core(corpus, ev)


def decontam_minhash_core(corpus: DataFrame, ev: DataFrame) -> DataFrame:
    """Core cross-split near-dup flag over pre-hashed ``(doc_id, hs)``
    frames — factored out so the scale probe (DECONTAM_PROBE.json)
    drove the exact operator code on synthetic corpora."""
    kw = dict(
        id_col="doc_id", shingle_col="hs",
        num_hashes=32, bands=16, prehashed=True,
    )
    ev_b = D.banded_buckets(ev, **kw).withColumnRenamed(
        "doc_id", "eval_doc_id"
    )
    cand = (
        D.banded_buckets(corpus, **kw)
        .join(F.broadcast(ev_b), ["band", "bucket"])
        .select("doc_id", "eval_doc_id")
        .distinct()
        .transform(_track_persist)  # read twice: prune join + verify
    )
    ev_hs = ev.select(
        F.col("doc_id").alias("eval_doc_id"), F.col("hs").alias("hs_e")
    )
    # The inner broadcast join on doc_id is itself the payload prune:
    # only bucket-colliding corpus docs ship their signature into the
    # verify stage (a separate left_semi pre-pass would re-broadcast
    # the same ids for no extra filtering — ADVICE r04).
    return (
        corpus.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(ev_hs), "eval_doc_id")
        .select("doc_id", "eval_doc_id", D.jaccard("hs", "hs_e").alias("jac"))
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.max("jac").alias("max_jac"),
        )
    )


decontam_minhash.__doc__ = decontam_minhash.__doc__.format(
    thr=JACCARD_THRESHOLD, mod=_DECON_MOD
)


# --------------------------------------------------------------------------
# 39. pii_scrub — regex PII detection + redaction accounting
# --------------------------------------------------------------------------
#: Patterns restricted to syntax Java regex and RE2 interpret
#: identically (char classes, bounded repeats, \b, \d).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"

#: The fixture corpus is PII-free, so the query plants one email, one
#: IP, and one phone per document (derived from doc_id, identically in
#: both engines) — the scrubber then has real matches to find, and the
#: counts prove the regexes fire rather than vacuously returning 0.
_PII_SUFFIX_SPARK = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), "
    "'@example.com via 10.0.', CAST(doc_id % 256 AS STRING), "
    "'.7 tel 555-867-5309.')"
)
_PII_SUFFIX_DUCK = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "'.7 tel 555-867-5309.'"
)

@query(
    "pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source, {_PII_SUFFIX_DUCK} AS text
      FROM documents
    ),
    scrub AS (
      SELECT source,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
             len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ipv4,
             len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phone,
             length(regexp_replace(regexp_replace(regexp_replace(
               text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                     '{_PII_IPV4}', '<IP>', 'g'),
                     '{_PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_len
      FROM aug
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS emails,
           CAST(SUM(n_ipv4) AS BIGINT) AS ipv4s,
           CAST(SUM(n_phone) AS BIGINT) AS phones,
           CAST(SUM(scrubbed_len) AS BIGINT) AS scrubbed_chars
    FROM scrub GROUP BY source
    """,
    tags=("pipeline", "text"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: detect and redact emails / IPv4s / phone
    numbers, reporting per-source match counts and post-redaction
    sizes — the compliance scrub that runs over every training corpus.

    All three patterns stay inside the Java-regex ∩ RE2 dialect so
    the DuckDB oracle is exact. Catalyst evaluates the whole thing as
    a single narrow projection (regexp_extract_all / regexp_replace
    are codegen'd JVM ops): one corpus scan, zero Python, and the
    only exchange is the final tiny per-source rollup — the shape
    that holds at 100 TB. Redaction uses literal replacement tags, so
    scrubbed_chars additionally pins replacement semantics (Spark
    replaces all occurrences by default; DuckDB needs the 'g' flag —
    a silent divergence if untested).
    """
    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id", "source", F.expr(_PII_SUFFIX_SPARK).alias("text")
    )
    email, ipv4, phone = (F.lit(p) for p in (_PII_EMAIL, _PII_IPV4, _PII_PHONE))
    scrub = aug.select(
        "source",
        F.size(F.regexp_extract_all("text", email, F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all("text", ipv4, F.lit(0))).alias("n_ipv4"),
        F.size(F.regexp_extract_all("text", phone, F.lit(0))).alias("n_phone"),
        F.length(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace("text", email, F.lit("<EMAIL>")),
                    ipv4,
                    F.lit("<IP>"),
                ),
                phone,
                F.lit("<PHONE>"),
            )
        ).alias("scrubbed_len"),
    )
    return scrub.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("long").alias("emails"),
        F.sum("n_ipv4").cast("long").alias("ipv4s"),
        F.sum("n_phone").cast("long").alias("phones"),
        F.sum("scrubbed_len").cast("long").alias("scrubbed_chars"),
    )


# --------------------------------------------------------------------------
# 40. sample_stratified — deterministic per-language downsampling
# --------------------------------------------------------------------------
#: Per-language keep rates as 2-hex-digit md5-prefix ceilings
#: (first byte of md5(doc_id) is uniform on [0,256)): '80' ≈ 50%,
#: '40' ≈ 25%, '20' ≈ 12.5%. Unlisted languages keep ~6%.
_SAMPLE_CEIL = {"en": "80", "es": "40", "fr": "40", "de": "20", "zh": "20"}
_SAMPLE_DEFAULT = "10"

def _sample_case(dialect_str_cast: str) -> str:
    branches = " ".join(
        f"WHEN lang = '{lang}' THEN '{ceil}'"
        for lang, ceil in sorted(_SAMPLE_CEIL.items())
    )
    return (
        f"substr(md5(CAST(doc_id AS {dialect_str_cast})), 1, 2) < "
        f"(CASE {branches} ELSE '{_SAMPLE_DEFAULT}' END)"
    )

@query(
    "sample_stratified",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE {_sample_case("VARCHAR")})
                AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(doc_id)
                FILTER (WHERE {_sample_case("VARCHAR")}), 0)
                AS BIGINT) AS kept_id_sum
    FROM documents GROUP BY lang
    """,
    tags=("pipeline", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus downsampling: per-language target rates
    applied via a content-addressed coin — keep a doc iff the first
    byte of md5(doc_id) falls under the language's ceiling. The
    language-mix rebalancing step of a training-data pipeline.

    Hash-based selection (vs ``df.sample``) is the form that survives
    distribution: the keep decision is a pure function of the row, so
    it is reproducible across engines, runs, partitionings, and
    incremental arrivals — no RNG state, no seed-per-partition drift.
    The hex-prefix comparison sidesteps engine-specific hash-to-int
    casts (md5 prints identical lowercase hex in Spark and DuckDB).
    Plan: one scan, one tiny per-language rollup; the kept_id_sum
    checksum pins the exact kept SET, not just its size.
    """
    keep = F.expr(_sample_case("STRING"))
    return _docs(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(keep).alias("n_kept"),
        F.coalesce(F.sum(F.when(keep, F.col("doc_id"))), F.lit(0))
        .cast("long")
        .alias("kept_id_sum"),
    )


# --------------------------------------------------------------------------
# 40b. sample_weighted — PPS (weighted) corpus sampling, exact arithmetic
# --------------------------------------------------------------------------
#: Inverse target rate: expected sample ≈ rows/10 under flat
#: weights; a doc's actual inclusion probability is w/(10·mean_w),
#: saturating at 1 for docs ≥ 10× the mean weight — so the draw is
#: scale-free (samples at every sf, unlike a fixed row target).
_PPS_INV_RATE = 10
#: Knuth multiplicative constant (public), reused from sample_hash_split.
_PPS_MIX = 2654435761
#: Deterministic per-doc uniform on [0, 2^20): the multiplicative
#: hash's LOW 20 bits — ``x → x·MIX mod 2^20`` is a bijection (MIX
#: odd), so sequential ids map to an equidistributed sequence — pure
#: int64 arithmetic, identical in both engines (no float, no engine
#: RNG; the same per-mille-bucket trick sample_hash_split uses).
#: Products never need the high bits: doc_id·MIX stays inside int64
#: to doc_id ≈ 3.5e9, and only the residue mod 2^20 is kept.
_PPS_U = f"((doc_id * {_PPS_MIX}) % 1048576)"
#: Integer document weight: characters capped at 2000 (a stand-in
#: for any quality/length score — the weight column is the contract,
#: not this particular choice).
_PPS_W = "LEAST(LENGTH(text), 2000)"

@query(
    "sample_weighted",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, {_PPS_W} AS wt,
             {_PPS_U.replace("/", "//")} AS u
      FROM documents
    ),
    tot AS (SELECT SUM(wt) AS tw, COUNT(*) AS n FROM w)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (
                WHERE u * tw * {_PPS_INV_RATE} < n * wt * 1048576)
                AS BIGINT) AS n_sampled,
           CAST(COALESCE(SUM(wt) FILTER (
                WHERE u * tw * {_PPS_INV_RATE} < n * wt * 1048576), 0)
                AS BIGINT) AS sampled_weight,
           CAST(COALESCE(SUM(doc_id) FILTER (
                WHERE u * tw * {_PPS_INV_RATE} < n * wt * 1048576), 0)
                AS BIGINT) AS sampled_id_sum
    FROM w, tot GROUP BY lang
    """,
    tags=("pipeline", "sampling"),
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size (PPS / Poisson) corpus
    sampling: include a document with probability
    ``w/(R·mean_w)`` (R = 10, saturating at 1) where ``w`` is
    its (integer) quality/length weight — the quality-weighted
    downsampling step of a training-data pipeline (keep ~1/R of the
    corpus, tilted toward long/high-quality docs, without a sort or
    a shuffle). A fractional target, not a fixed row count, so the
    same draw samples at every scale factor.

    Spelled in EXACT int64 arithmetic so the kept SET is a pure
    function of the row and bit-identical across engines, runs, and
    partitionings: the per-doc uniform ``u`` is the top 20 bits of a
    Knuth multiplicative hash (no RNG state), and the inclusion test
    ``u·Σw·R < N·w·2^20`` is an integer cross-multiplication of
    ``P(include) = N·w/(R·Σw)`` — no division, no floats, no
    engine-specific rounding. Bounds: u < 2^20, Σw ≤ 2000·N, so the
    left product stays inside int64 to N ≈ 4e8 docs; past that,
    widen to DECIMAL(38,0) with the same comparison.

    Plan: one scan computes weights, one 1-row total broadcast
    (cross join of an aggregate — the scalar-subquery shape), one
    per-language rollup. Expected sample size is Σ min(1, k·w/Σw)
    ≈ k; the ``sampled_id_sum`` checksum pins the exact kept set.
    At 100 TB the total-weight scalar comes from table statistics or
    a first pass, and the draw itself stays a pure map — rows never
    move.
    """
    docs = _docs(spark, sf_dir)
    w = docs.select(
        "doc_id",
        "lang",
        F.expr(_PPS_W).alias("wt"),
        F.expr(f"{_PPS_U.replace('/', ' DIV ')}").alias("u"),
    )
    tot = w.agg(F.sum("wt").alias("tw"), F.count(F.lit(1)).alias("n"))
    keep = F.expr(f"u * tw * {_PPS_INV_RATE} < n * wt * 1048576")
    return (
        w.crossJoin(F.broadcast(tot))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(keep).alias("n_sampled"),
            F.coalesce(F.sum(F.when(keep, F.col("wt"))), F.lit(0))
            .cast("long")
            .alias("sampled_weight"),
            F.coalesce(F.sum(F.when(keep, F.col("doc_id"))), F.lit(0))
            .cast("long")
            .alias("sampled_id_sum"),
        )
    )


# --------------------------------------------------------------------------
# 41. quality_repetition — Gopher-style repetition quality signals
# --------------------------------------------------------------------------
_REP_K = 20

@query(
    "quality_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {T.TOKENS_DUCK.format(c="text")} AS toks
      FROM documents
    ),
    bi AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             [toks[i] || ' ' || toks[i+1]
              for i in range(1, len(toks))] AS bigrams
      FROM toks WHERE len(toks) >= 2
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct * 1000 // n_tokens AS BIGINT)
             AS distinct_x1000,
           CAST((len(bigrams) - len(list_distinct(bigrams))) * 1000
                // len(bigrams) AS BIGINT) AS dup_bigram_x1000
    FROM bi
    ORDER BY dup_bigram_x1000 DESC, distinct_x1000 ASC, doc_id
    LIMIT {_REP_K}
    """,
    tags=("pipeline", "text"),
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scoring (the Gopher/MassiveText rule
    family): per-document distinct-token ratio and duplicated-bigram
    fraction, surfacing the `_REP_K` most repetitive documents —
    boilerplate and generator loops score high and get filtered.

    Both signals are pure Catalyst array lambdas over a materialized
    token column (bigrams via transform/sequence, dedup via
    array_distinct) — per-doc work is linear, there is NO
    explode/groupBy per token, and the only cross-row operation is
    the final top-k (TakeOrderedAndProject: per-partition heaps, no
    global sort). Integer fixed-point ×1000 with DIV keeps values
    engine-exact. The deterministic (score, ratio, doc_id) tiebreak
    makes the cut stable across engines.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", T.tokens("text").alias("toks")
    )
    bi = toks.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ).alias("bigrams"),
    )
    return (
        bi.select(
            "doc_id",
            "n_tokens",
            F.expr("n_distinct * 1000 DIV n_tokens").alias("distinct_x1000"),
            F.expr(
                "(size(bigrams) - size(array_distinct(bigrams))) * 1000 "
                "DIV size(bigrams)"
            ).alias("dup_bigram_x1000"),
        )
        .orderBy(
            F.col("dup_bigram_x1000").desc(),
            F.col("distinct_x1000").asc(),
            F.col("doc_id"),
        )
        .limit(_REP_K)
    )


# --------------------------------------------------------------------------
# 42. pack_sequences — token-budget packing of docs into training rows
# --------------------------------------------------------------------------
_PACK_BUDGET = 512  # tokens per packed training sequence

@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len({T.TOKENS_DUCK.format(c="text")}) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
      FROM toks
    )
    SELECT lang,
           CAST(tok_before // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM cum GROUP BY lang, seq_id
    """,
    tags=("pipeline", "sampling"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (per language, in doc_id
    order) to fixed token-budget training sequences by running token
    count — the batching step that turns a filtered corpus into
    equal-budget training rows. A doc lands in the sequence its
    preceding cumulative token count falls in (contiguous streaming
    packing; first-fit-decreasing is not order-deterministic and so
    not oracle-able).

    Plan: one scan computing token counts (Catalyst HOF), one
    shuffle on the language key for the running-sum window, and the
    group-by reuses that same partitioning (no second exchange). At
    100 TB the window partition key would be (lang, shard) with
    per-shard budgets — the running sum never needs global order,
    only per-shard order, so state stays bounded.

    Skew posture: a running-sum window has no partial prune — every
    row of a partition flows through its one window task, so a
    heavy-hitter language (tests/test_skew_stress.py stresses one
    lang owning 50% of the corpus) serializes that language into a
    single task. Results stay exact (asserted there); the escape
    hatch when one language exceeds a task is exactly the (lang,
    shard) key documented above — per-shard running sums are the
    window analogue of ``operators/skew.py``'s salted two-phase
    aggregation, trading global doc_id order (not required by the
    packing contract) for bounded per-task state.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", T.token_count("text").alias("n_tokens")
    )
    return pack_sequences_frame(toks)


def pack_sequences_frame(
    toks: DataFrame, budget: int = _PACK_BUDGET
) -> DataFrame:
    """Core packing shape over a ``(doc_id, lang, n_tokens)`` frame;
    shared by the fixture query and the skew stress test."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn(
        "tok_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return cum.groupBy(
        "lang",
        F.expr(f"tok_before DIV {budget}").alias("seq_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --------------------------------------------------------------------------
# 43. corpus_mix — domain-mixture reweighting (target weights per source)
# --------------------------------------------------------------------------
#: Target mixture weights in millionths; sources not named share the
#: remainder via the default. Integer millionths keep every rate
#: computation exact and engine-identical (no double rounding).
_MIX_W_X1E6 = {"src0": 300_000, "src1": 200_000}
_MIX_DEFAULT_X1E6 = 26_316  # ≈ 0.5/19 of the corpus for the long tail

def _mix_weight_case() -> str:
    branches = " ".join(
        f"WHEN source = '{s}' THEN {w}"
        for s, w in sorted(_MIX_W_X1E6.items())
    )
    return f"(CASE {branches} ELSE {_MIX_DEFAULT_X1E6} END)"

def _mix_coin(dialect_str_cast: str, conv_expr: str) -> str:
    """Content-addressed coin in [0, 1e6): six md5 hex chars of the
    doc id parsed to an integer. Pure function of the row →
    reproducible across engines, runs, and partitionings."""
    return (
        f"{conv_expr.format(h=f'substr(md5(CAST(doc_id AS {dialect_str_cast})), 1, 6)')}"
        " % 1000000"
    )

_MIX_COIN_SPARK = _mix_coin("STRING", "CAST(CONV({h}, 16, 10) AS BIGINT)")
_MIX_COIN_DUCK = _mix_coin("VARCHAR", "CAST(('0x' || {h}) AS BIGINT)")

@query(
    "corpus_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_src,
             SUM(COUNT(*)) OVER () AS n_total
      FROM documents GROUP BY source
    ),
    rates AS (
      SELECT source, n_src,
             LEAST(1000000, ({_mix_weight_case()} * n_total) // n_src)
               AS rate_x1e6
      FROM counts
    )
    SELECT d.source,
           CAST(MIN(rate_x1e6) AS BIGINT) AS rate_x1e6,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE {_MIX_COIN_DUCK} < rate_x1e6)
                AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(doc_id)
                FILTER (WHERE {_MIX_COIN_DUCK} < rate_x1e6), 0)
                AS BIGINT) AS kept_id_sum
    FROM documents d JOIN rates USING (source)
    GROUP BY d.source
    """,
    tags=("pipeline", "sampling"),
)
def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: hit target per-source weights by
    deterministic subsampling — the mixing step that turns a raw
    crawl into a training mix (oversampled sources cap at keep-all;
    rates are exact integer millionths so both engines compute the
    identical keep set). The kept_id_sum checksum pins WHICH docs
    survive, not just how many.

    Two passes over a two-column projection: a per-source count
    (tiny agg + window for the grand total), then the coin filter
    with the rate table joined back — the rate table has one row per
    source, so it broadcasts at any scale. The md5 coin makes the
    sample stable under repartitioning and incremental arrival, the
    property `df.sample` cannot give (RNG-per-partition).
    """
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    # window the grand total onto the tiny per-source count table
    rates = (
        counts.withColumn("n_total", F.sum("n_src").over(Window.partitionBy()))
        .select(
            "source",
            F.expr(
                f"LEAST(1000000, ({_mix_weight_case()}"
                " * n_total) DIV n_src)"
            ).alias("rate_x1e6"),
        )
    )
    keep = F.expr(_MIX_COIN_SPARK) < F.col("rate_x1e6")
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.min("rate_x1e6").cast("long").alias("rate_x1e6"),
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(keep).alias("n_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("doc_id"))), F.lit(0))
            .cast("long")
            .alias("kept_id_sum"),
        )
    )


# --------------------------------------------------------------------------
# 44. tfidf_terms — distinguishing terms per source (rational TF-IDF)
# --------------------------------------------------------------------------
_TFIDF_K = 5

@query(
    "tfidf_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({T.TOKENS_DUCK.format(c="text")})
             AS term
      FROM documents
    ),
    tf AS (
      SELECT source, term, COUNT(*) AS tf
      FROM tok GROUP BY source, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df,
             (SELECT COUNT(*) FROM documents) AS n_docs
      FROM tok GROUP BY term
    ),
    scored AS (
      SELECT source, term,
             (tf * 1000000 * n_docs) // df AS score_x1e6,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (tf * 1000000 * n_docs) // df DESC, term
             ) AS rn
      FROM tf JOIN df USING (term)
    )
    SELECT source, term, CAST(score_x1e6 AS BIGINT) AS score_x1e6
    FROM scored WHERE rn <= {_TFIDF_K}
    """,
    tags=("pipeline", "text"),
)
def tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k distinguishing terms per source by TF-IDF — the corpus
    profiling step behind mixture design and contamination triage.
    The score is the log-free rational tf · N/df scaled to integer
    millionths: monotone in the classic tf·idf for fixed tf ordering,
    and exact integer math, so ranking (and the driver hash) is
    engine-identical — no libm log whose last ulp could differ.

    One tokenize+explode pass feeds both aggregations: term
    frequency per (source, term) and document frequency per term.
    The df table is one row per distinct term — orders of magnitude
    smaller than the token stream — and joins back on the term key;
    the final per-source top-k is a WindowGroupLimit prune, never a
    full sort. At 100 TB the explode stream shuffles twice (term,
    then source) — both combiner-reduced map-side first.
    """
    tok = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr(T.TOKENS_SQL.format(c="text"))).alias("term"),
        )
    )
    # corpus size as a broadcast 1-row frame — never a driver action
    n_docs = _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .select(
            "source",
            "term",
            F.expr("(tf * 1000000 * n_docs) DIV df").alias("score_x1e6"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score_x1e6").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_K)
        .select("source", "term", "score_x1e6")
    )


# --------------------------------------------------------------------------
# 45. seq_len_hist — token-length histogram in power-of-two buckets
# --------------------------------------------------------------------------
@query(
    "seq_len_hist",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({T.TOKENS_DUCK.format(c="text")}) AS n_tokens
      FROM documents
    )
    SELECT CAST(length(bin(n_tokens)) AS BIGINT) AS bucket_bits,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM toks GROUP BY bucket_bits
    """,
    tags=("pipeline", "text"),
)
def seq_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document token-length histogram in power-of-two buckets — the
    length profile that sizes packing budgets (pack_sequences) and
    truncation limits. The bucket is the binary digit count
    ⌊log₂ n⌋+1, computed as length(bin(n)): pure integer/string ops,
    identical in both engines — deliberately NOT floating log2(),
    whose boundary values could round across engines.

    One scan, one HOF token count per row, one tiny exchange over
    ≤ 64 buckets with map-side partial aggregation. Scale-invariant
    by construction.
    """
    toks = _docs(spark, sf_dir).select(
        T.token_count("text").alias("n_tokens")
    )
    return toks.groupBy(
        F.expr("CAST(length(bin(n_tokens)) AS BIGINT)").alias("bucket_bits")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# 46. dedup_first_event — keyed first-arrival dedup (stateful-dedup twin)
# --------------------------------------------------------------------------
@query(
    "dedup_first_event",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id,
           ts AS first_ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("pipeline", "dedup", "streaming"),
)
def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-arrival dedup per (user, event type): the batch twin of
    streaming ``dropDuplicatesWithinWatermark`` state — keep the
    earliest event per key with an event_id tiebreak so ties are
    deterministic (min_by alone is not). The streaming spelling and
    its equivalence test live in database_join_spark/streaming
    (tests/test_streaming.py).

    One shuffle on the dedup key; the window's row_number(... ) <= 1
    plans as a WindowGroupLimit partial prune, so each map task
    forwards only its local first row per key — the shuffle carries
    ~|keys| rows, not |events|. At 100 TB this is the standard
    keyed-compaction shape (same exchange as the streaming state
    store's key partitioning).

    Skew posture: the partial WindowGroupLimit makes this shape
    skew-IMMUNE, not merely skew-tolerant — a heavy-hitter key
    (tests/test_skew_stress.py plants one user owning 50% of all
    events) is reduced to one row per map task before the exchange,
    so the hot key's reducer receives at most one row per upstream
    partition regardless of its share of the input. No salting is
    needed here; ``operators/skew.py`` remains the escape hatch only
    for aggregations whose partial state is NOT constant-size per
    key per task.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    return first_event_frame(ev)


def first_event_frame(ev: DataFrame) -> DataFrame:
    """Core first-arrival shape over a ``(user_id, event_type,
    event_id, ts)`` frame; shared by the fixture query and the skew
    stress test."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


# --------------------------------------------------------------------------
# 39. dedup_substring — cross-document exact substring dedup (ExactSubstr)
# --------------------------------------------------------------------------
_SUBSTR_K = 8  # token span width (public ExactSubstr uses ~50; 8 fits fixtures)

#: Shared DuckDB oracle for both ExactSubstr span spellings. The SQL
#: computes spans over the window STRING; dedup_substring_hashed runs
#: against the SAME statement because xxhash64 window keys yield the
#: identical span set unless a ~windows²/2⁶⁴ birthday collision fires
#: — which this oracle would then catch as a hash mismatch, making
#: the driver row itself the collision monitor.
_SUBSTR_SPANS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {T.TOKENS_DUCK.format(c="text")} AS t FROM documents
    ),
    posns AS (
      SELECT doc_id, t,
             unnest(range(0, len(t) - {_SUBSTR_K} + 1)) AS pos
      FROM toks WHERE len(t) >= {_SUBSTR_K}
    ),
    wins AS (
      SELECT doc_id, pos,
             array_to_string(t[pos + 1 : pos + {_SUBSTR_K}], ' ') AS win
      FROM posns
    ),
    dup AS (
      SELECT win FROM wins GROUP BY win HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    hits AS (
      SELECT doc_id, pos FROM wins WHERE win IN (SELECT win FROM dup)
    ),
    marks AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(LAG(pos) OVER w, -{_SUBSTR_K + 1})
                            + {_SUBSTR_K} THEN 1 ELSE 0 END AS brk
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM marks
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {_SUBSTR_K} - 1 AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    """

@query(
    "dedup_substring",
    oracle=_SUBSTR_SPANS_ORACLE,
    tags=("pipeline", "dedup"),
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT substring dedup, the publicly documented
    ExactSubstr discipline (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): any ≥k-token span appearing
    verbatim in ≥2 distinct documents is reported, per document, as
    a merged removal span ``[span_start, span_end]`` in token
    positions (0-based, end-inclusive), ready for span excision.

    Spelling: every k-token window (position-tagged, non-distinct —
    :func:`operators.dedup.ngrams_from_tokens` + ``posexplode``)
    flows into ONE groupBy on the window text; a window is duplicated
    iff ``min(doc_id) <> max(doc_id)`` (partial-aggregable — no
    COUNT DISTINCT). Hit positions semi-join back and overlapping-
    or-adjacent covered ranges merge with the classic gaps-and-
    islands pass (lag + running sum) on a second, doc_id exchange.

    100 TB: the first exchange carries (window-key, doc_id, pos) —
    the window STRING here because the DuckDB oracle must compute the
    identical key; production swaps it for ``xxhash64(win)`` (same
    plan, 8-byte keys) and, at trillions of windows where 64-bit
    birthday collisions bite, a (xxhash64(w), xxhash64(w||salt))
    pair — collisions then only ever ADD a span candidate, which the
    optional verbatim re-check removes. The second exchange is
    per-doc and output-bounded. No pair enumeration anywhere: a
    window shared by d docs costs d rows, not d².

    Reference parity: nothing like this exists in the reference (two
    uint32 tables, q4112.h:13-41); it extends the same hash-group
    machinery as dedup_exact onto span granularity.
    """
    _size_exchanges(spark, sf_dir)
    return substring_spans_frame(_docs(spark, sf_dir))


@query(
    "dedup_substring_hashed",
    oracle=_SUBSTR_SPANS_ORACLE,
    tags=("pipeline", "dedup"),
)
def dedup_substring_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr spans keyed by ``xxhash64`` of the window tokens —
    the at-scale spelling of :func:`dedup_substring`, promoted to its
    own driver-gated id (VERDICT r10 #7, the stored-ANN precedent).

    Identical plan shape to dedup_substring, but the window key that
    crosses the wire twice (duplicate groupBy + hit semi-join) is an
    8-byte hash instead of a ~50-byte string: SUBSTR_HASHKEY_PROBE
    measured the span stage 92.8→45.9 s at 1M docs with bit-identical
    span sets. Exactness holds unless a ~windows²/2⁶⁴ birthday
    collision fires; the shared string-key oracle makes every driver
    row a collision check, so a fired collision is a loud hash
    mismatch, never a silent over-excision.

    100 TB: same two-exchange shape as dedup_substring, with the
    first (dominant) exchange's key mass cut ~6×; at trillions of
    windows pair the key with a salted second hash as the docstring
    there records.
    """
    _size_exchanges(spark, sf_dir)
    return substring_spans_frame(_docs(spark, sf_dir), hash_keys=True)


def substring_spans_from_tokens(
    toks_df: DataFrame, hash_keys: bool = False
) -> DataFrame:
    """Merged cross-document duplicate spans over a pre-tokenized
    ``(doc_id, toks)`` frame — the tokenize-once spelling of
    :func:`substring_spans_frame` (round 11, VERDICT r10 #1): a
    composed pipeline that already carries the token array pays the
    tokenizer ONCE at ingest instead of once per stage. Same plan
    from the window explode on: one groupBy on the window key
    (string, or xxhash64 under ``hash_keys``), hit semi-join back,
    gaps-and-islands merge on the per-doc exchange.

    Window-key production runs twice here (both span-plan consumers
    re-derive it from ``toks``; the explode is spelled ONE-step so no
    filter is inferred — the round-10 trap). Persisting the key
    arrays to pay it once was measured in SUBSTR_WINCACHE_PROBE.json
    and is not shipped."""
    key = (
        D.ngram_hashes_from_tokens("toks", _SUBSTR_K)
        if hash_keys
        else D.ngrams_from_tokens("toks", _SUBSTR_K)
    )
    wins = toks_df.select(
        "doc_id",
        F.posexplode(key).alias("pos", "win"),
    )
    dup = (
        wins.groupBy("win")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("win")
    )
    hits = wins.join(dup, "win", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    marks = hits.withColumn(
        "brk",
        F.when(
            F.col("pos")
            > F.coalesce(F.lag("pos").over(w), F.lit(-(_SUBSTR_K + 1)))
            + _SUBSTR_K,
            1,
        ).otherwise(0),
    )
    isl = marks.withColumn("island", F.sum("brk").over(w))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + _SUBSTR_K - 1).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def substring_spans_frame(
    docs: DataFrame, hash_keys: bool = False
) -> DataFrame:
    """Merged cross-document duplicate spans over a ``(doc_id, text)``
    frame — the core of :func:`dedup_substring`, factored out so the
    excision step and the planted-fixture round-trip test can run the
    identical logic on arbitrary corpora.

    ``hash_keys=True`` keys the duplicate-window groupBy and the hit
    semi-join by ``xxhash64`` of the window's tokens instead of the
    window STRING (operators/dedup.ngram_hashes_from_tokens): the
    window key crosses the wire twice, and 8 bytes vs ~50 cuts that
    shuffle mass ~6× (SUBSTR_HASHKEY_PROBE.json: identical spans at
    1M docs, walls recorded). The trade is letter-exactness: two
    different windows colliding (~windows²/2⁶⁴) would excise a
    non-duplicated span, so the string key stays the default and
    the oracle-gated queries keep it; ``hash_keys`` is the
    documented at-scale spelling when the corpus makes the window
    shuffle the bottleneck.
    """
    return substring_spans_from_tokens(
        docs.select("doc_id", T.tokens("text").alias("toks")),
        hash_keys=hash_keys,
    )


# --------------------------------------------------------------------------
# 39b. dedup_substring_apply — excise the duplicate spans (ExactSubstr
#      end-to-end: span table → cleaned corpus)
# --------------------------------------------------------------------------
@query(
    "dedup_substring_apply",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {T.TOKENS_DUCK.format(c="text")} AS t FROM documents
    ),
    posns AS (
      SELECT doc_id, t,
             unnest(range(0, len(t) - {_SUBSTR_K} + 1)) AS pos
      FROM toks WHERE len(t) >= {_SUBSTR_K}
    ),
    wins AS (
      SELECT doc_id, pos,
             array_to_string(t[pos + 1 : pos + {_SUBSTR_K}], ' ') AS win
      FROM posns
    ),
    dup AS (
      SELECT win FROM wins GROUP BY win HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    hits AS (
      SELECT doc_id, pos FROM wins WHERE win IN (SELECT win FROM dup)
    ),
    marks AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(LAG(pos) OVER w, -{_SUBSTR_K + 1})
                            + {_SUBSTR_K} THEN 1 ELSE 0 END AS brk
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM marks
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SUBSTR_K} - 1 AS e
      FROM isl GROUP BY doc_id, island
    ),
    tok_rows AS (
      SELECT doc_id, pos, t[pos + 1] AS tok
      FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS pos FROM toks)
    ),
    kept AS (
      SELECT r.doc_id, r.pos, r.tok FROM tok_rows r
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = r.doc_id AND r.pos BETWEEN s.s AND s.e)
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT)
             AS n_tokens_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
    tags=("pipeline", "dedup"),
)
def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr excision — the step that makes :func:`dedup_substring`
    end-to-end (VERDICT r04 Next #4): apply the merged span table back
    to the corpus and emit, per document, the cleaned text (tokens
    outside every removal span, re-joined on single spaces) plus
    before/removed token counts. Documents without spans pass through
    verbatim; a fully-covered document yields the empty string.

    Spelling: the span frame from :func:`substring_spans_frame` is
    collapsed to one array-of-struct row per affected doc (bounded by
    doc length / k — never corpus-sized) and LEFT-joined back; token
    retention is a single JVM-side higher-order expression
    (``filter(toks, (tok, i) -> NOT exists(spans, s -> s.s <= i <= s.e))``)
    — no Python, no explode of the token stream.

    100 TB: the apply side adds exactly one exchange beyond the span
    computation — the span collapse keyed on doc_id (output-bounded:
    only contaminated docs have rows) — and the join back is
    broadcast-eligible whenever contamination mass is small, which is
    the production case. The round-trip property (excised corpus
    re-run through dedup_substring yields ZERO spans, since every
    duplicated window loses its text in ALL copies) is pinned in
    tests/test_pipeline.py on a planted-overlap fixture.
    """
    _size_exchanges(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    return substring_excise_frame(docs)


def substring_excise_frame(docs: DataFrame) -> DataFrame:
    """Core excision over a ``(doc_id, text)`` frame (shared with the
    planted-fixture round-trip test)."""
    toks = docs.select("doc_id", T.tokens("text").alias("toks"))
    return substring_excise_from_tokens(toks).select(
        "doc_id",
        "n_tokens",
        "n_tokens_removed",
        F.array_join("toks_clean", " ").alias("clean_text"),
    )


def substring_excise_from_tokens(toks_df: DataFrame) -> DataFrame:
    """Excision over a pre-tokenized ``(doc_id, toks)`` frame — the
    tokenize-once spelling (round 11, VERDICT r10 #1). Returns
    ``(doc_id, n_tokens, n_tokens_removed, toks_clean)`` with the
    cleaned TOKEN ARRAY, so a composed pipeline never has to
    re-tokenize downstream: excision touches only the docs with
    spans (the left join's null branch passes ``toks`` through
    untouched), and every later stage consumes ``toks_clean``
    directly."""
    spans = (
        substring_spans_from_tokens(toks_df)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans")
        )
    )
    joined = toks_df.join(spans, "doc_id", "left")
    kept = F.filter(
        "toks",
        lambda tok, i: ~F.exists(
            "spans",
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    clean = F.when(F.col("spans").isNull(), F.col("toks")).otherwise(kept)
    return joined.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size(clean)).cast("bigint").alias(
            "n_tokens_removed"
        ),
        clean.alias("toks_clean"),
    )


# --------------------------------------------------------------------------
# 40. sample_hash_split — deterministic train/val/test corpus split
# --------------------------------------------------------------------------
_SPLIT_MOD = 1000       # per-mille bucket resolution
_SPLIT_MIX = 2654435761  # Knuth multiplicative constant (public)

@query(
    "sample_hash_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             (doc_id * {_SPLIT_MIX}) % {_SPLIT_MOD} AS bucket,
             len({T.TOKENS_DUCK.format(c="text")}) AS n_toks
      FROM documents
    )
    SELECT CASE WHEN bucket < 800 THEN 'train'
                WHEN bucket < 900 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM b GROUP BY 1
    """,
    tags=("pipeline", "sampling"),
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by key mixing —
    the reproducible-split primitive every training pipeline needs:
    membership is a pure function of doc_id (stable across runs,
    machines, and engines; no sampling state, no seed file), and
    adding documents never moves an existing one between splits.

    The mixer here is the Knuth multiplicative constant mod 1000 so
    the DuckDB oracle computes the IDENTICAL buckets with portable
    integer arithmetic; production uses ``xxhash64(doc_id, salt)``
    (better avalanche on structured ids — same plan, still a pure
    map). Sequential-id bias is the known trade: multiplicative
    mixing scatters runs of consecutive ids well enough for split
    balance (fixture buckets land within ~1% of 800/100/100), but
    adversarial id patterns want the xxhash64 form.

    100 TB: a pure map plus a 3-group partial aggregate — the
    exchange carries 3 rows per task. The per-doc assignment column
    (`bucket < 800`) is the filter a writer pushes down when
    materializing each split; no data moves to compute membership.
    """
    docs = _docs(spark, sf_dir)
    b = docs.select(
        "doc_id",
        F.expr(f"pmod(doc_id * {_SPLIT_MIX}L, {_SPLIT_MOD})").alias(
            "bucket"
        ),
        F.size(T.tokens("text")).alias("n_toks"),
    )
    return (
        b.withColumn(
            "split",
            F.when(F.col("bucket") < 800, "train")
            .when(F.col("bucket") < 900, "val")
            .otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# --------------------------------------------------------------------------
# 41. ngram_counts — language-model n-gram frequency table (n = 2 and 3)
# --------------------------------------------------------------------------
_NGRAM_MIN_FREQ = 5  # tail cutoff; keeps output vocabulary-, not corpus-sized

@query(
    "ngram_counts",
    oracle=f"""
    WITH g AS (
      SELECT 2 AS n, unnest({D.ngrams_duck("text", 2)}) AS ngram
      FROM documents
      UNION ALL
      SELECT 3 AS n, unnest({D.ngrams_duck("text", 3)}) AS ngram
      FROM documents
    )
    SELECT CAST(n AS BIGINT) AS n, ngram,
           CAST(COUNT(*) AS BIGINT) AS freq
    FROM g GROUP BY n, ngram HAVING COUNT(*) >= {_NGRAM_MIN_FREQ}
    """,
    tags=("pipeline", "text"),
)
def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency table (bigrams + trigrams, multiset
    counts, tail below {min_freq} occurrences cut) — the raw
    material for KN-smoothed LM scoring, contamination fingerprints,
    and the count tables BPE merges consume (bpe_pair_counts is the
    character-level sibling).

    One documents scan: both n-gram arrays are built per row and
    concatenated as (n, ngram) structs before a single explode, so
    adding orders widens a projection instead of adding scans. The
    struct build is a per-row array expression (interpreted, linear
    in doc length); the groupBy count that dominates at scale is
    codegen'd with map-side partial aggregation.

    100 TB: the exchange carries (n-gram, partial count) — bounded
    by VOCABULARY, not corpus size, the same reduction argument as
    bpe_pair_counts. The HAVING tail cut applies post-merge (a
    count's tail membership isn't knowable map-side); if even the
    vocabulary-sized exchange is too wide, heavy_hitters_approx is
    the sketch-sized fallback with the same output shape.
    """.format(min_freq=_NGRAM_MIN_FREQ)
    docs = _docs(spark, sf_dir)
    arr = docs.select(
        "doc_id", T.tokens("text").alias("toks")
    ).select(
        D.ngrams_from_tokens("toks", 2).alias("g2"),
        D.ngrams_from_tokens("toks", 3).alias("g3"),
    )
    kv = arr.select(
        F.explode(
            F.expr(
                "concat("
                "transform(g2, g -> named_struct("
                "'n', CAST(2 AS BIGINT), 'ngram', g)), "
                "transform(g3, g -> named_struct("
                "'n', CAST(3 AS BIGINT), 'ngram', g)))"
            )
        ).alias("kv")
    ).select("kv.n", "kv.ngram")
    return (
        kv.groupBy("n", "ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= _NGRAM_MIN_FREQ)
    )


# --------------------------------------------------------------------------
# 46. chunk_documents — sliding token-window chunking
# --------------------------------------------------------------------------
#: Chunk geometry: 64-token windows every 48 tokens (16-token overlap
#: so no boundary sentence is ever split across chunks without also
#: appearing whole in one of them) — the context-window packing
#: precursor every RAG / pretraining pipeline runs before embedding.
_CHUNK_LEN = 64
_CHUNK_STRIDE = 48

@query(
    "chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {T.TOKENS_DUCK.format(c="text")} AS t
      FROM documents
    ),
    starts AS (
      SELECT doc_id, t,
             unnest(generate_series(0, len(t) - 1, {_CHUNK_STRIDE}))
               AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t, s + 1, s + {_CHUNK_LEN}))
                AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
               list_slice(t, s + 1, s + {_CHUNK_LEN}), ' '))
             AS chunk_md5
    FROM starts
    """,
    tags=("pipeline", "text"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split every document into
    64-token windows on a 48-token stride (16-token overlap) and
    fingerprint each chunk — the unit-of-retrieval / unit-of-packing
    transform that sits between raw corpus and embedding or
    sequence-packing stages in a training-data pipeline
    (pack_sequences consumes whole docs; this is the sub-document
    twin).

    Entirely JVM expressions: ``sequence`` generates the chunk
    starts per row, ``explode`` laterally expands them, ``slice`` +
    ``array_join`` + ``md5`` fingerprint each window — one scan, no
    shuffle, no Python. Both engines agree exactly because the
    tokenizer contract (operators/text.py) and md5 hex are
    identical, and ``slice``/``list_slice`` share 1-based inclusive
    semantics (Spark takes (start, length), DuckDB (start, stop) —
    the spellings differ, the windows don't). The md5 column is the
    chunk's content address: chunk-level exact dedup downstream is
    a groupBy on it, no text movement.

    At 100 TB chunking is embarrassingly parallel (map-only,
    output ~2× input rows at these geometry constants); the chunk
    table partitions by doc hash and never needs to co-locate with
    anything until an embedding or dedup stage keys it.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", T.tokens("text").alias("t")
    )
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.expr(
                f"sequence(0, size(t) - 1, {_CHUNK_STRIDE})"
            )
        ).alias("s"),
    )
    chunk = F.expr(f"slice(t, s + 1, {_CHUNK_LEN})")
    return starts.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# 47. quality_lm_surprisal — integer unigram-LM quality scoring
# --------------------------------------------------------------------------
@query(
    "quality_lm_surprisal",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest({T.TOKENS_DUCK.format(c="text")}) AS tk
      FROM documents
    ),
    cnt AS (SELECT tk, COUNT(*) AS c FROM tok GROUP BY tk),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(LENGTH(bin(n // c)) - 1) AS BIGINT)
             AS sum_surprisal,
           CAST(SUM(LENGTH(bin(n // c)) - 1) // COUNT(*) AS BIGINT)
             AS mean_surprisal
    FROM tok t JOIN cnt USING (tk), tot
    GROUP BY t.doc_id
    """,
    tags=("pipeline", "text", "quality"),
)
def quality_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality scoring in EXACT integer
    arithmetic: score every document by the mean surprisal of its
    tokens under the corpus's own unigram distribution — the
    KenLM-perplexity-filter shape (common docs of common words score
    low, gibberish and boilerplate-with-rare-junk score high)
    without a trained model artifact.

    The determinism trick: per-token surprisal is
    ``floor(log2(N / c))`` — N corpus tokens, c the token's count —
    computed WITHOUT floating point as
    ``LENGTH(bin(N DIV c)) - 1`` (the bit length of the integer
    quotient; ``bin`` renders unpadded binary identically in Spark
    and DuckDB). No log(), no doubles, no summation-order drift:
    both engines produce bit-identical BIGINT scores, which is what
    lets this be hash-oracled while a float spelling could not be
    (FIXTURES.md determinism rule 2 applied to logarithms).

    Plan: one token explode feeds both the count table and the
    scoring join; Catalyst picks broadcast for the count side at
    fixture scale and falls back to a shuffled hash join when the
    vocabulary outgrows the threshold at cluster scale (vocab is
    sublinear in corpus size but not driver-bounded — the join, not
    a collect, is the contract). The 1-row total crosses as a
    broadcast scalar, the final rollup is one doc-keyed exchange.
    """
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(T.tokens("text")).alias("tk")
    )
    cnt = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    surprisal = F.expr("CAST(LENGTH(bin(n DIV c)) - 1 AS BIGINT)")
    return (
        tok.join(cnt, "tk")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(surprisal).alias("sum_surprisal"),
            F.expr(
                "CAST(SUM(CAST(LENGTH(bin(n DIV c)) - 1 AS BIGINT)) "
                "DIV COUNT(*) AS BIGINT)"
            ).alias("mean_surprisal"),
        )
    )


# --------------------------------------------------------------------------
# 48. topic_kmeans — corpus topic bucketing via exact-integer k-means
# --------------------------------------------------------------------------
_KMEANS_K = 10
_KMEANS_ITERS = 5

@query(
    "topic_kmeans",
    tags=("pipeline", "similarity", "no-oracle"),
)
def topic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic/style bucketing of the corpus: Lloyd's k-means over the
    embedding table (k = 10, 5 iterations) with EVERY distance,
    assignment, and centroid update in exact int64 fixed-point —
    the clustering stage a training-data pipeline uses for domain
    balancing, curriculum bucketing, or semantic sharding before
    sampling (corpus_mix reweights domains it is GIVEN; this
    derives them from content).

    Exact integer arithmetic makes the whole iterative fit
    bit-deterministic — no FP summation-order drift, no RNG init
    (seeds = the k lowest vec_ids) — so even the per-cluster
    inertia column is stable across runs and partitionings. No
    DuckDB oracle (iterative k-means is not a DuckDB-expressible
    query); the validation contract is an independent exact-integer
    numpy reimplementation that must agree BIT-FOR-BIT on every
    assignment, plus pinned k-row shape and monotone objective
    (tests/test_pipeline.py).

    Scale posture: per iteration one Arrow assign map stage (no
    join, no shuffle — operators/similarity.kmeans_fit) plus
    one k·dim-bounded aggregation; the driver holds only the k×64
    centroid matrix. Output is k rows — cluster id, member count,
    exact inertia, and members' min vec_id as a stable
    representative — emitted for ALL k clusters (empty ones as 0)
    so the row count is pinned regardless of convergence path.
    """
    emb = table(spark, sf_dir, "embeddings")
    assigned, _cents, _hist = S.kmeans_fit(
        emb, k=_KMEANS_K, iterations=_KMEANS_ITERS
    )
    # coalesce marks the grouping key NON-NULLABLE (it never is null
    # in fact), so the shell left-join's inferred isnotnull(cluster)
    # constraint folds to true instead of materializing as a filter
    # below the aggregate — that filter inlined the ENTIRE k-distance
    # argmin per row, a second full assign pass (round 10, the
    # constraint-inference cousin of the InferFiltersFromGenerate
    # trap on dedup.shingles_from_tokens)
    sizes = assigned.select(
        F.coalesce("cluster", F.lit(-1)).alias("cluster"),
        "sqdist",
        "id",
    ).groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("sqdist").cast("decimal(38,0)")).alias("inertia_q14"),
        F.min("id").alias("rep_vec_id"),
    )
    shell = spark.range(1, _KMEANS_K + 1).select(
        F.col("id").cast("int").alias("cluster")
    )
    return (
        shell.join(sizes, "cluster", "left")
        .select(
            "cluster",
            F.coalesce(F.col("n_members"), F.lit(0).cast("long"))
            .alias("n_members"),
            F.coalesce(
                F.col("inertia_q14"),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("inertia_q14"),
            F.coalesce(F.col("rep_vec_id"), F.lit(-1).cast("long"))
            .alias("rep_vec_id"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# 49. dedup_semantic — SemDeDup: k-means-bucketed embedding dedup
# --------------------------------------------------------------------------
#: Multi-probe width for SemDeDup blocking. Measured on the sf0.001
#: fixtures (k=10, 3 iterations, 66 planted pairs at cos ≥ 0.4):
#: m=1 recall 0.38, m=2 recall 0.80, m=3 recall 0.94, m=4 recall
#: 1.00 — single-assignment blocking drops boundary-straddling
#: pairs (the r06 regression); probing the 4 nearest centroids
#: recovers every planted pair. The candidate-pair superset stays
#: exact-precision because every emitted pair carries its true
#: cosine.
_SEMDEDUP_PROBES = 4


@query(
    "dedup_semantic",
    # bench=True (round 13): the operator the last three verdicts
    # tracked as the scale-weak component — k-ladder, two-level
    # assign, two-level fit each moved its wall; a bench row makes
    # any regression in that chain visible round-over-round instead
    # of only in ad-hoc probe artifacts.
    bench=True,
    tags=("pipeline", "dedup", "similarity", "no-oracle"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-duplicate pairs with CONTENT-DERIVED blocking:
    k-means clusters (topic_kmeans's exact-integer fit) serve as the
    candidate buckets, then only co-blocked pairs pay the exact
    quantized cosine — the SemDeDup recipe (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication": cluster the embedding space, dedup within
    clusters). dedup_embed_cosine needs a label column to block on;
    this derives the blocks from the vectors themselves, which is
    the realistic corpus case.

    Blocking is MULTI-PROBE (operators/similarity.kmeans_assign_topm,
    m = _SEMDEDUP_PROBES): each vector lands in its m nearest
    clusters, and a pair is a candidate iff the two vectors share
    any probed cluster. Single-assignment blocking misses exactly
    the true pairs that straddle a Voronoi boundary — measured
    recall 0.38 on the fixtures — while m=4 probes recover recall
    1.00 (the constant's docstring carries the measured curve).
    At scale prefer ADAPTIVE probing WITH A SAMPLED FIT
    (``semdedup_pairs(ratio=1.5, m=4, fit_sample_mod=10)``, rounds
    9–10): probe centroid j only when d²_j ≤ r·d²_nearest — recall
    stays 1.0 at 0.23–0.26× of the fixed-m=4 candidate mass once k
    separates the space (k ∝ n; SEMDEDUP_PROBE.json 300k–1M arms) —
    and fit the k-means on the deterministic 1-in-10 hash-sample:
    recall stays 1.0 at 1M/k=100 even at 1-in-100 while the fit
    drops 152 → 33 → 21 s (SEMDEDUP_SAMPLEDFIT_PROBE.json); the
    residual wall is the block scorer, not the fit. Fixed-m +
    full fit stays the default HERE because at fixture geometry
    (k=10, noise-dominant) the ratio rule cuts only 3–15% — the
    probe's measured small-k degenerate case.
    k is no longer hand-picked (round 12, VERDICT r11 #1): it reads
    ``plans.sizing.k_for`` on the table's cached footer row count —
    bounded mean block rows, so the pair sweep scales linearly with
    n (the k-ladder's measured frontier, SEMDEDUP_KLADDER_PROBE.
    json; at the 500-row fixture the rule lands on the floor k=10,
    identical to the previous constant).
    Duplicate candidates from pairs sharing several blocks are
    folded by a distinct() on the (id_a, id_b, cos) rows — cosine
    is deterministic fixed-point, so the fold is exact. Validation:
    recall == 1.0 against the exact all-pairs numpy ground truth on
    the fixtures, precision exact by construction (every emitted
    pair carries its true cosine) — tests/test_pipeline.py; no
    DuckDB oracle (the iterative fit is not SQL-expressible),
    driver records rows-only.

    Scale posture: one k-means fit (per iteration one Arrow map
    stage of the shared Lloyd step + a per-cluster merge of at most
    k rows), one assign map stage (the exact kernel
    operators/similarity._assign_rows: all k centroids in one cell
    at fixture k, the √k router index from TWOLEVEL_ASSIGN_MIN_K
    centroids on), one shuffle of (block, id, qv) to
    co-locate block members — m× the single-probe volume — then
    within-block scoring as a tiled numpy GEMM behind applyInArrow
    (operators/similarity._block_scorer; round 8 — the join +
    higher-order-fold spelling measured 1.4M candidate pairs/s vs
    the GEMM's 33–60M/s at the same exact-int64 semantics, see
    SEMDEDUP_PROBE.json + BASELINE.md §SemDeDup), Σ|block|²/2 pair
    cost. A corpus that fits one scorer chunk (cached rowcount ≤
    SEMDEDUP_TARGET_CHUNK: every fixture, and sf0.1) skips the
    shuffle: one mapInArrow task assigns and scores it, so the
    action is one job of one task. At fixture scale (n=500, k=10)
    blocking costs MORE than all-pairs — the honest small-n regime;
    the asymptotic win needs k ∝ n (SemDeDup used 110k clusters for
    LAION), giving ~m²·n²/2k candidate pairs — measured at 100k–1M
    vectors in SEMDEDUP_PROBE.json. The fit cost stays one scan per
    iteration regardless of k, and the same clustering amortizes
    across pipeline stages (topic_kmeans reuses it for domain
    balancing).
    """
    from ..plans.sizing import fit_sample_mod_for, k_for
    from ..plans.stats import parquet_list_dim, parquet_rowcount
    from ..plans.stats import cached_statistic, parquet_table_key

    emb_path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    table_key = parquet_table_key(emb_path)
    n_vec, _ = cached_statistic(
        table_key,
        "rowcount",
        lambda: parquet_rowcount(emb_path),
    )
    # Cached dim statistic (round 14): lets the sampled fit's driver
    # probe skip its per-run head(1) dim-discovery job — the fit
    # path is then one bounded collect, zero other Spark jobs.
    dim, _ = cached_statistic(
        table_key,
        "list_dim|col=embedding",
        lambda: parquet_list_dim(emb_path, "embedding"),
    )
    k = k_for(int(n_vec))
    emb = table(spark, sf_dir, "embeddings")
    return S.semdedup_pairs(
        emb,
        k=k,
        iterations=3,
        m=_SEMDEDUP_PROBES,
        threshold=_COS_DUP_THRESHOLD,
        fit_sample_mod=fit_sample_mod_for(int(n_vec), k),
        n_hint=int(n_vec),
        dim_hint=int(dim) if dim is not None else None,
    )


# --------------------------------------------------------------------------
# 42b. corpus_pipeline — the COMPOSED training-data pipeline as one
#      oracle-gated query (round 11)
# --------------------------------------------------------------------------
_PIPE_MIN_TOKENS = 20  # quality gate (fixture median ~56 tokens)

@query(
    "corpus_pipeline",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {T.TOKENS_DUCK.format(c="text")} AS t,
             {T.FINGERPRINT_DUCK.format(c="text")} AS fp
      FROM documents
    ),
    corpus AS (
      SELECT * FROM toks
      WHERE doc_id % {_DECON_MOD} <> 0 AND len(t) >= {_PIPE_MIN_TOKENS}
    ),
    surv AS (
      SELECT doc_id, lang, t FROM (
        SELECT doc_id, lang, t,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM corpus
      ) WHERE rn = 1
    ),
    posns AS (
      SELECT doc_id, t,
             unnest(range(0, len(t) - {_SUBSTR_K} + 1)) AS pos
      FROM surv WHERE len(t) >= {_SUBSTR_K}
    ),
    wins AS (
      SELECT doc_id, pos,
             array_to_string(t[pos + 1 : pos + {_SUBSTR_K}], ' ') AS win
      FROM posns
    ),
    dup AS (
      SELECT win FROM wins GROUP BY win HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    hits AS (
      SELECT doc_id, pos FROM wins WHERE win IN (SELECT win FROM dup)
    ),
    marks AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(LAG(pos) OVER w, -{_SUBSTR_K + 1})
                            + {_SUBSTR_K} THEN 1 ELSE 0 END AS brk
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM marks
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SUBSTR_K - 1} AS e
      FROM isl GROUP BY doc_id, island
    ),
    removed AS (
      SELECT doc_id, SUM(e - s + 1) AS n_removed FROM spans
      GROUP BY doc_id
    ),
    bench AS (
      SELECT DISTINCT unnest({D.shingles_duck("text", _DECON_N)}) AS shingle
      FROM documents WHERE doc_id % {_DECON_MOD} = 0
    ),
    corp_sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+{_DECON_N - 1}], ' ')
               for i in range(1, len(t) - {_DECON_N - 2})])) AS shingle
      FROM surv
    ),
    flagged AS (
      SELECT DISTINCT doc_id FROM corp_sh JOIN bench USING (shingle)
    ),
    final AS (
      SELECT s.doc_id, s.lang,
             len(s.t) - COALESCE(r.n_removed, 0) AS n_tokens
      FROM surv s LEFT JOIN removed r USING (doc_id)
      WHERE s.doc_id NOT IN (SELECT doc_id FROM flagged)
    ),
    cum AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_before
      FROM final
    )
    SELECT lang,
           CAST(tok_before // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM cum GROUP BY lang, seq_id
    """,
    # bench=True (round 12, VERDICT r11 #8): the composed pipeline is
    # the number a training-data user buys — tracked round-over-round
    # in the driver's bench set instead of only in probe artifacts.
    bench=True,
    tags=("pipeline", "composed"),
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composed training-data pipeline as one oracle-gated query
    (round 11): quality gate (>= _PIPE_MIN_TOKENS tokens) →
    benchmark split removal (doc_id % _DECON_MOD = 0 held out) →
    exact dedup (min-id survivor per fingerprint) → ExactSubstr span
    excision (k = _SUBSTR_K, survivors' token counts shrink by their
    merged duplicate-span cover) → n-gram decontamination (drop docs
    sharing any _DECON_N-gram with the held-out split) → sequence
    packing of the cleaned token counts (_PACK_BUDGET per language,
    doc_id order).

    The 1M-doc volume evidence with planted masses is
    PIPELINE_E2E_PROBE.json (both the re-tokenize and the
    tokenize-once arms); THIS id is the composition's hash-exact
    correctness gate — every stage interaction (a doc dropped twice,
    an excised span escaping the packed mass, decontam flagging a
    retired doc) shifts seq_tokens or a sequence boundary and fails
    the driver compare. Flags are computed on PRE-excision survivors
    (contamination is present whether or not a duplicated span
    overlaps it); the oracle mirrors the order exactly.

    Spelling is the round-11 tokenize-once discipline at the PLAN
    level: one projection derives (toks, n_tokens, fp) from text and
    every stage consumes the carried array — no stage spells its own
    tokenize. Physically, a single-DAG registry query re-evaluates
    shared lineage once per consuming branch (excision, decontam,
    and the final join each re-derive ``surv``), which is correct
    and fine at gate scale; the at-scale composition materializes
    each stage boundary instead (persist in the E2E probe's
    shared-tokens arm, staged parquet per
    TOKEN_STAGING_PROBE.json — the token-array column is 0.46× the
    text bytes at rest). Explodes are one-step (the inlining-trap
    rule); the registry-wide plan scan covers this id like any
    other.
    """
    # Round 14 (VERDICT r13 #6): no stage-boundary persist. The
    # round-13 materialization of the dedup survivors was a
    # bench-scale wash (2.32 vs 2.30 s), and the alternating 1M-doc
    # A/B (CORPUS_SURV_PERSIST_1M_PROBE.json) measured it 18-22%
    # SLOWER — recompute 96/101 s vs persist 114/126 s, answers
    # identical: the cache-fill cost and lost branch overlap exceed
    # the recomputed subtree. The single-DAG spelling ships.
    _size_exchanges(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        "lang",
        T.tokens("text").alias("toks"),
        T.token_count("text").alias("n_tokens"),
        T.fingerprint("text").alias("fp"),
    )
    corpus = toks.filter(
        (F.col("doc_id") % _DECON_MOD != 0)
        & (F.col("n_tokens") >= _PIPE_MIN_TOKENS)
    )
    surv = D.dedup_exact(corpus, ["fp"], "doc_id").select(
        "doc_id", "lang", "toks", "n_tokens"
    )
    exc = substring_excise_from_tokens(
        surv.select("doc_id", "toks")
    ).select(
        "doc_id",
        (F.col("n_tokens") - F.col("n_tokens_removed")).alias("n_clean"),
    )
    bench = docs.filter(F.col("doc_id") % _DECON_MOD == 0).select(
        T.tokens("text").alias("toks")
    ).select(
        F.explode(D.shingles_from_tokens("toks", _DECON_N)).alias(
            "shingle"
        )
    ).distinct()
    flagged = (
        surv.select(
            "doc_id",
            F.explode(D.shingles_from_tokens("toks", _DECON_N)).alias(
                "shingle"
            ),
        )
        .join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    final = (
        surv.select("doc_id", "lang")
        .join(exc, "doc_id")
        .join(flagged, "doc_id", "left_anti")
        .select("doc_id", "lang", F.col("n_clean").alias("n_tokens"))
    )
    return pack_sequences_frame(final)
