"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard (SURVEY.md §2.2 #27–#28 + mandated extensions).

Design for 100 TB:

- **Exact** dedup is a hash-partitioned group-by on the dedup key —
  one shuffle of (key, id), never of payloads; the canonical survivor
  is min(id) (deterministic, unlike ``dropDuplicates``'s
  arbitrary-row semantics).
- **MinHash-LSH** is the scale path for near-dup: candidate pairs
  come from banded signature buckets (shuffle keyed on (band, slot)),
  so the pair count is ~linear in duplicates instead of O(n²); exact
  Jaccard re-verification then runs only on candidates. This is the
  standard shingle→minhash→band→bucket-join pipeline (the reference's
  hash-partitioned FM bitmaps, ``q4112.c:110-115``, are the same
  'partition by low hash bits' trick).
- **SimHash** gives a single 64-bit signature per doc; near-dups
  differ in few bits, so bucketing on a 16-bit prefix + in-bucket
  hamming check scales the same way.
- **n-gram Jaccard** (brute pair join) is the O(n²) baseline used to
  validate the approximate paths' recall on fixtures — not a 100 TB
  operator, and flagged as such.

Everything is Catalyst expressions (xxhash64, array HOFs); no Python
UDFs anywhere in the dedup path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from database_join_spark.operators.text import TOKENS_DUCK, TOKENS_SQL, tokens

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-``id_col`` row per ``key_cols`` group.

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row — unacceptable under an order-insensitive hash
    gate). One shuffle on the dedup key; payload columns ride along.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# Shingles (shared by MinHash and Jaccard)
# --------------------------------------------------------------------------
def shingles_from_tokens(tok_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED
    token-array column.

    ``tok_col`` must be a real column (not an inline expression):
    SQL-text substitution would re-run the tokenizer inside every
    ``element_at`` — 3 re-tokenizations per shingle, quadratic in doc
    length (measured 7× on the fixture corpus). Matches the DuckDB
    oracle construction exactly (same n-gram join, single spaces).

    EXPLODE IN THE SAME SELECT (round 10): spell consumers
    ``df.select(id, F.explode(shingles_from_tokens(...)))``, NEVER
    ``df.select(id, expr.alias("sh")).select(id, F.explode("sh"))``.
    The two-step form lets ``InferFiltersFromGenerate`` insert a
    ``size(sh) > 0`` filter whose condition CollapseProject inlines
    — with ``tok_col``'s defining expression re-substituted into
    every ``element_at``, i.e. one full re-tokenization per n-gram
    position per row. Measured 19× (66 vs 3.5 s for 18.8M shingles
    at 200k docs); the one-step generate carries no inferred filter.
    ``tests/test_pipeline.py::test_no_inferred_tokenizer_filter``
    pins every shingle-exploding registry query.
    """
    return F.expr(
        f"IF(size({tok_col}) < {n}, array(), "
        f"array_distinct(transform(sequence(0, size({tok_col}) - {n}), "
        f"i -> concat_ws(' ', "
        + ", ".join(f"element_at({tok_col}, i + {k + 1})" for k in range(n))
        + "))))"
    )


def shingle_hashes_from_tokens(tok_col: str, n: int = 3) -> Column:
    """Distinct ``xxhash64`` values of word n-grams, built JVM-side
    WITHOUT materializing the n-gram strings (round 10).

    ``xxhash64`` takes the n token columns directly, so no 30-odd
    byte shingle string is ever allocated — the dominant cost of the
    string spelling at volume (PIPELINE_E2E_PROBE: the decontam
    stage is shingle-PRODUCTION-bound). Two DIFFERENT n-grams
    hashing equal is possible (~n_grams²/2⁶⁴), so this is a
    CANDIDATE generator: consumers that need exactness re-verify
    hash-hits with the string spelling on the (tiny) candidate set —
    the two-tier shape of ``decontam_hashed``. False negatives are
    impossible: equal tokens hash equal. Same ``tok_col``-must-be-
    materialized contract as :func:`shingles_from_tokens`.
    """
    parts = ", ".join(
        f"element_at({tok_col}, i + {k + 1})" for k in range(n)
    )
    return F.expr(
        f"IF(size({tok_col}) < {n}, array(), "
        f"array_distinct(transform(sequence(0, size({tok_col}) - {n}), "
        f"i -> xxhash64({parts}))))"
    )


def shingles(col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of a raw text column.

    Convenience form for interactive use; hot paths should tokenize
    into a column first and use :func:`shingles_from_tokens` (see its
    docstring for why).
    """
    toks = TOKENS_SQL.format(c=col)
    return F.expr(
        f"IF(size({toks}) < {n}, array(), "
        f"array_distinct(transform(sequence(0, size({toks}) - {n}), "
        f"i -> concat_ws(' ', "
        + ", ".join(f"element_at({toks}, i + {k + 1})" for k in range(n))
        + "))))"
    )


def shingles_duck(col: str = "text", n: int = 3) -> str:
    """DuckDB spelling: 1-based inclusive slices over the token list."""
    toks = TOKENS_DUCK.format(c=col)
    return (
        f"list_distinct([array_to_string(({toks})[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({toks}) - {n - 2})])"
    )


def ngrams_from_tokens(tok_col: str, n: int) -> Column:
    """ORDERED, NON-distinct word n-grams from a token-array column —
    element ``i`` is the n-gram starting at token position ``i``
    (0-based), so ``posexplode`` recovers (position, n-gram) pairs.

    The positional/multiset sibling of :func:`shingles_from_tokens`:
    substring-level dedup needs positions (where in the doc is the
    duplicated span) and language-model n-gram counting needs
    multiplicity, both of which ``array_distinct`` destroys.
    """
    return F.expr(
        f"IF(size({tok_col}) < {n}, array(), "
        f"transform(sequence(0, size({tok_col}) - {n}), "
        f"i -> concat_ws(' ', "
        + ", ".join(f"element_at({tok_col}, i + {k + 1})" for k in range(n))
        + ")))"
    )


def ngram_hashes_from_tokens(tok_col: str, n: int) -> Column:
    """ORDERED, NON-distinct ``xxhash64`` n-gram keys — the hashed
    sibling of :func:`ngrams_from_tokens` (round 10). Element ``i``
    is the hash of the n-gram starting at token position ``i``, so
    ``posexplode`` recovers (position, key) pairs; the hash takes
    the n token columns directly, never materializing the n-gram
    string.

    Why: the ExactSubstr window pass shuffles its keys twice (the
    duplicate-window groupBy and the hit semi-join) — an 8-token
    window string is ~50 bytes where the hash is 8, so the hashed
    key cuts that shuffle mass ~6× (measured in
    SUBSTR_HASHKEY_PROBE.json). Two DIFFERENT windows colliding
    (~windows²/2⁶⁴) would excise a span that is not truly
    duplicated — consumers needing letter-exact guarantees keep the
    string key (the default everywhere).
    """
    parts = ", ".join(
        f"element_at({tok_col}, i + {k + 1})" for k in range(n)
    )
    return F.expr(
        f"IF(size({tok_col}) < {n}, array(), "
        f"transform(sequence(0, size({tok_col}) - {n}), "
        f"i -> xxhash64({parts})))"
    )


def ngrams_duck(col: str = "text", n: int = 3) -> str:
    """DuckDB spelling of :func:`ngrams_from_tokens` (ordered,
    non-distinct; list index i yields the n-gram at 0-based token
    position i-1)."""
    toks = TOKENS_DUCK.format(c=col)
    return (
        f"[array_to_string(({toks})[i:i+{n - 1}], ' ') "
        f"for i in range(1, len({toks}) - {n - 2})]"
    )


# --------------------------------------------------------------------------
# MinHash-LSH
# --------------------------------------------------------------------------
def shingle_hashes(shingle_col: str) -> Column:
    """Pre-hash shingle strings to 64-bit ints, once.

    Variable-length string hashing dominates MinHash cost; hashing
    each shingle to a bigint first means the per-seed re-hash
    (xxhash64 over 8 fixed bytes) is ~10× cheaper, and the strings
    are hashed exactly once per doc instead of num_hashes times.
    """
    return F.expr(f"transform({shingle_col}, s -> xxhash64(s))")


def banded_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    num_hashes: int = 32,
    bands: int = 8,
    prehashed: bool = False,
) -> DataFrame:
    """(id, band, bucket) LSH bucket memberships for each document —
    the shared front half of every MinHash-LSH operator. Within-corpus
    dedup groups this by (band, bucket) (:func:`lsh_candidate_pairs`);
    cross-corpus decontamination JOINS two of these tables on
    (band, bucket) instead, broadcasting the benchmark side.

    Signatures are computed by explode + codegen'd groupBy-min rather
    than per-row array lambdas: higher-order functions are evaluated
    interpreted (outside whole-stage codegen), and the 32-seed re-hash
    is the operator's CPU hot spot — the exploded spelling measured
    1.8× faster net of scan at sf0.1. The added exchange is one row
    per document (33 longs), the same order as the banding shuffle
    that follows; map-side partial aggregation collapses the exploded
    shingle rows before anything moves. A side benefit: documents
    with NO shingles simply vanish at the explode instead of sharing
    a NULL signature — under the lambda spelling every empty document
    co-bucketed into one giant (band, NULL-hash) bucket, a quadratic
    hazard at corpus scale.
    """
    rows_per_band = num_hashes // bands
    hs = (
        F.col(shingle_col) if prehashed else shingle_hashes(shingle_col)
    )
    sig = (
        # one-step generate: exploding a named __hs column would pay
        # the inferred-filter re-inlining trap (shingles_from_tokens
        # docstring) — one full re-shingle per row in the filter
        df.select(
            F.col(id_col).alias("__id"), F.explode(hs).alias("__h")
        )
        .groupBy("__id")
        .agg(
            *[
                F.min(F.xxhash64("__h", F.lit(s))).alias(f"__m{s}")
                for s in range(num_hashes)
            ]
        )
    )
    return sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"__m{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        F.col("__id").alias(id_col), F.col("bb.band"), F.col("bb.bucket")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    num_hashes: int = 32,
    bands: int = 8,
    prehashed: bool = False,
) -> DataFrame:
    """Candidate near-dup id pairs via banded MinHash buckets.

    Two docs collide if any band of ``num_hashes/bands`` signature
    slots matches exactly. Only (band, bucket_hash, id) triples ever
    shuffle — at 100 TB that's the whole trick: no payloads move, and
    non-duplicate docs almost never co-bucket.

    Pair generation is grouped, not self-joined: one shuffle groups
    ids per (band, bucket), and pairs expand map-side inside each
    bucket (sorted-array double ``transform``). Versus the banded
    self-join this drops a shuffle, the signature-table persist, and
    the join's second scan — measured 1.9× on the sf0.1 fixture with
    identical output. The output mass is the same (Σ bucket²) either
    way; a pathological giant bucket would hurt both spellings the
    same, and the guard is upstream: exact-dup mass must be removed
    by exact dedup first (``corpus_clean`` does), leaving bucket
    sizes bounded by near-dup cluster size.

    ``prehashed=True`` means ``shingle_col`` already holds int64
    shingle hashes (:func:`shingle_hashes`) — the caller pays string
    hashing once and can share the hashed table with verification.

    Signature + banding construction is :func:`banded_buckets` (see
    its docstring for the codegen'd explode + groupBy-min spelling
    and the empty-document NULL-bucket hazard it removes — under the
    lambda spelling, empty docs' pairs were only discarded later by
    the NULL-Jaccard filter).
    """
    return lsh_pairs_from_buckets(
        banded_buckets(
            df,
            id_col=id_col,
            shingle_col=shingle_col,
            num_hashes=num_hashes,
            bands=bands,
            prehashed=prehashed,
        ),
        id_col=id_col,
    )


def lsh_pairs_from_buckets(
    banded: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The pair-expansion back half of :func:`lsh_candidate_pairs`,
    over an existing ``(id, band, bucket)`` frame — split out (round
    12) so a caller that needs the bucket frame for ANOTHER purpose
    (the streaming ingest stage appends survivors' buckets to its
    cross-batch store) pays the 32-seed signature pass once, not
    once per consumer. Same grouped map-side expansion, same output
    contract (id_a < id_b, distinct)."""
    banded = banded.withColumnRenamed(id_col, "__id")
    return (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("__id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ids) - 2), "
                    "i -> transform(sequence(i + 1, size(ids) - 1), "
                    "j -> named_struct("
                    "'id_a', element_at(ids, i + 1), "
                    "'id_b', element_at(ids, j + 1)))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _persistent_rdd_ids(sc) -> set[int]:
    """Ids of every RDD currently persisted in the JVM."""
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _release_rdds(sc, ids: set[int]) -> None:
    """Unpersist the JVM RDDs with the given ids (non-blocking)."""
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        if t._1() in ids:
            t._2().unpersist(False)


class _CheckpointHandle:
    """Persist-pool shim releasing a ``localCheckpoint``'s cached RDDs.

    ``DataFrame.unpersist`` cannot release a local checkpoint (the
    blocks live on an internal RDD the cache manager never registered),
    so iterative operators would leak one cached RDD per checkpoint
    across a long shared-session run — the exact leak VERDICT r01
    flagged for ``persist``. Dropping the blocks truncates the frame's
    only data source, so release must wait until the caller has
    collected: registering this handle in the session persist pool
    defers it to the next query's entry, the same contract as
    ``track_persist``.
    """

    def __init__(self, sc, ids: set[int]):
        self._sc, self._ids = sc, ids

    def unpersist(self, blocking: bool = False):
        _release_rdds(self._sc, self._ids)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Cluster ids of the undirected pair graph: (id, cluster_id),
    cluster_id = min doc id in the component.

    Min-label propagation to fixpoint — the step that turns near-dup
    PAIRS into dedup DECISIONS (keep one doc per cluster, not one per
    pair: pairs (a,b),(b,c) must retire b AND c, which pairwise
    survivor-picking gets wrong). Each iteration is one distributed
    join + min-aggregate; the driver-side loop only evaluates the
    scalar convergence count, the same structure GraphX/GraphFrames
    use. Iteration count is bounded by component diameter — near-dup
    clusters are shallow (dups of a common original), so this
    converges in 2-4 rounds in practice; ``localCheckpoint`` after
    every round cuts the lineage so plan size stays constant (at
    cluster scale, a reliable ``checkpoint`` to the warehouse dir is
    the same line). For adversarial long-chain graphs the known fix
    is alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), which
    drops rounds to O(log n); not needed for dup-cluster shapes.
    """
    from database_join_spark import session as S

    sc = pairs.sparkSession.sparkContext

    def ckpt(df: DataFrame) -> tuple[DataFrame, set[int]]:
        before = _persistent_rdd_ids(sc)
        out = df.localCheckpoint(eager=True)
        return out, _persistent_rdd_ids(sc) - before

    edges, edge_ids = ckpt(  # reused every round: materialize once
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    )
    labels, label_ids = ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
    )
    for _ in range(max_iterations):
        prop = edges.join(
            labels, edges.src == labels.id
        ).select(F.col("dst").alias("id"), "cluster_id")
        new, new_ids = ckpt(
            prop.union(labels)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        changed = (
            new.join(
                labels.withColumnRenamed("cluster_id", "old"), "id"
            )
            .filter(F.col("cluster_id") != F.col("old"))
            .limit(1)
            .count()
        )
        _release_rdds(sc, label_ids)  # old round: dead once compared
        labels, label_ids = new, new_ids
        if changed == 0:
            break
    _release_rdds(sc, edge_ids)
    # The returned frame READS the final checkpoint's blocks — release
    # them only at the next query's entry, like track_persist.
    S._PERSIST_POOL.append(_CheckpointHandle(sc, label_ids))
    return labels


def pair_payloads(
    items: DataFrame,
    cand: DataFrame,
    id_col: str,
    payload_col: str,
) -> DataFrame:
    """Attach both sides' payload columns to candidate pairs,
    scale-safely: (id_a, id_b, {payload}_a, {payload}_b).

    The naive spelling — ``items ⋈ broadcast(cand) ⋈ items`` — leaves
    the second join's strategy to Catalyst size estimates, and a
    derived payload column (shingle arrays, fingerprint sets) has no
    reliable static estimate: measured at the 1M-doc probe scale,
    Spark statically planned a broadcast of the full 1.8 GB shingle
    table and aborted on ``spark.driver.maxResultSize`` (the 100k-doc
    runs only survived because 180 MB squeaked under the 1 GiB cap).

    Scale-safe shape: semi-filter BOTH payload sides down to the
    candidate ids first — broadcasting only the distinct-id lists,
    bounded by duplicate mass — then join the two candidate-mass-
    sized frames with no hint. Static planning cannot broadcast a
    payload table here (a semi-join output inherits its left side's
    conservative size estimate, far over the threshold), so the
    strategy decision falls to AQE's measured runtime sizes: at
    fixture scale it converts to a broadcast join; at corpus scale it
    keeps the shuffle. Either way a broadcast can only ever carry
    candidate-mass rows, never the full table. Payloads move only for
    docs that actually appear in a candidate pair.
    """
    from database_join_spark.session import track_persist

    # The plan reads ``cand`` twice (semi filter + pair join) —
    # without materializing it, the candidate-generation subplan (an
    # LSH bucket self-join) re-executes per read, doubling the
    # operator's cost at every scale. Released by the next query's
    # entry (track_persist contract).
    cand = track_persist(cand)
    # a-side needs no pre-filter: joining the FULL payload frame with
    # the broadcast pair list is itself the prune — payloads are
    # scanned in place and only matching rows survive; nothing moves.
    a = items.select(
        F.col(id_col).alias("id_a"),
        F.col(payload_col).alias(f"{payload_col}_a"),
    )
    # b-side is the hazard: a second payload join whose left side is
    # already candidate-mass sized. Semi-filter b down to candidate
    # ids first (no .distinct() — left_semi ignores duplicates and
    # the broadcast is bounded by pair count either way), then leave
    # the final join unhinted: the semi output's conservative static
    # size estimate blocks a static broadcast of any payload table,
    # so the strategy falls to AQE's measured runtime sizes — at
    # fixture scale it converts to broadcast, at corpus scale it
    # shuffles candidate-mass rows only.
    b = items.join(
        F.broadcast(cand.select(F.col("id_b").alias(id_col))),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("id_b"),
        F.col(payload_col).alias(f"{payload_col}_b"),
    )
    return a.join(F.broadcast(cand), "id_a").join(b, "id_b")


# --------------------------------------------------------------------------
# Jaccard verification / brute baseline
# --------------------------------------------------------------------------
def jaccard(col_a: str, col_b: str) -> Column:
    """Exact Jaccard over two shingle-set columns (int sizes, one
    double division → bit-identical across engines).

    NULL for two empty sets (0/0) — ``nullif`` keeps ANSI mode from
    raising DIVIDE_BY_ZERO on degenerate documents.
    """
    inter = F.size(F.array_intersect(F.col(col_a), F.col(col_b)))
    union = F.size(F.col(col_a)) + F.size(F.col(col_b)) - inter
    return inter.cast("double") / F.nullif(union.cast("double"), F.lit(0.0))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def simhash(col: str = "text") -> Column:
    """64-bit SimHash over token xxhash64s (nested JVM lambdas).

    bit i of the signature = sign of Σ_tokens (±1 by token-hash bit i).
    Near-duplicate docs differ in O(few) bits → bucket by a prefix and
    hamming-verify within buckets (bit_count(xor) ≤ t).

    Single pass over the document: tokens are split and hashed ONCE,
    folded into a 64-counter array (one ±1 update per bit per token),
    then the counters collapse to signature bits. The earlier spelling
    put ``transform(tokens, xxhash64)`` inside the per-bit lambda of an
    ``aggregate(sequence(0, 63), ...)``, re-running the regex split +
    token hashing for every one of the 64 bits — the exact hazard
    :func:`shingles_from_tokens` documents. A column-hoist alone is
    not reliable here (the hash array would be referenced once in the
    expression tree, so CollapseProject may inline it right back into
    the per-bit lambda); instead the counts array is let-bound via
    ``transform(array(<counts>), cnts -> ...)``, whose lambda argument
    is evaluated exactly once by construction.
    """
    toks = TOKENS_SQL.format(c=col)
    return F.expr(
        f"""
        element_at(
          transform(
            array(
              aggregate(
                transform({toks}, t -> xxhash64(t)),
                array_repeat(0, 64),
                (acc, h) -> zip_with(
                  acc, sequence(0, 63),
                  (a, i) -> a + IF((shiftrightunsigned(h, i) & 1) = 1, 1, -1)
                )
              )
            ),
            cnts -> aggregate(
              sequence(0, 63),
              CAST(0 AS BIGINT),
              (acc, i) -> acc + IF(
                element_at(cnts, i + 1) > 0,
                shiftleft(CAST(1 AS BIGINT), i),
                CAST(0 AS BIGINT)
              )
            )
          ),
          1
        )
        """
    )
