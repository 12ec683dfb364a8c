"""Property tests for the non-oracled pipeline paths (SURVEY §7.4
risk 4): the approximate dedup/ANN operators must recover the planted
ground truth that the exact baselines establish on the fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from database_join_spark.queries import load_all
from tests.conftest import SF_DIR

REGISTRY = load_all()


def test_persisted_intermediates_released_by_next_query(spark):
    """Multi-pass dedup operators persist intermediates the returned
    frame still needs; the session pool must release them when the
    NEXT query configures the session (VERDICT r01: persist() without
    unpersist() leaked cache across a long shared-session run)."""
    from database_join_spark import session as S

    REGISTRY["dedup_minhash"].fn(spark, SF_DIR).collect()
    assert len(S._PERSIST_POOL) > 0  # signature/shingle tables cached
    # any subsequent query's entry drains the pool
    REGISTRY["scan_columnar"].fn(spark, SF_DIR).collect()
    assert S._PERSIST_POOL == []
    # storage is actually empty once the JVM processes the release
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() in (0, 1)  # async release


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


@pytest.fixture(scope="module")
def truth_pairs(spark):
    """Exact O(n²) Jaccard pairs — the ground truth for both
    approximate paths."""
    return _pairs(REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR))


def test_minhash_recall_and_precision(spark, truth_pairs):
    """MinHash-LSH + exact verify must equal the exact baseline:
    verification kills false positives (precision 1.0 by construction)
    and 8 bands × 4 rows catch J≥0.6 pairs w.h.p. (recall 1.0 on the
    planted fixtures)."""
    got = _pairs(REGISTRY["dedup_minhash"].fn(spark, SF_DIR))
    assert truth_pairs, "fixture should contain planted near-dup pairs"
    assert got - truth_pairs == set(), "verified candidates must be real"
    recall = len(got & truth_pairs) / len(truth_pairs)
    assert recall >= 0.9, f"minhash recall {recall} below floor"


def test_connected_components_chain_and_triangle(spark):
    """Label propagation must close multi-hop chains (forces several
    rounds: the 5-node chain has diameter 4 > 1 round of propagation)
    and keep disjoint components apart."""
    from database_join_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5, triangle 10-11-12 (+ redundant edge),
        # isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    want = (
        {(n, 1) for n in (1, 2, 3, 4, 5)}
        | {(n, 10) for n in (10, 11, 12)}
        | {(n, 20) for n in (20, 21)}
    )
    assert got == want


def test_simhash_finds_planted_dups(spark, truth_pairs):
    """SimHash hamming≤12 with 4-chunk pigeonhole blocking must
    recover most planted near-dup pairs. (Not all: simhash can place
    token-multiset changes far apart — truth pairs at hamming 31/53
    are invisible to ANY simhash scheme at this threshold.)"""
    got = _pairs(REGISTRY["dedup_simhash"].fn(spark, SF_DIR))
    recall = len(got & truth_pairs) / len(truth_pairs)
    assert recall >= 0.7, f"simhash recall {recall} below floor"


@pytest.mark.parametrize(
    "ann,floor", [("simsearch_lsh", 0.3), ("simsearch_ivf", 0.3)]
)
def test_ann_topk_recall(spark, ann, floor):
    """Both ANN paths must overlap the exact top-k above a floor."""
    exact = REGISTRY["simsearch_embed"].fn(spark, SF_DIR).collect()
    approx = REGISTRY[ann].fn(spark, SF_DIR).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= floor, f"{ann} recall@5 {recall} below floor"


def test_ann_stored_index_equals_inline(spark, tmp_path):
    """The stored-index surfaces (round 8, VERDICT r07 #6) must be
    RESULT-IDENTICAL to the inline spelling: lsh_corpus_buckets
    written to parquet and read back, and ivf_index round-tripped
    through a cell-partitioned parquet + JSON centroids, each
    reproduce the exact same top-k rows — the signatures/centroids
    are seeded constants, so stored state is equivalence, not
    approximation."""
    import json as _json

    from pyspark.sql import functions as F

    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0).limit(5)

    def rows(df):
        return sorted(
            (r["query_id"], r["rnk"], r["neighbor_id"], r["cos_sim"])
            for r in df.collect()
        )

    inline = rows(S.lsh_topk(emb, queries, k=5, bits=4, tables=8))
    S.lsh_corpus_buckets(emb, bits=4, tables=8).write.parquet(
        str(tmp_path / "lsh")
    )
    stored = rows(
        S.lsh_topk(
            emb,
            queries,
            k=5,
            bits=4,
            tables=8,
            corpus_buckets=spark.read.parquet(str(tmp_path / "lsh")),
        )
    )
    assert stored == inline

    ivf_inline = rows(
        S.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3)
    )
    corpus, cents = S.ivf_index(emb, n_centroids=8)
    corpus.write.partitionBy("cell").parquet(str(tmp_path / "ivf"))
    (tmp_path / "cents.json").write_text(_json.dumps(cents))
    back = [
        (int(c), [float(x) for x in v])
        for c, v in _json.loads((tmp_path / "cents.json").read_text())
    ]
    ivf_stored = rows(
        S.ivf_topk(
            None,
            queries,
            k=5,
            n_probe=3,
            index=(spark.read.parquet(str(tmp_path / "ivf")), back),
        )
    )
    assert ivf_stored == ivf_inline


def test_stored_ann_query_ids_match_inline_twins(spark):
    """The registry-level stored twins (rotation 7, VERDICT r08 #4)
    must return exactly the inline twins' rows: same fixtures, same
    knobs, the only difference is the parquet round trip through the
    materialized index (fingerprint-validated). This parity pin is
    the declared non-oracle validation for the two rows-only ids."""

    def rows(qid):
        return sorted(
            (r["query_id"], r["rnk"], r["neighbor_id"], r["cos_sim"])
            for r in REGISTRY[qid].fn(spark, SF_DIR).collect()
        )

    assert rows("simsearch_lsh_stored") == rows("simsearch_lsh")
    assert rows("simsearch_ivf_stored") == rows("simsearch_ivf")


def test_stored_ann_fingerprint_rejects_mismatched_state(spark):
    """ADVICE r08 (medium): a stored index built with different
    knobs, or an index whose two halves come from different builds,
    must raise — not silently degrade top-k."""
    import pytest as _pytest

    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)

    buckets = S.lsh_corpus_buckets(emb, bits=4, tables=4)
    with _pytest.raises(ValueError, match="fingerprint mismatch"):
        S.lsh_topk(
            emb, queries, k=3, bits=8, tables=4, corpus_buckets=buckets
        )

    corpus, cents = S.ivf_index(emb, n_centroids=4)
    tampered = [(c, [x + 1.0 for x in v]) for c, v in cents]
    with _pytest.raises(ValueError, match="fingerprint mismatch"):
        S.ivf_topk(None, queries, k=3, index=(corpus, tampered))

    # a table not written by the operator (no fingerprint) is also
    # rejected, and the both-None misuse gets a clear error
    bare = corpus.select(
        "neighbor_id", "c_vec", "cell", F.col("c_n2").cast("long").alias("c_n2")
    )
    with _pytest.raises(ValueError, match="fingerprint"):
        S.ivf_topk(None, queries, k=3, index=(bare, cents))
    with _pytest.raises(ValueError, match="pass either"):
        S.ivf_topk(None, queries)


def test_multimodal_schema_and_batching(spark):
    """The Arrow mapInPandas plumbing: fixed schema, one output row
    per input doc, modality features decoded from the actual payload
    bytes (PNG IHDR, WAV fmt/data) matching the doc_id arithmetic."""
    df = REGISTRY["multimodal_features"].fn(spark, SF_DIR)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "modality", "n_bytes", "checksum", "head_hex",
        "width", "height", "sample_rate", "n_samples",
    ]
    rows = df.collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == docs
    for r in rows:
        d = r["doc_id"]
        if d % 3 == 0:
            assert r["modality"] == "png"
            assert (r["width"], r["height"]) == (4 + d % 13, 3 + d % 7)
        elif d % 3 == 1:
            assert r["modality"] == "wav"
            assert r["sample_rate"] == 8000
            assert r["n_samples"] == 400 + (d % 50) * 10
        else:
            assert r["modality"] == "text-blob"
            assert r["checksum"] is not None


def test_png_codec_roundtrip():
    """Full decode of a real PNG: chunk walk with CRC checks, IDAT
    inflate, scanline unfilter — pixels must equal the generator
    formula (and survive an external-ish re-encode via resize)."""
    from database_join_spark.operators.multimodal import (
        decode_png,
        encode_png,
        resize_image,
    )

    payload = encode_png(11, 5, seed=42)
    img = decode_png(payload)
    assert (img["width"], img["height"], img["bit_depth"]) == (11, 5, 8)
    for y in range(5):
        for x in range(11):
            assert img["pixels"][y * 11 + x] == (x + y + 42) % 256
    # nearest-neighbor resize is a decode→transform→encode round trip
    small = decode_png(resize_image(payload, 4, 2))
    assert (small["width"], small["height"]) == (4, 2)
    assert small["pixels"][0] == img["pixels"][0]  # corner preserved
    # corrupted CRC must be rejected, not silently parsed
    broken = bytearray(payload)
    broken[-5] ^= 0xFF  # IEND CRC byte
    with pytest.raises(ValueError):
        decode_png(bytes(broken))


def test_wav_codec_roundtrip():
    from database_join_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    payload = encode_wav(450, 8000, seed=7)
    assert len(payload) == 44 + 2 * 450  # the oracle's size formula
    wav = decode_wav(payload)
    assert wav["sample_rate"] == 8000
    assert wav["n_samples"] == 450
    assert wav["n_channels"] == 1 and wav["bits"] == 16
    assert wav["mean_abs"] > 0


def test_winnow_finds_planted_dups(spark, truth_pairs):
    """Rolling-hash winnowed fingerprints must recover most planted
    near-dup pairs (char-level fingerprints survive word-local
    edits)."""
    got = _pairs(REGISTRY["text_winnow"].fn(spark, SF_DIR))
    recall = len(got & truth_pairs) / len(truth_pairs)
    assert recall >= 0.7, f"winnow recall {recall} below floor"


def test_frame_sampling_plumbing(spark):
    """One input row explodes into ~n_frames/every_n frame rows with
    a stable schema — the video-sampling mapInPandas contract."""
    from database_join_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    frames = sample_frames(attach_binary_payload(docs), every_n=5)
    rows = frames.collect()
    assert [f.name for f in frames.schema.fields] == [
        "doc_id", "frame_idx", "frame_payload",
    ]
    assert len(rows) > 20  # explosion happened
    assert all(r["frame_idx"] % 5 == 0 for r in rows)
    assert all(isinstance(r["frame_payload"], (bytes, bytearray)) for r in rows[:5])


def test_undecodable_formats_raise():
    """Formats that genuinely need native libs (JPEG) must fail
    loudly, not silently fake; garbage must be rejected as garbage."""
    from database_join_spark.operators.multimodal import (
        decode_image,
        encode_png,
        resize_image,
    )

    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff")  # JPEG magic
    with pytest.raises(ValueError):
        decode_image(b"garbage bytes")
    with pytest.raises(ValueError):
        resize_image(b"\xff\xd8\xff", 224, 224)  # resize is PNG-only
    # PNG path is REAL now — decode_image dispatches on magic bytes
    assert decode_image(encode_png(6, 4, 1))["width"] == 6


def test_decontam_minhash_recall_and_precision(spark):
    """Cross-corpus near-dup decontamination must recover the exact
    cross-split Jaccard ground truth: the LSH bucket join only
    PRUNES, and verification restores precision 1.0; b=16/r=2 puts
    the candidate S-curve threshold at ~0.25, so J≥0.6 leaks are
    caught w.h.p. (the sf0.001 fixture plants two)."""
    from pyspark.sql import functions as F

    from database_join_spark.operators import dedup as D
    from database_join_spark.operators import text as T
    from database_join_spark.queries.pipeline import (
        _DECON_MOD,
        JACCARD_THRESHOLD,
        SHINGLE_N,
        _docs,
    )

    sh = (
        _docs(spark, SF_DIR)
        .select("doc_id", T.tokens("text").alias("toks"))
        .select(
            "doc_id", D.shingles_from_tokens("toks", SHINGLE_N).alias("sh")
        )
    )
    ev = sh.filter(F.col("doc_id") % _DECON_MOD == 0).select(
        F.col("doc_id").alias("eval_doc_id"), F.col("sh").alias("sh_e")
    )
    corpus = sh.filter(F.col("doc_id") % _DECON_MOD != 0)
    truth = {
        (r["doc_id"], r["eval_doc_id"])
        for r in (
            corpus.crossJoin(F.broadcast(ev))  # O(n*m) baseline: test-only
            .select(
                "doc_id", "eval_doc_id", D.jaccard("sh", "sh_e").alias("jac")
            )
            .filter(F.col("jac") >= JACCARD_THRESHOLD)
            .collect()
        )
    }
    assert truth, "fixture should plant cross-split near-dup leaks"
    truth_docs = {d for d, _ in truth}

    got = {
        r["doc_id"]: r["n_eval_matches"]
        for r in REGISTRY["decontam_minhash"].fn(spark, SF_DIR).collect()
    }
    # precision 1.0: every flagged doc is a true leak, and the exact
    # re-verify can never report MORE matches than the ground truth
    assert set(got) <= truth_docs, "verified flags must be real leaks"
    for doc, n in got.items():
        assert n <= sum(d == doc for d, _ in truth), doc
    recall = len(set(got) & truth_docs) / len(truth_docs)
    assert recall >= 0.9, f"decontam_minhash recall {recall} below floor"


def test_substring_excision_round_trip(spark):
    """ExactSubstr end-to-end (VERDICT r04 #4): spans found on a
    planted cross-doc overlap are excised from ALL copies, untouched
    docs pass through verbatim, and the cleaned corpus re-run through
    the span finder yields ZERO spans (no duplicated k-window can
    survive its own removal)."""
    from pyspark.sql import functions as F

    from database_join_spark.queries.pipeline import (
        _SUBSTR_K,
        substring_excise_frame,
        substring_spans_frame,
    )

    shared = " ".join(f"dup{i}" for i in range(_SUBSTR_K + 4))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta epsilon zeta"),
            (2, "one two three four " + shared + " five six"),
            (3, "unrelated filler words only seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    spans = substring_spans_frame(docs).collect()
    assert {r.doc_id for r in spans} == {1, 2}
    cleaned = substring_excise_frame(docs)
    rows = {r.doc_id: r for r in cleaned.collect()}
    assert rows[3].n_tokens_removed == 0
    assert rows[3].clean_text == "unrelated filler words only seven eight nine ten"
    # the planted run is exactly the duplicated window cover in both docs
    assert rows[1].n_tokens_removed == _SUBSTR_K + 4
    assert rows[2].n_tokens_removed == _SUBSTR_K + 4
    for tok in shared.split():
        assert tok not in rows[1].clean_text.split()
        assert tok not in rows[2].clean_text.split()
    # round 10: the hashed window-key spelling (at-scale shuffle
    # saver, SUBSTR_HASHKEY_PROBE) must find the identical spans and
    # excise identically on the same corpus
    spans_h = substring_spans_frame(docs, hash_keys=True).collect()
    assert {
        (r.doc_id, r.span_start, r.span_end) for r in spans_h
    } == {(r.doc_id, r.span_start, r.span_end) for r in spans}
    rows_h = {
        r.doc_id: r
        for r in substring_excise_frame(docs, hash_keys=True).collect()
    }
    assert {
        (d, r.n_tokens_removed, r.clean_text)
        for d, r in rows_h.items()
    } == {
        (d, r.n_tokens_removed, r.clean_text) for d, r in rows.items()
    }
    assert rows[1].clean_text.startswith("alpha beta")
    assert rows[1].clean_text.endswith("gamma delta epsilon zeta")
    # round 11: the tokenize-once spelling (pre-tokenized input,
    # token-array output — what the composed-pipeline shared-tokens
    # arm runs) must produce the identical excisions
    from database_join_spark.operators import text as T
    from database_join_spark.queries.pipeline import (
        substring_excise_from_tokens,
    )

    rows_t = {
        r.doc_id: r
        for r in substring_excise_from_tokens(
            docs.select("doc_id", T.tokens("text").alias("toks"))
        ).collect()
    }
    assert {
        (d, r.n_tokens_removed, " ".join(r.toks_clean))
        for d, r in rows_t.items()
    } == {
        (d, r.n_tokens_removed, r.clean_text) for d, r in rows.items()
    }
    # round 11: the persisted-window-keys spelling (pays key
    # production once across the span plan's two consumers,
    # SUBSTR_WINCACHE_PROBE) must find the identical spans and
    # excise identically
    from database_join_spark.queries.pipeline import (
        substring_spans_from_window_keys,
        substring_window_keys,
    )

    toks = docs.select("doc_id", T.tokens("text").alias("toks"))
    wkeys = substring_window_keys(toks, hash_keys=True).persist()
    try:
        wkeys.count()
        spans_k = substring_spans_from_window_keys(wkeys).collect()
        assert {
            (r.doc_id, r.span_start, r.span_end) for r in spans_k
        } == {(r.doc_id, r.span_start, r.span_end) for r in spans}
        rows_k = {
            r.doc_id: r
            for r in substring_excise_from_tokens(
                toks, keys_df=wkeys
            ).collect()
        }
        assert {
            (d, r.n_tokens_removed, " ".join(r.toks_clean))
            for d, r in rows_k.items()
        } == {
            (d, r.n_tokens_removed, r.clean_text) for d, r in rows.items()
        }
    finally:
        wkeys.unpersist()
    re_docs = cleaned.select("doc_id", F.col("clean_text").alias("text"))
    assert substring_spans_frame(re_docs).count() == 0


# --------------------------------------------------------------------------
# topic_kmeans — exact-integer k-means must agree bit-for-bit with an
# independent numpy reimplementation (its declared validation contract)
# --------------------------------------------------------------------------
def _kmeans_numpy(sf_dir: str, k: int, iterations: int):
    """Independent exact-int64 Lloyd's k-means on the raw parquet."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.asarray(t["vec_id"])
    emb = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
    order = np.argsort(ids)
    ids, emb = ids[order], emb[order]
    q = np.floor(emb.astype(np.float64) * 10_000_000).astype(np.int64)
    cents = q[:k].copy()
    inertia_hist = []

    def assign(c):
        d = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)  # first min — matches array_position
        return a, d[np.arange(len(q)), a]

    for _ in range(iterations):
        a, dmin = assign(cents)
        inertia_hist.append(int(dmin.sum()))
        for j in range(k):
            m = q[a == j]
            if len(m):
                # floor division, matching the operator's Python //
                cents[j] = np.floor_divide(m.sum(axis=0), len(m))
    a, dmin = assign(cents)
    return ids, a + 1, dmin, inertia_hist, (q, cents)


def test_topic_kmeans_assignments_match_numpy_exactly(spark):
    from database_join_spark.operators.similarity import kmeans_fit
    from database_join_spark.catalog import table
    from database_join_spark.queries.pipeline import (
        _KMEANS_ITERS,
        _KMEANS_K,
    )

    ids, clusters, sqd, _, _ = _kmeans_numpy(SF_DIR, _KMEANS_K, _KMEANS_ITERS)
    expected = {
        int(i): (int(c), int(d)) for i, c, d in zip(ids, clusters, sqd)
    }
    assigned, _, _ = kmeans_fit(
        table(spark, SF_DIR, "embeddings"),
        k=_KMEANS_K,
        iterations=_KMEANS_ITERS,
    )
    got = {
        r["id"]: (r["cluster"], r["sqdist"]) for r in assigned.collect()
    }
    assert got == expected  # bit-for-bit: every id, cluster AND distance


def test_topic_kmeans_query_shape_and_exact_aggregates(spark):
    from database_join_spark.queries.pipeline import _KMEANS_ITERS, _KMEANS_K

    ids, clusters, sqd, _, _ = _kmeans_numpy(SF_DIR, _KMEANS_K, _KMEANS_ITERS)
    rows = REGISTRY["topic_kmeans"].fn(spark, SF_DIR).collect()
    assert [r["cluster"] for r in rows] == list(range(1, _KMEANS_K + 1))
    assert sum(r["n_members"] for r in rows) == len(ids)
    for r in rows:
        mask = clusters == r["cluster"]
        assert r["n_members"] == int(mask.sum())
        assert int(r["inertia_q14"]) == int(sqd[mask].sum())


def test_topic_kmeans_objective_is_monotone_nonincreasing(spark):
    from database_join_spark.operators.similarity import kmeans_fit
    from database_join_spark.catalog import table

    _, _, hist = kmeans_fit(
        table(spark, SF_DIR, "embeddings"),
        k=4,
        iterations=4,
        track_inertia=True,
    )
    assert len(hist) == 4
    # Lloyd's with exact arithmetic can never increase the objective
    assert all(a >= b for a, b in zip(hist, hist[1:]))


def test_kmeans_assign_topm_matches_numpy_stable_argsort(spark):
    """Multi-probe blocking must emit EXACTLY the m nearest centroids
    per vector, ties broken to the lowest cluster index — pinned
    bit-for-bit against numpy argsort(kind='stable') on the same
    exact-int64 distances (dedup_semantic's blocking contract)."""
    import numpy as np

    from database_join_spark.catalog import table
    from database_join_spark.operators.similarity import (
        _quant,
        kmeans_assign_topm,
        kmeans_fit,
    )
    from pyspark.sql import functions as F

    emb = table(spark, SF_DIR, "embeddings")
    _, cents, _ = kmeans_fit(emb, k=10, iterations=3)

    ids, _, _, _, (q, np_cents) = _kmeans_numpy(SF_DIR, 10, 3)
    assert [list(c) for c in np_cents] == cents  # same fit first
    d = ((q[:, None, :] - np.asarray(cents)[None, :, :]) ** 2).sum(axis=2)
    m = 3
    expected = {
        (int(i), int(b) + 1)
        for i, row in zip(ids, np.argsort(d, axis=1, kind="stable")[:, :m])
        for b in row
    }
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.expr(_quant("embedding")).alias("qv"),
    )
    got = {
        (r["id"], r["block"])
        for r in kmeans_assign_topm(base, cents, m=m).collect()
    }
    assert got == expected

    # Distance-ratio adaptive probing (round 9, VERDICT r08 #6):
    # within the top-m cap, keep centroid j iff d²_j·q ≤ d²_min·p
    # for ratio p/q — pinned against the same integer rule in numpy.
    # ratio=1.5 → p/q = 3/2, exact.
    order = np.argsort(d, axis=1, kind="stable")[:, :m]
    dmin = d[np.arange(len(ids)), order[:, 0]]
    expected_adaptive = {
        (int(i), int(b) + 1)
        for idx, (i, row) in enumerate(zip(ids, order))
        for b in row
        if int(d[idx, b]) * 2 <= int(dmin[idx]) * 3
    }
    got_adaptive = {
        (r["id"], r["block"])
        for r in kmeans_assign_topm(
            base, cents, m=m, ratio=1.5
        ).collect()
    }
    assert got_adaptive == expected_adaptive
    assert got_adaptive <= got  # cap respected
    # every vector keeps its home block
    assert {i for i, _ in got_adaptive} == {int(i) for i in ids}
    # A ratio the q<=8 integer filter can't represent exactly must
    # raise, not silently snap (ADVICE r09: 1.1 would become 9/8).
    with pytest.raises(ValueError, match="not exactly representable"):
        kmeans_assign_topm(base, cents, m=m, ratio=1.1)


def test_kmeans_fit_clamps_k_to_row_count(spark, monkeypatch):
    """k larger than the input row count must degrade gracefully
    (every row its own cluster) instead of IndexError in the
    centroid-update loop. The distributed loop lands on the driver
    fit's centroids and inertia history without iterating: fewer
    seeds than k are Lloyd's fixed point, so the fit costs the
    probe's dim ``head`` and the seed collect, no per-iteration
    jobs."""
    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S
    from tests.test_catalog import jobs_started

    emb = table(spark, SF_DIR, "embeddings").filter("vec_id < 3")
    assigned, cents, hist = S.kmeans_fit(
        emb, k=10, iterations=2, track_inertia=True
    )
    assert len(cents) == 3
    assert hist == [0, 0]
    rows = assigned.collect()
    assert len(rows) == 3
    assert all(r["sqdist"] == 0 for r in rows)  # each row sits on its seed
    monkeypatch.setattr(S, "DRIVER_FIT_MAX_CELLS", 0)  # distributed loop
    out = []
    jobs = jobs_started(
        spark,
        lambda: out.append(
            S.kmeans_fit(emb, k=10, iterations=2, track_inertia=True)
        ),
    )
    assert jobs == 2
    assert out[0][1:] == (cents, hist)


def test_kmeans_fit_driver_bit_parity_with_distributed(spark, monkeypatch):
    """The bounded driver-side Lloyd loop (round 13,
    DRIVER_FIT_MAX_CELLS — the fit-overhead fix measured in
    SEMDEDUP_SF01_WALL_PROBE.json) must land on BIT-IDENTICAL
    centroids and inertia history as the distributed loop: same
    k-lowest-id seed, exact int64 distances, argmin's first-minimum
    tie break == array_position(array_min), same floor-div update,
    empty clusters keeping their previous centroid."""
    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")

    def fits():  # (centroids, inertia history) per (k, iterations)
        return [
            S.kmeans_fit(emb, k=k, iterations=it, track_inertia=True)[1:]
            for k, it in [(10, 3), (24, 2)]
        ]

    driver = fits()
    monkeypatch.setattr(S, "DRIVER_FIT_MAX_CELLS", 0)  # distributed loop
    assert fits() == driver


def test_driver_fit_probe_contract(spark):
    """Round-14 pins for the folded driver-fit probe (ADVICE r13):

    - k·dim over DRIVER_FIT_MAX_CELLS skips WITHOUT collecting (the
      old ``max(k, …)`` row cap collected up to k full-dim rows —
      ~0.7 GB at k=110k/dim=768 — only to fall back anyway);
    - an ``n_hint`` proving the input over the row cap skips the
      collect outright (large fits pay one head() job);
    - a small input collects, an over-cap input is not collected
      (None), an empty input gives an empty list;
    - an honest n_hint leaves kmeans_fit's centroids bit-identical.
    """
    from pyspark.sql import functions as F

    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.expr(S._quant("embedding")).alias("qv"),
    )
    # dim=64 → k·dim over budget at k > 2^22/64
    k_big = S.DRIVER_FIT_MAX_CELLS // 64 + 1
    assert S._driver_fit_rows(base, k_big) is None
    # n_hint over the row cap: skipped without a collect
    assert (
        S._driver_fit_rows(base, 10, n_hint=S.DRIVER_FIT_MAX_CELLS)
        is None
    )
    # small input: collected (the fixture is 500 rows at dim 64)
    rows = S._driver_fit_rows(base, 10)
    assert isinstance(rows, list) and len(rows) == 500
    # honest hint == no hint
    rows_h = S._driver_fit_rows(base, 10, n_hint=500)
    assert isinstance(rows_h, list) and len(rows_h) == 500
    # over-cap input: not collected (shrink the budget so the
    # fixture itself overflows the row cap)
    import database_join_spark.operators.similarity as sim

    old = sim.DRIVER_FIT_MAX_CELLS
    try:
        sim.DRIVER_FIT_MAX_CELLS = 64 * 100  # cap = 100 rows
        assert S._driver_fit_rows(base, 2) is None
    finally:
        sim.DRIVER_FIT_MAX_CELLS = old
    # empty input: empty list from the probe
    empty = base.filter("id < 0")
    assert S._driver_fit_rows(empty, 10) == []
    # n_hint plumbing through kmeans_fit: same centroids either way
    _, c0, h0 = S.kmeans_fit(emb, k=10, iterations=2, track_inertia=True)
    _, c1, h1 = S.kmeans_fit(
        emb, k=10, iterations=2, track_inertia=True, n_hint=500
    )
    assert c0 == c1 and h0 == h1
    # dim_hint (round 14): skips the head(1) job, same rows/centroids;
    # the cached catalog statistic must agree with the data
    from database_join_spark.plans.stats import parquet_list_dim

    dim = parquet_list_dim(f"{SF_DIR}/embeddings.parquet", "embedding")
    assert dim == 64
    rows_d = S._driver_fit_rows(base, 10, dim_hint=dim)
    assert isinstance(rows_d, list) and len(rows_d) == 500
    _, c2, h2 = S.kmeans_fit(
        emb, k=10, iterations=2, track_inertia=True,
        n_hint=500, dim_hint=dim,
    )
    assert c0 == c2 and h0 == h2
    # k·dim_hint over budget: skipped with zero jobs
    assert S._driver_fit_rows(base, k_big, dim_hint=dim) is None


def test_driver_fit_probe_checks_dim_hint(spark, monkeypatch):
    """A too-small ``dim_hint`` inflates the probe's row cap; the
    collected rows' real dim must re-derive it, so the 500 dim-64
    fixture rows that fit a dim-8 cap of 800 but not the real cap
    of 100 are not handed to the driver fit, and the fit and the
    pairs come out as with the right hint."""
    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.expr(S._quant("embedding")).alias("qv"),
    )
    monkeypatch.setattr(S, "DRIVER_FIT_MAX_CELLS", 64 * 100)
    assert S._driver_fit_rows(base, 2, dim_hint=8) is None
    assert S._driver_fit_rows(base, 2, dim_hint=64) is None

    def fit_and_pairs(dim_hint):
        cents, _ = S._fit_centroids(
            S._quant_base(emb, "vec_id", "embedding"),
            k=10, iterations=2, dim_hint=dim_hint,
        )
        pairs = sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in S.semdedup_pairs(
                emb, k=10, iterations=3, m=4, threshold=0.4,
                dim_hint=dim_hint,
            ).collect()
        )
        return cents, pairs

    right = fit_and_pairs(64)
    assert right[1], "fixtures must plant semantic dups"
    assert fit_and_pairs(8) == right


def test_semdedup_fallback_releases_fit_base(spark, monkeypatch):
    """semdedup_pairs keeps only the centroids of a sampled fit: every
    fit base ``_fit_centroids`` returns must be uncached once they are
    extracted, no cached RDD may outlive the call, and the pairs must
    be the full fit's wherever the sample holds fewer than k rows.
    Three sampled-fit outcomes: a driver-collected degenerate sample
    (two fit bases: sample, then corpus), a sample over the driver
    row cap (the distributed loop), and a probe skipped because k·dim
    alone is over the budget (the distributed loop's seed collect
    finds the degenerate sample; then the corpus fit). A fit base
    whose plan was cached before the fit began (an earlier test's
    ``kmeans_fit`` base) keeps that cache."""
    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")

    def pairs(**kw):
        # n_hint keeps the blocks in the one-task path, which caches
        # nothing of its own
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in S.semdedup_pairs(
                emb, k=10, iterations=3, m=4, threshold=0.4, n_hint=500,
                **kw,
            ).collect()
        )

    full = pairs()
    assert full, "fixtures must plant semantic dups"
    fit_bases = []
    stock_fit = S._fit_centroids

    def spy_fit(base, **kwargs):
        fit_bases.append((base, base.storageLevel))
        return stock_fit(base, **kwargs)

    monkeypatch.setattr(S, "_fit_centroids", spy_fit)
    persistent = spark.sparkContext._jsc.getPersistentRDDs

    def released_pairs(n_bases, **kw):
        """Pairs of one call, which must fit ``n_bases`` times and
        leave every fit base uncached."""
        fit_bases.clear()
        before = persistent().size()
        got = pairs(**kw)
        assert persistent().size() == before, kw
        assert len(fit_bases) == n_bases, kw
        for fb, level_before in fit_bases:
            assert fb.columns == ["id", "qv"]
            assert not fb.is_cached
            assert fb.storageLevel == level_before
        return got

    # a 1-in-1e9 sample holds fewer than k rows: the degenerate-sample
    # fallback fits the full corpus
    assert released_pairs(2, fit_sample_mod=10**9) == full
    # over budget: a 100-row cap under the ~250-row 1-in-2 sample
    # sends the sample fit to the distributed loop
    monkeypatch.setattr(S, "DRIVER_FIT_MAX_CELLS", 64 * 100)
    assert released_pairs(1, fit_sample_mod=2)
    # probe skipped: k·dim = 640 cells over a 320-cell budget; both
    # the degenerate sample and the corpus fit run distributed
    monkeypatch.setattr(S, "DRIVER_FIT_MAX_CELLS", 64 * 5)
    assert released_pairs(2, fit_sample_mod=10**9) == full


def test_sampled_fit_keeps_equal_plan_caches(spark):
    """Spark uncaches by plan, so a fit that releases a base it never
    persisted drops an equal-plan cache someone else holds. Frames
    equal to both fit bases of a degenerate-sample driver fit (the
    sample's and the corpus's), cached through ``track_persist``,
    must stay cached across the ``semdedup_pairs`` call."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S
    from database_join_spark.session import track_persist

    emb = table(spark, SF_DIR, "embeddings")
    mod = 10**9
    sample = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(mod)) == 0)
    held = [
        track_persist(S._quant_base(df, "vec_id", "embedding"))
        for df in (sample, emb)
    ]
    for df in held:
        df.count()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    got = S.semdedup_pairs(
        emb, k=10, iterations=3, m=4, threshold=0.4, n_hint=500,
        fit_sample_mod=mod,
    ).collect()
    assert got, "fixtures must plant semantic dups"
    assert persistent().size() == before
    for df in held:
        assert df.storageLevel != StorageLevel.NONE


def test_empty_embeddings_give_no_pairs_and_no_centroids(
    spark, monkeypatch
):
    """An empty embeddings frame is a valid input: semdedup_pairs
    returns zero pairs with or without a row-count hint (one-task
    and census paths), kmeans_fit an empty assignment and no
    centroids, on the driver fit and on the distributed loop."""
    from database_join_spark.operators import similarity as S

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    for n_hint in (None, 0, 10**6):
        got = S.semdedup_pairs(
            emb, k=10, iterations=3, m=4, threshold=0.4, n_hint=n_hint
        ).collect()
        assert got == [], n_hint
    for budget in (S.DRIVER_FIT_MAX_CELLS, 0):  # driver, distributed
        monkeypatch.setattr(S, "DRIVER_FIT_MAX_CELLS", budget)
        for dim_hint in (None, 64):
            assigned, cents, hist = S.kmeans_fit(
                emb, k=4, iterations=2, track_inertia=True,
                dim_hint=dim_hint,
            )
            assert cents == [] and hist == [], (budget, dim_hint)
            assert assigned.collect() == []
            assert assigned.columns == ["id", "qv", "cluster", "sqdist"]


# --------------------------------------------------------------------------
# dedup_semantic — k-means-bucketed semantic dedup must recover the
# exact all-pairs ground truth (its declared validation contract)
# --------------------------------------------------------------------------
def test_dedup_semantic_recall_vs_exact_all_pairs(spark):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = np.asarray(t["vec_id"])
    emb = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(
        np.float64
    )
    # exact ground truth, same quantized arithmetic as the operator
    q = np.floor(emb * 10_000_000).astype(np.int64)
    dots = q @ q.T
    n2 = np.diag(dots).astype(np.float64)
    cos = dots / np.sqrt(n2[:, None] * n2[None, :])
    iu = np.triu_indices(len(ids), k=1)
    hits = cos[iu] >= 0.4
    truth = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][hits], ids[iu[1]][hits])
    }
    got = _pairs(REGISTRY["dedup_semantic"].fn(spark, SF_DIR))
    assert truth, "fixtures must plant semantic dups"
    # precision exact by construction (pairs carry their true cosine)
    assert got <= truth
    # recall: planted near-dups co-cluster (boundary straddle = miss)
    assert len(got & truth) / len(truth) == 1.0


def test_semdedup_chunk_split_equals_unchunked(spark, monkeypatch):
    """Chunk-pair parallelism (skewed-block straggler fix) must be
    result-invariant: forcing every block to split (TARGET_CHUNK=40
    at n=500 → ~13 chunks/block) must reproduce the unchunked pair
    set AND cosines exactly — within-chunk triangles + cross-chunk
    rectangles tile the block's pair set with no overlap, and the
    arithmetic is the same exact int64 either way."""
    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")

    def pairs(**kw):
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in S.semdedup_pairs(
                emb, k=10, iterations=3, m=4, threshold=0.4, **kw
            ).collect()
        )

    base = pairs()
    # the n_hint one-task path (numpy assign + score in one mapInArrow
    # task when the corpus provably fits one chunk) must emit the
    # identical pair set and cosines as the census-driven machinery,
    # under adaptive probing too
    assert pairs(n_hint=500) == base
    assert pairs(n_hint=500, ratio=1.5) == pairs(ratio=1.5)
    monkeypatch.setattr(S, "SEMDEDUP_TARGET_CHUNK", 40)
    forced = pairs()
    assert forced == base
    assert base, "fixtures must plant semantic dups"


def test_semdedup_persist_skip_equals_persisted(spark, monkeypatch):
    """Round-14 memory-adaptive persist (guide §5): when the caller's
    catalog hints prove the blocks frame over
    SEMDEDUP_BLOCKS_PERSIST_MAX_BYTES, semdedup_pairs recomputes the
    (deterministic) assign per consumer instead of caching ~n·m·dim·8
    bytes — the 8M end-to-end OOM'd the default heap through exactly
    that cache (SEMDEDUP_8M_TUNE_PROBE.json). Forcing the budget to
    1 byte (every corpus over it) must reproduce the persisted
    census path's pair set and cosines exactly; n_hint > the corpus
    keeps the census machinery (not the one-task path) engaged so
    the skip branch itself is what runs; it needs no ``dim_hint``."""
    from database_join_spark import session
    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")
    persisted = []
    stock_persist = session.track_persist

    def spy_persist(df, *args, **kwargs):
        persisted.append("block" in df.columns)
        return stock_persist(df, *args, **kwargs)

    monkeypatch.setattr(session, "track_persist", spy_persist)

    def pairs(**kw):
        persisted.clear()
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in S.semdedup_pairs(
                emb, k=10, iterations=3, m=4, threshold=0.4, **kw
            ).collect()
        )

    # census path, persisted (hint absent -> budget not consulted)
    base = pairs(n_hint=None)
    assert any(persisted), "the census path caches its blocks frame"
    # census path, persist SKIPPED (hint present, budget forced to 1)
    monkeypatch.setattr(S, "SEMDEDUP_BLOCKS_PERSIST_MAX_BYTES", 1)
    skipped = pairs(n_hint=10**6, dim_hint=64)
    assert skipped == base
    # the fitted centroids give the dim: the row-count hint alone
    # proves the frame over budget
    assert pairs(n_hint=10**6) == base
    assert not any(persisted)
    assert base, "fixtures must plant semantic dups"


def test_block_scorer_exact_against_int64_all_pairs():
    """Spark-free pin of the block scorer against brute-force int64
    all-pairs: on triangle keys (ca == cb) and cross keys (ca < cb),
    with pairs planted within 1e-10 of the threshold, a zero vector,
    a one-row chunk and coordinates past float64's exact integer range
    (dim·max|q|² ≥ 2^53), every emitted pair is a pair of the key,
    once, id-ordered, with exact int64 dot and norms, and every pair
    whose cosine rounds (9 decimals) to at least the threshold is
    emitted."""
    import math

    import numpy as np
    import pandas as pd

    from database_join_spark.operators.similarity import _block_scorer

    thr, dim, scale = 0.9, 64, 10**8
    assert dim * scale * scale >= 1 << 53
    rng = np.random.default_rng(11)

    def planted(cos):
        """(a, b) with cosine within ~1e-16 of ``cos``: a = x·e₀ and
        b = x·e₀ + y with |y|² = x²(1/cos² − 1) as a sum of squares,
        then one random signed permutation of the coordinates."""
        x = scale
        r = round(x * x * (1 / (cos * cos) - 1))
        ys = []
        while r:
            ys.append(math.isqrt(r))
            r -= ys[-1] ** 2
        a = np.zeros(dim, np.int64)
        b = np.zeros(dim, np.int64)
        a[0] = b[0] = x
        b[1 : 1 + len(ys)] = ys
        perm = rng.permutation(dim)
        sign = rng.choice([-1, 1], dim)
        return a[perm] * sign, b[perm] * sign

    deltas = (-6e-10, -4e-10, -1e-10, 0.0, 1e-10, 6e-10)
    vecs = [v for d in deltas for v in planted(thr + d)]
    background = rng.integers(-scale, scale, (120, dim))
    near = background[:20] + rng.integers(-scale // 8, scale // 8, (20, dim))
    vecs += list(background) + list(near) + [np.zeros(dim, np.int64)]
    q = np.stack(vecs).astype(np.int64)
    n = len(q)
    ids = rng.choice(1 << 40, n, replace=False).astype(np.int64)
    zero_id = ids[-1]
    # chunk 2 holds exactly one row; the rest split over chunks 0 and 1
    ch = rng.integers(0, 2, n).astype(np.int32)
    ch[rng.integers(0, n)] = 2
    pdf = pd.DataFrame({"id": ids, "qv": list(q), "ch": ch})

    dots = q @ q.T  # brute force, exact: |dot| ≤ dim·scale² < 2^63
    n2 = np.diag(dots)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dots / (
            np.sqrt(n2.astype(np.float64))[:, None]
            * np.sqrt(n2.astype(np.float64))[None, :]
        )
    keep = np.round(cos, 9) >= thr
    planted_idx = [
        (2 * i, 2 * i + 1) for i, d in enumerate(deltas) if d > -5e-10
    ]
    for i, j in planted_idx:
        assert keep[i, j], (i, j, cos[i, j])
    pos = {int(v): i for i, v in enumerate(ids)}

    score = _block_scorer(thr)
    for ca, cb in ((0, 0), (1, 1), (2, 2), (0, 1), (0, 2), (1, 2)):
        a = np.flatnonzero(ch == ca)
        b = np.flatnonzero(ch == cb)
        key_pairs = {
            (min(ids[i], ids[j]), max(ids[i], ids[j]))
            for i in a
            for j in b
            if i != j
        }
        truth = {
            (min(ids[i], ids[j]), max(ids[i], ids[j]))
            for i in a
            for j in b
            if i != j and keep[i, j]
        }
        out = score((7, ca, cb), pdf)
        assert list(out.columns) == [
            "id_a", "id_b", "dot", "n2_a", "n2_b"
        ]
        got = list(zip(out["id_a"], out["id_b"]))
        assert len(got) == len(set(got)), (ca, cb)
        assert set(got) <= key_pairs, (ca, cb)
        assert truth <= set(got), (ca, cb)
        assert zero_id not in out["id_a"].values
        assert zero_id not in out["id_b"].values
        for r in out.itertuples():
            i, j = pos[r.id_a], pos[r.id_b]
            assert r.id_a < r.id_b
            assert (r.dot, r.n2_a, r.n2_b) == (
                dots[i, j], n2[i], n2[j]
            )
        if (ca, cb) == (2, 2):
            assert out.empty


def test_no_inferred_expensive_filters(spark):
    """Round-10 regression pin for two Catalyst inlining traps:
    (1) InferFiltersFromGenerate + CollapseProject turn a two-step
    alias-then-explode into a size>0 filter that re-inlines the
    array's defining expression — with the tokenizer re-substituted
    into every element_at, measured 19× on shingle streams
    (dedup.shingles_from_tokens docstring); (2) join-constraint
    isnotnull inference inlines a computed join key's whole
    expression as a per-row filter (a second k-means assign in
    topic_kmeans, a second signature fold in dedup_simhash).
    NO registry query may carry a filter whose condition embeds a
    heavy expression; the ≤200-char allowance covers legitimate
    single-tokenize gates (length filters). Round 11 (VERDICT r10
    #6): the scan is REGISTRY-WIDE — round 10's version hard-coded
    the 9 affected families, so a new query with a two-step explode
    would have shipped unguarded. The same detector
    (plans.heavy_inferred_filters) feeds PLANS.md's heavy-filter
    column; this test is the hard gate over the identical scan."""
    from database_join_spark import plans as P
    from database_join_spark.queries import load_all

    reg = load_all()
    offenders = {}
    for qid, spec in sorted(reg.items()):
        bad = P.heavy_inferred_filters(spec.fn(spark, SF_DIR))
        if bad:
            offenders[qid] = bad[0][:300]
    assert not offenders, (
        f"{len(offenders)} queries carry inlining-trap filters: "
        f"{offenders}"
    )


def test_semdedup_sampled_fit_contract(spark):
    """fit_sample_mod fits the k-means on the deterministic 1-in-mod
    hash-sample while the assign/score stays full-corpus (round 10,
    VERDICT r09 #6): every corpus vector must still land in a block
    and precision stays exact by construction (pairs carry their
    true cosine). Centroids move with the sample, so the pair SET
    can differ from the full fit — the at-scale recall evidence is
    SEMDEDUP_SAMPLEDFIT_PROBE.json; this pins the plumbing: sampled
    input reaches only the fit, and mod=1/None is the identity."""
    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S

    emb = table(spark, SF_DIR, "embeddings")

    def pairs(**kw):
        return sorted(
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in S.semdedup_pairs(
                emb, k=10, iterations=3, m=4, threshold=0.4, **kw
            ).collect()
        )

    base = pairs()
    assert pairs(fit_sample_mod=None) == base
    assert pairs(fit_sample_mod=1) == base
    sampled = pairs(fit_sample_mod=4)
    assert sampled, "sampled fit must still emit the planted dups"
    # precision-exactness is fit-independent: every emitted pair's
    # cosine clears the threshold (carried value is the true cosine)
    assert all(c >= 0.4 for _, _, c in sampled)
    # degenerate-sample guard (ADVICE r10): a mod so large the
    # 1-in-mod sample holds fewer than k vectors must fall back to
    # the full-corpus fit — identical pairs, never a silent
    # zero/low-centroid blocking pass
    assert pairs(fit_sample_mod=10**9) == base


def test_semdedup_gemm_int64_fallback_exact(spark):
    """A float64 GEMM over raw quantized coordinates stops being
    bit-exact once dim·max(|q|)² ≥ 2^53; the block scorer must still
    emit the exact quantized pairs past that range. 8× scaled
    embeddings (|q| ≈ 8e7 → 64·6.4e15 ≫ 2^53) must give the exact
    numpy int64 ground truth at the same threshold."""
    import numpy as np
    import pyarrow.parquet as pq

    from database_join_spark.catalog import table
    from database_join_spark.operators.similarity import semdedup_pairs
    from pyspark.sql import functions as F

    emb = table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(x * 8.0 AS FLOAT))"
        ).alias("embedding"),
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs(
            emb, k=10, iterations=3, m=4, threshold=0.4
        ).collect()
    }
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    ids = np.asarray(t["vec_id"])
    e = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
    # same float pipeline as the operator: float32 ×8, then quantize
    e8 = (e.astype(np.float32) * np.float32(8.0)).astype(np.float64)
    q = np.floor(e8 * 10_000_000).astype(np.int64)
    dots = q @ q.T
    n2 = np.diag(dots).astype(np.float64)
    cos = dots / np.sqrt(n2[:, None] * n2[None, :])
    iu = np.triu_indices(len(ids), k=1)
    hits = cos[iu] >= 0.4
    truth = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][hits], ids[iu[1]][hits])
    }
    assert got <= truth
    assert len(got & truth) / len(truth) == 1.0


def test_topm_exact_matches_stable_argsort_under_ties():
    """_topm_exact (round 12: the argpartition fast path inside the
    assign kernel) must equal argsort(kind='stable')[:, :m]
    on EVERY input — including planted exact distance ties at and
    across the selection boundary, where argpartition alone makes no
    stability promise."""
    import numpy as np

    from database_join_spark.operators.similarity import _topm_exact

    rng = np.random.default_rng(7)
    for trial in range(50):
        rows, k, m = 17, 23, 4
        # small value alphabet → dense exact ties
        d2 = rng.integers(0, 6, size=(rows, k)).astype(np.int64)
        order, sorted_d = _topm_exact(d2, m)
        ref = np.argsort(d2, axis=1, kind="stable")[:, :m]
        assert (order == ref).all(), (trial, d2[0])
        assert (
            sorted_d == np.take_along_axis(d2, ref, axis=1)
        ).all()
    # m >= k degenerate: full stable order
    d2 = rng.integers(0, 3, size=(5, 3)).astype(np.int64)
    order, _ = _topm_exact(d2, 8)
    assert (order == np.argsort(d2, axis=1, kind="stable")).all()


def test_assign_rows_matches_stable_argsort_and_ratio_rule(monkeypatch):
    """Spark-free pin of the assign kernel, ``_assign_rows``, on a
    one-cell index and on a routed (multi-cell) index against brute
    force: the stable argsort of the exact int64 distances over the
    centroids the row may see (all of them for one cell; the cells
    its coarse probe keeps for the router), capped at m, then the
    integer ratio rule d²·q ≤ d²_min·p. Planted ties (a small value
    alphabet and duplicated centroids), m in {1, 4}, ratio in
    {None, 1.5}, k < m and k = 0."""
    import numpy as np

    from database_join_spark.operators import similarity as S
    from database_join_spark.plans import sizing

    def brute(q, cents, m, ratio, allowed):
        rows, blocks, dists = [], [], []
        for i, v in enumerate(q):
            d = ((v[None, :] - cents) ** 2).sum(axis=1)
            order = [
                j for j in np.argsort(d, kind="stable") if allowed[i, j]
            ][:m]
            for j in order:
                if ratio is None or d[j] * 2 <= d[order[0]] * 3:
                    rows.append(i)
                    blocks.append(j + 1)
                    dists.append(d[j])
        return rows, blocks, dists

    def cells_probed(q, index):
        """Brute-force coarse probe: per row, the cells among its
        COARSE_PROBE_M nearest (stable) within ratio 2 of the nearest,
        expanded to the fine centroids (by block id) they hold."""
        coarse, _n2c, _f, _n2f, block_of, starts = index
        cell_of_block = np.empty(len(block_of), np.int64)
        for c in range(len(coarse)):
            cell_of_block[block_of[starts[c] : starts[c + 1]] - 1] = c
        allowed = np.zeros((len(q), len(block_of)), bool)
        for i, v in enumerate(q):
            d = ((v[None, :] - coarse) ** 2).sum(axis=1)
            near = np.argsort(d, kind="stable")[: S.COARSE_PROBE_M]
            kept = [c for c in near if d[c] * 1 <= d[near[0]] * 2]
            allowed[i] = np.isin(cell_of_block, kept)
        return allowed

    rng = np.random.default_rng(11)
    q = rng.integers(0, 6, size=(60, 5)).astype(np.int64)
    cents = rng.integers(0, 6, size=(23, 5)).astype(np.int64)
    cents[7] = cents[3]  # an exact distance tie at every row
    cases = []
    one_cell = S._assign_index(cents.tolist())
    assert one_cell[0] is None  # fixture k: no router fit
    cases.append((cents, one_cell, np.ones((len(q), len(cents)), bool)))
    monkeypatch.setattr(sizing, "TWOLEVEL_ASSIGN_MIN_K", 4)
    routed = S._assign_index(cents.tolist())
    assert len(routed[0]) > 1
    cases.append((cents, routed, cells_probed(q, routed)))
    small = cents[:3]  # k < m
    cases.append(
        (small, S._assign_index(small.tolist()), np.ones((len(q), 3), bool))
    )
    for cs, index, allowed in cases:
        for m in (1, 4):
            for ratio in (None, 1.5):
                frac = None if ratio is None else S._snap_ratio(ratio)
                got = S._assign_rows(q, index, m, frac)
                want = brute(q, cs, m, ratio, allowed)
                assert [list(x) for x in got] == [list(x) for x in want], (
                    len(cs), index[0] is None, m, ratio,
                )
    # k = 0: no blocks, any m, either index threshold
    for m in (1, 4):
        row, block, d2 = S._assign_rows(q, S._assign_index([]), m, None)
        assert len(row) == len(block) == len(d2) == 0


def test_twolevel_assign_matches_flat_and_dispatches(spark, monkeypatch):
    """Round-13 two-level quantizer (VERDICT r12 #2): on the shipped
    SemDeDup spellings (ratio-capped m=4 and nearest-only m=1) the
    coarse→fine assign must emit the BIT-IDENTICAL (id, block) set as
    the one-cell index — the router never touches the fine centroids,
    so any probe covering the true top-m cells reproduces the flat
    output exactly. Also pins the router invariants (every returned
    cell non-empty, indexes dense) and that the router is fitted
    exactly when k reaches the sizing threshold."""
    import numpy as np

    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S
    from database_join_spark.plans import sizing
    from pyspark.sql import functions as F

    emb = table(spark, SF_DIR, "embeddings")
    _, cents, _ = S.kmeans_fit(emb, k=24, iterations=2)
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.expr(S._quant("embedding")).alias("qv"),
    )
    calls = []
    real = S.centroid_router

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(S, "centroid_router", spy)

    def blocks(m, ratio):
        return {
            (r["id"], r["block"])
            for r in S.kmeans_assign_topm(
                base, cents, m=m, ratio=ratio
            ).collect()
        }

    for m, ratio in ((4, 1.5), (1, None)):
        monkeypatch.setattr(sizing, "TWOLEVEL_ASSIGN_MIN_K", 25)
        flat = blocks(m, ratio)
        assert not calls, "k below the threshold fitted a router"
        monkeypatch.setattr(sizing, "TWOLEVEL_ASSIGN_MIN_K", 24)
        two = blocks(m, ratio)
        assert calls, "k at the threshold did not route"
        calls.clear()
        assert flat == two, (m, ratio)
    # router invariants: dense 0-based cells, every cell non-empty,
    # coarse rows = number of live cells
    coarse, cell_of = real(cents, sizing.coarse_k_for(len(cents)))
    assert cell_of.min() == 0
    assert cell_of.max() == len(coarse) - 1
    assert set(np.unique(cell_of)) == set(range(len(coarse)))


def test_twolevel_fit_assign_matches_flat_and_dispatches(
    spark, monkeypatch
):
    """Round-13 fit-loop follow-through: the nearest-only assign on
    the two-level index must emit the identical (cluster, sqdist) per
    id as the one-cell index on the fixture (the coarse probe covers
    the nearest cell — same condition the pair-assign test pins), and
    Lloyd's on the two-level index lands on the same centroids as the
    one-cell fit, with the driver and distributed loops agreeing."""
    from database_join_spark.catalog import table
    from database_join_spark.operators import similarity as S
    from database_join_spark.plans import sizing
    from pyspark.sql import functions as F

    emb = table(spark, SF_DIR, "embeddings")
    _, cents, _ = S.kmeans_fit(emb, k=24, iterations=2)
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.expr(S._quant("embedding")).alias("qv"),
    )

    def nearest():
        return {
            r["id"]: (r["cluster"], r["sqdist"])
            for r in S.kmeans_assign(base, cents).collect()
        }

    flat = nearest()
    _, cents_flat, _ = S.kmeans_fit(emb, k=12, iterations=2)
    monkeypatch.setattr(sizing, "TWOLEVEL_ASSIGN_MIN_K", 12)
    assert nearest() == flat
    for budget in (S.DRIVER_FIT_MAX_CELLS, 0):  # driver, distributed
        monkeypatch.setattr(S, "DRIVER_FIT_MAX_CELLS", budget)
        _, cents_2l, _ = S.kmeans_fit(emb, k=12, iterations=2)
        assert cents_2l == cents_flat, budget
