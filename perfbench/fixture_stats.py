#!/usr/bin/env python3
"""Distribution figures of an sf0.1-style directory of parquet tables.

    python3 perfbench/fixture_stats.py <dir> [<dir> ...]

Prints one JSON object per directory with the figures that set how
much work the benchmark's queries do: document lengths, vocabulary and
planted near-duplicates (MinHash candidates), embedding pairs above
the semantic-dedup cosine threshold, and rows per foreign key (skew).
README.md compares the repository's sf0.1 fixtures with the tables
``fixtures.py`` generates.
"""

from __future__ import annotations

import json
import sys
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

COS_THRESHOLD = 0.4
FOREIGN_KEYS = (
    ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"), ("orders", "o_custkey"), ("events", "user_id"),
)


def _col(d: str, table: str, column: str) -> list:
    return pq.read_table(f"{d}/{table}.parquet", columns=[column])[column].to_pylist()


def stats(d: str) -> dict:
    texts = _col(d, "documents", "text")
    lengths = np.array([len(t.split()) for t in texts])
    dups = [t for t in texts if t.endswith(" dup")]
    known = set(texts)
    vocab = Counter(w for t in texts for w in t.split())
    vecs = np.asarray(_col(d, "embeddings", "embedding"), dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = (unit @ unit.T)[np.triu_indices(len(unit), 1)]
    out = {
        "doc_tokens_min_p50_max": [int(lengths.min()), float(np.median(lengths)), int(lengths.max())],
        "doc_tokens_mean": round(float(lengths.mean()), 2),
        "vocabulary": len(vocab),
        "word_share_max_min": [
            round(c / lengths.sum(), 4) for c in (max(vocab.values()), min(v for w, v in vocab.items() if w != "dup"))
        ],
        "docs_ending_dup": len(dups),
        "docs_ending_dup_of_existing": sum(t[:-4] in known for t in dups),
        "docs_with_identical_text": len(texts) - len(known),
        "embedding_pairs_cos_ge_0.4": int((cos >= COS_THRESHOLD).sum()),
        "embedding_cos_p99_max": [round(float(np.percentile(cos, 99)), 4), round(float(cos.max()), 4)],
        "embedding_top_pc_share": round(float(
            (np.linalg.svd(vecs - vecs.mean(0), compute_uv=False)[0] ** 2)
            / ((vecs - vecs.mean(0)) ** 2).sum()
        ), 4),
    }
    for table, column in FOREIGN_KEYS:
        counts = np.array(list(Counter(_col(d, table, column)).values()))
        out[f"{column}_distinct_rows_per_key_p50_max"] = [
            len(counts), float(np.median(counts)), int(counts.max())
        ]
    return out


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(json.dumps({"dir": d, **stats(d)}))
