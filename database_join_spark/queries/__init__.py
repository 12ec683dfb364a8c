"""Query registry: every operator from SURVEY.md §2 as a named query.

Each :class:`QuerySpec` pairs a PySpark implementation
``fn(spark, sf_dir) -> DataFrame`` with (where SQL-expressible) an
exact DuckDB oracle statement over the fixture views. The driver runs
both at sf0.01 and hash-compares; our pytest suite does the same at
sf0.001. Queries without an oracle (approximate / streaming-stateful /
ML ops) get rows-only checks from the driver plus property tests here.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from database_join_spark.session import configure_session


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    bench: bool = False  # include in bench.py's headline set
    tags: tuple[str, ...] = field(default_factory=tuple)
    #: Exposed to the correctness driver via ``__spark_entry__``. The
    #: driver gates at most 50 queries per round (CORRECTNESS_r01 cut
    #: the registry's tail at exactly 50 rows), so the registry keeps
    #: the full surface but exposes exactly the 50 highest-value ids:
    #: every SURVEY §2 id, every TPC-H query, and the strongest
    #: extras. Ungated queries keep their oracle and stay verified by
    #: tests/ (same hash-compare, run under pytest instead).
    gated: bool = True


REGISTRY: dict[str, QuerySpec] = {}

#: THE driver-gate rotation table — the single source of truth for
#: which ≤50 registry ids ship to the correctness driver this round
#: (``__spark_entry__.queries()``). Until round 5 the flag lived on
#: each of the 100+ ``@query(...)`` call sites, which made every
#: rotation a 30-file-location diff that had to be counted by hand;
#: since round 6 the per-site flag is gone and ``load_all`` applies
#: membership in this set. History per id stays in STATUS.md
#: (generated from the committed CORRECTNESS artifacts).
#:
#: Round-14 rotation (VERDICT r13 #2, rotation 12): retire the FULL
#: 30-id r11 staleness tail (``dedup_simhash`` … ``text_analysis``
#: — the inheritance rotation 11's note promised), keep the 4-id
#: flagship block, and gate every id whose plan this optimization
#: round rewrites or may rewrite — the r13 gate-hygiene flag: a
#: rewritten id must be driver-oracle-proven in its rewrite round,
#: not only by the sf0.001 parity pytest. That block is ``tpch_q2``
#: and ``tpch_q20`` (rewritten r13, rotated out the same round —
#: the flagged miss) plus the four round-14 optimization targets
#: ``dedup_semantic``, ``dedup_minhash``, ``corpus_pipeline``,
#: ``window_rank_topk``. The 10 remaining slots take the first 10
#: of the 44-id r12 tail in sorted order (``agg_argmax`` …
#: ``decontam_bloom``). 30 + 4 + 6 + 10 = exactly the 50-row cap.
#: Everything rotated out holds a fresh r12/r13 row and remains
#: pytest-hash-compared every run (tests/test_oracle_parity.py).
#: After this round no registry id's newest driver row is older
#: than r12.
#:
#: Round-13 rotation (VERDICT r12 #6, rotation 11): retired the FULL
#: 30-id r10 staleness tail (``dedup_incremental`` — deferred by
#: rotation 10's explicit note — plus ``distinct_hll_sketch`` …
#: ``variant_json``), kept the 4-id flagship block, and — with 16
#: slots free under the cap — took the first 16 of the 46-id r11
#: tail in sorted order (``agg_bucketed_exchange_free`` …
#: ``dedup_ngram_jaccard``; the slice includes ``corpus_pipeline``
#: and ``dedup_minhash``, both touched by round-13 sizing work).
#:
#: Rotation history: r06 gave first rows to the r06-born ids except
#: ``dedup_semantic`` (first row r07) and refreshed the r02/r03
#: tail. Rotation 6 (r08, VERDICT r07 #5) rotated in the entire
#: ≤r05 staleness tail + ``stream_interval_join`` (r04) — after r08
#: no id older than r06. Rotation 7 (r09, VERDICT r08 #3-#4) took
#: the r06 tail (16 TPC-H ids + ``multimodal_features``) plus the
#: three round-9-born ids — after r09 no id older than r07.
#: Rotation 8 (r10) retired the 45-id r07 tail + ``join_skew_auto``'s
#: first row — after r10 no id older than r08, but ``decontam_hashed``
#: (born r10, after the table froze) shipped ungated. Rotation 9
#: (r11) retired the 21-id r08 tail + the three first-row entrants
#: (``decontam_hashed``/``dedup_substring_hashed``/
#: ``corpus_pipeline``) + the first 22 r09-tail ids — after r11 no
#: id older than r09, every id with history. Rotation 10 (r12)
#: retired the 24-id r09 tail + the flagship block, filled the 22
#: free slots with 16 r10-tail ids (first 17 in sorted order minus
#: ``dedup_incremental``, through ``dedup_substring_apply`` — the
#: slice kept all three round-12-touched dedup operators) + the 6
#: round-12-born TPC-H ids — after r12 no id older than r10.
#: Rotation 12 is this one.
DRIVER_GATE: frozenset[str] = frozenset({
    # -- newest row r11: the complete staleness tail (30 ids)
    "dedup_simhash", "dedup_substring_hashed", "filter_semijoin_sel",
    "higher_order_funcs", "join_broadcast", "join_hash_multi",
    "join_hash_single", "join_nlj_multi", "join_nlj_single",
    "join_outer", "join_range", "join_semi_anti", "join_sortmerge",
    "multimodal_features", "pivot_wide", "project_expr",
    "scalar_funcs", "scan_columnar", "set_ops", "simsearch_embed",
    "simsearch_ivf", "simsearch_ivf_stored", "simsearch_lsh",
    "simsearch_lsh_stored", "sort_limit", "source_synthdocs",
    "stream_interval_join", "stream_session", "stream_tumbling",
    "text_analysis",
    # -- rewrite re-gate (r13 gate-hygiene flag): the r13-rewritten
    #    window spellings + this round's four optimization targets
    "tpch_q2", "tpch_q20",
    "dedup_semantic", "dedup_minhash", "corpus_pipeline",
    "window_rank_topk",
    # -- r12-tail refresh: first 10 of the 44 remaining r12 ids in
    #    sorted order (through decontam_bloom); rotation 13 inherits
    #    the rest (decontam_ngram … window_distribution)
    "agg_argmax", "agg_avg_int_ext", "agg_quantile_exact",
    "agg_repartition_first", "anomaly_zscore", "bpe_pair_counts",
    "chunk_documents", "corpus_clean", "corpus_mix",
    "decontam_bloom",
    # -- SURVEY §2 headline set (kept gated so the flagship surface
    #    is re-proven under the driver every round)
    "agg_scalar_avg",
    "agg_groupby_avg", "agg_avg_of_avgs", "dedup_exact",
})

#: The driver caps CORRECTNESS at 50 rows (CORRECTNESS_r01 cut the
#: then-60-entry registry at exactly 50); oversubscribing would
#: silently drop the tail, so the cap is enforced at import.
_GATE_CAP = 50
if len(DRIVER_GATE) > _GATE_CAP:
    raise ValueError(
        f"DRIVER_GATE holds {len(DRIVER_GATE)} ids; driver cap is "
        f"{_GATE_CAP} — rotate something out"
    )


def query(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    tags: tuple[str, ...] = (),
):
    """Register a query implementation under a SURVEY §2 query id.

    The decorator registers and returns a wrapper that keeps the
    query-entry contract, so bodies never configure the session
    themselves: :func:`session.configure_session` runs first, pinning
    ``RUNTIME_CONFS`` and releasing the frames earlier queries
    ``track_persist``-ed. Every caller of the function gets it; the
    body stays reachable as ``__wrapped__``.

    Gate membership is NOT declared here — see :data:`DRIVER_GATE`.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")

        @functools.wraps(fn)
        def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_session(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(
            name=name,
            fn=entry,
            oracle=oracle,
            doc=(fn.__doc__ or "").strip(),
            bench=bench,
            tags=tags,
            gated=name in DRIVER_GATE,
        )
        return entry

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY)."""
    from database_join_spark.queries import (  # noqa: F401
        core,
        extras,
        pipeline,
        relational,
        streaming,
        tpch,
    )

    # A gate entry naming a nonexistent id is a rotation typo that
    # would silently shrink the driver gate below 50 — fail loudly.
    unknown = DRIVER_GATE - REGISTRY.keys()
    if unknown:
        raise ValueError(f"DRIVER_GATE names unknown ids: {sorted(unknown)}")
    return REGISTRY
