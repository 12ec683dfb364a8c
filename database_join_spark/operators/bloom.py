"""Generic Bloom-bitmap build + prefilter (round 6).

Extracted from ``decontam_bloom``'s inline machinery
(queries/pipeline.py) so the same pattern serves JOIN probe-side
pruning: LARGE_INNER_PROBE.json recorded that Spark's own runtime
bloom filter (``spark.sql.optimizer.runtime.bloomFilter.*``) refuses
to inject for our tracked join shapes (no qualifying probe-side scan
/ threshold conditions), so the engine provides the prune as an
explicit operator instead — ``join_bloom_prefilter`` in
queries/extras.py is the gated surface.

Spelling (all Catalyst, zero Python in the hot path): keys hash to a
bit position (``xxhash64 mod bits``), positions aggregate into
64-bit words via ``bit_or``, and the word table collapses into a
ONE-ROW ``map<long,long>`` broadcast to every task; the probe is two
integer ops and an ``element_at`` inside whole-stage codegen. k=1
hashes — the Bloom special case; at the default 2^17 bits the false
positive rate for n keys is ~n/2^17, and FPs only cost wasted join
input, never wrong answers (the exact join still runs on survivors).

At 100 TB: the bitmap is hundreds of KB regardless of key count
(vs broadcasting the key SET, which grows linearly), so the filter
side can be orders of magnitude larger than any broadcast threshold
while the probe side still prunes BEFORE its shuffle — exactly the
decontam_bloom asymmetry, generalized to equi-joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Default bitmap width (bits). 2^17 bits = 2 KiB of words; at 1e4
#: distinct keys the FP rate is ~8%, at 1e5 ~55% — size to ≥16×
#: expected distinct keys (callers with big key sets pass more bits).
DEFAULT_BITS = 1 << 17


def _pos(col: str | Column, bits: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(bits))


def bitmap_of(keys: DataFrame, key_col: str, bits: int = DEFAULT_BITS) -> DataFrame:
    """``(word, bits)`` Bloom bitmap of a key column — one row per
    64-bit word that has at least one bit set (≤ ``bits/64`` rows).

    Partial-aggregable: the exchange carries at most ``bits/64``
    (word, bits) rows per task. Kept as a TABLE, not collapsed into a
    one-row map: the probe side joins it with a broadcast HASH join
    (O(1) per row), whereas ``element_at`` on a map column is a
    LINEAR scan of the map — fine at decontam's 2^11 words, a
    2.6e13-comparison stall at a join-sized 2^18-word bitmap
    (measured: the one-row-map spelling hung the 1e8-row probe arm
    that BLOOM_JOIN_PROBE.json records in seconds).
    """
    return (
        keys.select(_pos(key_col, bits).alias("pos"))
        .select(
            F.expr("pos DIV 64").alias("word"),
            # F.shiftleft takes a literal shift; the SQL spelling
            # accepts a column
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def prefilter(
    df: DataFrame,
    key_col: str,
    bitmap: DataFrame,
    bits: int = DEFAULT_BITS,
) -> DataFrame:
    """Rows of ``df`` whose ``key_col`` MAY be in the bitmap's key set
    (false positives possible, false negatives impossible) — original
    schema preserved.

    The word table joins in as a BROADCAST HASH join on the word
    index (a few MiB however many keys the bitmap holds), then the
    bit test runs inside whole-stage codegen. Rows whose word has no
    set bits at all drop at the join itself (inner join = bit 0) —
    the common case for a selective key set.
    """
    return (
        df.withColumn("__bloom_pos", _pos(key_col, bits))
        .withColumn("__bloom_word", F.expr("__bloom_pos DIV 64"))
        .join(
            F.broadcast(bitmap.withColumnRenamed("word", "__bloom_word")),
            "__bloom_word",
        )
        .filter(
            F.expr(
                "(bits & shiftleft(1L, CAST(__bloom_pos % 64 AS INT))) != 0"
            )
        )
        .drop("bits", "__bloom_pos", "__bloom_word")
    )
