"""Custom Python DataSource (Spark 4 DataSource API): a partitioned
synthetic-documents source.

The reference's only input is an in-process generator writing
straight into the engine's arrays (``q4112_gen()``, invoked
``q4112_main.c:100-104``); the Spark-4 analogue of "the source IS a
program" is the Python DataSource API — a first-class connector whose
partitions generate data on executors, in parallel, with no driver
materialization. This source exists to cover that surface (and to
give scale probes an unbounded corpus): `spark.read.format(...)`
with options, explicit schema, deterministic content, and one
InputPartition per requested split.

Registration:
    from database_join_spark.sources.synthdocs import register
    register(spark)
    df = (spark.read.format("synthdocs")
          .option("rows", 100000).option("partitions", 32).load())
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

_SCHEMA_DDL = "doc_id BIGINT, lang STRING, text STRING"
_LANGS = ["en", "es", "fr", "de", "zh"]
_VOCAB = 50_000
_WORDS = 100
#: xxhash-style mixer (same constant as datagen.py / the reference's
#: multiplicative hash, q4112_hj.c:16) — cheap, stateless, identical
#: on every executor.
_MIX = 2654435761
_MOD = 1 << 63


def _word(base: int, i: int) -> str:
    return f"w{(base * _MIX + i * 40503 + 7) % _MOD % _VOCAB}"


def _doc_text(doc_id: int) -> str:
    # ids ≡ 1 (mod 50) near-duplicate their predecessor (planted dups,
    # same convention as BASELINE.md's dedup scaling probe)
    base = doc_id - 1 if doc_id % 50 == 1 else doc_id
    words = [_word(base, i) for i in range(_WORDS)]
    words.append(f"t{doc_id % 997}")
    return " ".join(words)


class _Partition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


def _split(lo: int, hi: int, n: int) -> list[InputPartition]:
    """Ids ``[lo, hi)`` as at most ``n`` contiguous partitions."""
    step = max(1, -(-(hi - lo) // max(1, n)))  # ceil division
    bounds = [min(b, hi) for b in range(lo, hi + step, step)]
    return [_Partition(a, b) for a, b in zip(bounds, bounds[1:]) if a < b]


class _Rows:
    """The generator both readers share: one row per document id."""

    def read(self, partition: _Partition) -> Iterator[tuple]:
        for doc_id in range(partition.start, partition.end):
            yield (
                doc_id,
                _LANGS[doc_id % len(_LANGS)],
                _doc_text(doc_id),
            )


class _Reader(_Rows, DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 1000))
        self.n_partitions = int(options.get("partitions", 8))

    def partitions(self) -> list[InputPartition]:
        return _split(0, self.rows, self.n_partitions)


class _StreamReader(_Rows, DataSourceStreamReader):
    """Offset-based streaming form of the same generator (round 6).

    The offset is the document-id cursor ``{"offset": n}``; each
    ``latestOffset`` call advances it by ``rowsPerBatch`` until
    ``maxRows`` (rate-source-style admission control — the Python
    API exposes no ReadLimit, so the cursor IS the rate knob), and
    ``partitions(start, end)`` splits the batch's id range across
    executors exactly like the batch reader — the micro-batch is
    generated in parallel, never on the driver. The cap makes the
    stream FINITE, so batch ≡ stream is testable. Caveat the test
    pins around: ``availableNow`` snapshots ``latestOffset`` once,
    collapsing the run to a single rowsPerBatch-sized batch — use a
    continuous trigger to drain the full range incrementally.
    ``commit`` is a no-op: the generator is deterministic, so replay
    after failure regenerates identical rows — the source is
    effectively its own write-ahead log (the replayability argument
    file sources make).
    """

    def __init__(self, options: dict) -> None:
        self.rows_per_batch = int(options.get("rowsPerBatch", 1000))
        self.max_rows = int(options.get("maxRows", 10_000))
        self.n_partitions = int(options.get("partitions", 8))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        # Advance one batch per call; Spark persists progress in the
        # checkpoint, so the cursor derives from nothing but how many
        # triggers have fired. The cap bounds the stream.
        self._cursor = min(
            getattr(self, "_cursor", 0) + self.rows_per_batch,
            self.max_rows,
        )
        return {"offset": self._cursor}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return _split(
            int(start["offset"]), int(end["offset"]), self.n_partitions
        )

    def commit(self, end: dict) -> None:
        pass  # deterministic generator: nothing to clean up


class SynthDocsDataSource(DataSource):
    """`synthdocs` format: deterministic documents, split into
    executor-side generated partitions. Batch (`spark.read`) and
    streaming (`spark.readStream`) forms share the generator."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str | StructType:
        return _SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return _Reader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _StreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SynthDocsDataSource)
