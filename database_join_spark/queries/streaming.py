"""Streaming EXT operators (SURVEY.md §2.2, #31–#33): event-time
windowed aggregation (tumbling / sliding / session) and the UDF
surface.

The reference has no notion of time or streams (its whole input is a
malloc'd batch, ``q4112_main.c:74-87``); these generalize its grouped
aggregation (#7, ``q4112.c:169-201``) onto event-time keys. Each
query here is the BATCH-equivalent form (``F.window`` /
``F.session_window`` on the static events table) so it admits an
exact DuckDB oracle; the true ``readStream`` forms — identical
transformations behind ``spark.readStream`` with watermarks — live in
``database_join_spark.streaming`` and are proven batch≡stream by
tests/test_streaming.py (SURVEY §5.2 risk 5: streaming state has no
SQL oracle, so batch-equivalence IS the oracle).

Window alignment note: Spark tumbling windows align to the unix
epoch, DuckDB ``time_bucket`` to 2000-01-03 00:00 — both midnight
UTC, so day/hour buckets agree; the fixtures' ts domain (Jan 2024)
is far from either origin.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_join_spark.catalog import table
from database_join_spark.functions import DSUM
from database_join_spark.queries import query
from database_join_spark import streaming as CS

#: Decimal-stable sum of the double `value` measure (FIXTURES.md rule 2).
_VSUM = DSUM.format(c="value")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


# --------------------------------------------------------------------------
# 31a. stream_tumbling — tumbling event-time windows
# --------------------------------------------------------------------------
@query(
    "stream_tumbling",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {_VSUM} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    bench=True,
    tags=("streaming",),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows × event_type.

    Batch form of the Structured Streaming aggregation (streaming
    twin: ``database_join_spark.streaming.tumbling_counts``, proven
    equivalent by tests/test_streaming.py). The window key is a pure
    function of ts, so the plan is scan → partial agg → one exchange
    on (window, event_type) — partial aggregation absorbs the window
    fan-in exactly like the reference's thread-local caches
    (q4112.c:225-237) absorb group fan-in.
    """
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 day").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(_VSUM).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# 31b. stream_sliding — overlapping (sliding) windows
# --------------------------------------------------------------------------
@query(
    "stream_sliding",
    oracle=f"""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '12 hours', ts)
               - k.k * INTERVAL '12 hours' AS window_start,
             event_type, value
      FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           {_VSUM} AS sum_value
    FROM assigned
    GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-day length, 12-hour slide (each event in 2
    windows).

    Spark's window(ts, len, slide) replicates each row into
    len/slide windows before aggregating — the oracle makes that
    explicit with a 2-row offset cross join. At scale the replication
    factor (not the data volume) is the knob: len/slide = 2 here.
    """
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 day", "12 hours").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(_VSUM).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# 32. stream_session — data-driven session windows per user
# --------------------------------------------------------------------------
_GAP_HOURS = 12

@query(
    "stream_session",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '{_GAP_HOURS} hours'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '{_GAP_HOURS} hours' AS session_end,
           COUNT(*) AS n_events,
           {_VSUM} AS sum_value
    FROM sessions
    GROUP BY user_id, session_no
    """,
    tags=("streaming",),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: per-user sessions split on >12h inactivity.

    ``F.session_window`` is Spark's data-driven (gaps-and-islands)
    window: session_end = last event + gap. The oracle derives the
    identical sessions with lag/cumsum — the classic SQL spelling —
    which is also the proof the streaming state semantics match batch
    SQL. Streaming twin with watermark in
    ``database_join_spark.streaming.session_counts``.
    """
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", f"{_GAP_HOURS} hours").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(_VSUM).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# 33a. udf_surface — Arrow-vectorized scalar pandas UDF
# --------------------------------------------------------------------------
@query(
    "udf_surface",
    oracle="""
    WITH scored AS (
      SELECT lang,
             CAST(10000 * len(string_split_regex(trim(lower(text)), '\\s+'))
                  // n_chars AS BIGINT) AS density_x10000
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(density_x10000) AS BIGINT) AS sum_density
    FROM scored GROUP BY lang
    """,
    tags=("streaming", "udf"),
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-batched) in an otherwise-JVM plan.

    Computes an integer token-density score in vectorized pandas —
    the documented slow path (SURVEY §2.2 #33: built-ins first,
    pandas_udf when Python is unavoidable, never row-at-a-time). The
    score is integer math so the DuckDB oracle is exact; the
    aggregation around the UDF stays JVM-side.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def density_x10000(text: pd.Series, n_chars: pd.Series) -> pd.Series:
        toks = text.str.strip().str.lower().str.split(r"\s+").map(len)
        return (10000 * toks) // n_chars

    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang", density_x10000("text", "n_chars").alias("d")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("d").cast("long").alias("sum_density"),
        )
    )


# --------------------------------------------------------------------------
# 33b. udf_grouped_agg — pandas UDAF (grouped-aggregate UDF)
# --------------------------------------------------------------------------
@query(
    "udf_grouped_agg",
    oracle="""
    SELECT lang,
           CAST(SUM(n_chars * len(string_split_regex(trim(lower(text)),
                '\\s+'))) // SUM(len(string_split_regex(trim(lower(text)),
                '\\s+'))) AS BIGINT) AS w_avg_chars
    FROM documents GROUP BY lang
    """,
    tags=("streaming", "udf"),
    # gated: promoted into the 50-slot driver gate in round 2,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (a UDAF): token-weighted average
    document length per language, in integer math.

    The third UDF flavor (#33) beside scalar (udf_surface) and
    grouped-map (udf_grouped): the UDF receives whole group columns
    as pandas Series and returns ONE scalar — Spark still plans a
    normal aggregation around it (partial pipelining is disabled for
    pandas UDAFs; the group's rows shuffle to one task — the
    documented cost of leaving the JVM for an aggregate).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def weighted_avg_chars(
        n_chars: pd.Series, n_tokens: pd.Series
    ) -> int:
        return int(
            (n_chars * n_tokens).sum() // max(int(n_tokens.sum()), 1)
        )

    from database_join_spark.operators.text import token_count

    docs = table(spark, sf_dir, "documents").select(
        "lang", "n_chars", token_count("text").alias("n_toks")
    )
    return docs.groupBy("lang").agg(
        weighted_avg_chars("n_chars", "n_toks").alias("w_avg_chars")
    )


# --------------------------------------------------------------------------
# 33c. udf_grouped — applyInPandas (grouped-map UDF)
# --------------------------------------------------------------------------
@query(
    "udf_grouped",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(median(n_chars) AS DOUBLE) AS median_chars
    FROM documents GROUP BY lang
    """,
    tags=("streaming", "udf"),
    # gated: promoted into the 50-slot driver gate in round 2,
)
def udf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: per-language median length.

    The grouped-map surface shuffles each group to one task and hands
    it to pandas whole — the escape hatch for algorithms Spark SQL
    can't express (medians CAN be done with percentile_approx; the
    point is the surface, and the exact pandas median doubles as its
    own oracle check vs DuckDB's median). Groups must fit an
    executor: 5 langs × ~100 docs here; at 100 TB you salt or
    pre-aggregate first (documented limitation of grouped-map).
    """

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "median_chars": [float(pdf["n_chars"].median())],
            }
        )

    docs = table(spark, sf_dir, "documents").select("lang", "n_chars")
    return docs.groupBy("lang").applyInPandas(
        stats, schema="lang string, n_docs bigint, median_chars double"
    )


# --------------------------------------------------------------------------
# 31d. stream_interval_join — stream-stream interval join (batch twin)
# --------------------------------------------------------------------------
@query(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS p_user,
           p.ts AS purchase_ts,
           c.ts AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 24 HOURS
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    tags=("streaming",),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase→click attribution: each purchase joined to the same
    user's clicks in the preceding 24 h (streaming/__init__.py
    click_to_purchase_join run on the static frame).

    The SAME function drives the true readStream form —
    tests/test_streaming.py proves batch≡stream equivalence — and
    this registry entry pins its values against a DuckDB oracle. Both
    sides carry watermarks and the join condition bounds event-time
    distance, so streaming state expires once the watermark passes
    the interval (the requirement that keeps stream-stream join state
    finite). As a batch plan it is an equi-join on user_id with the
    interval as a post-join filter — one key-only shuffle per side,
    skew-safe under AQE.
    """
    return CS.click_to_purchase_join(_events(spark, sf_dir))
