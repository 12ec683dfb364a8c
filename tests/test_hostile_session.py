"""Hostile-session probes (from the verify skill's checklist, made
permanent): the driver builds its own UNconfigured SparkSession, so
every query must repair session state at its entry — the registry's
``query`` wrapper runs configure_session before each query body.
These tests sabotage the shared session the way a foreign harness
might and assert the query surface still matches the oracle.
"""

from __future__ import annotations

import duckdb
import pytest

from database_join_spark.queries import load_all
from tests.compare import assert_frames_match, run_both
from tests.conftest import SF_DIR, make_duck

REGISTRY = load_all()

#: Timestamp-sensitive ids: they read events.ts, whose NTZ→LTZ cast
#: is value-preserving only at session tz UTC.
TS_QUERIES = ["scan_columnar", "sessionize_events", "retention_cohorts",
              "stream_tumbling", "dedup_first_event"]


@pytest.mark.parametrize("name", TS_QUERIES)
def test_non_utc_session_tz_is_repaired(spark, name):
    """A harness that sets a local timezone before calling us must
    still get oracle-identical results — configure_session pins UTC
    on every query entry, not once per process."""
    duck = make_duck(SF_DIR)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spark_pdf, duck_pdf = run_both(REGISTRY[name], spark, duck, SF_DIR)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert_frames_match(spark_pdf, duck_pdf, f"{name} (hostile tz)")


def test_hostile_shuffle_partitions_repaired(spark):
    """An absurd shuffle-partition count must not change results
    (only plans) — the flagship query re-asserts its session confs."""
    duck = make_duck(SF_DIR)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        spark_pdf, duck_pdf = run_both(
            REGISTRY["agg_avg_of_avgs"], spark, duck, SF_DIR
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert_frames_match(spark_pdf, duck_pdf, "flagship (1 shuffle part)")


def test_events_stream_repairs_or_rejects_non_utc_session(spark):
    """The streaming path must never RUN under a non-UTC session
    (ADVICE r02: its declared TIMESTAMP schema reads NTZ micros as
    epoch-UTC, diverging from the batch catalog under any other
    zone). On a mutable session configure_session repairs the zone
    before construction; if the conf were locked it raises. Either
    way, after construction the session is UTC."""
    from database_join_spark.streaming import events_stream

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        stream = events_stream(spark, SF_DIR)
        assert stream.isStreaming
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
