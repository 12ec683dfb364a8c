"""Pins for the fixture catalog's schema memo (catalog.schema): a
table's parquet schema is inferred once per file version and session
confs, so opening a table or building a query starts no Spark job
before the action."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType
from pyspark.sql.utils import AnalysisException

from database_join_spark import catalog
from database_join_spark.queries import load_all
from tests.conftest import SF_DIR

#: bench queries that start a Spark job while being built, with the
#: reason the job is real work rather than overhead.
BUILD_JOB_ALLOWED = {
    "dedup_semantic": "driver-side k-means fit collects its sample",
}

BENCH = sorted(n for n, spec in load_all().items() if spec.bench)


def jobs_started(spark, fn) -> int:
    """Spark jobs that ``fn()`` starts in this thread: the StatusTracker
    job ids of a fresh job group, read once the listener bus drained."""
    sc = spark.sparkContext
    group = f"jobs-started-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_started")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _with_confs(spark, confs: dict[str, str], fn):
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return fn()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_schema_inferred_once_per_file_version_and_confs(spark, tmp_path):
    from database_join_spark.streaming import events_stream

    sf = str(tmp_path)
    with pytest.raises(AnalysisException):
        catalog.table(spark, sf, "region")

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert jobs_started(spark, lambda: catalog.table(spark, sf, "region")) >= 1
    assert jobs_started(spark, lambda: catalog.table(spark, sf, "region")) == 0

    # a rewrite with an added column is a new file version
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}),
        path,
    )
    df = catalog.table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]

    # events.ts over TIMESTAMP(NANOS): unreadable with nanosAsLong off
    # (and nothing is memoized), then a µs timestamp with it on
    ns = pa.array([1704067200000001999, 1704153600000000000], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ns}), tmp_path / "events.parquet")
    nanos_off = {"spark.sql.legacy.parquet.nanosAsLong": "false"}
    with pytest.raises(AnalysisException):
        _with_confs(spark, nanos_off, lambda: catalog.table(spark, sf, "events"))
    ev = catalog.table(spark, sf, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    assert [r.us for r in ev.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()] == [
        1704067200000001,
        1704153600000000,
    ]

    # the fixture's TIMESTAMP(MICROS) events: ts is a timestamp whatever
    # the confs it was first read under, and the memo keys on the confs
    fixture = f"{SF_DIR}/events.parquet"
    for confs in (nanos_off, {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}, {}):
        ev = _with_confs(spark, confs, lambda: catalog.table(spark, SF_DIR, "events"))
        assert isinstance(ev.schema["ts"].dataType, TimestampType), confs
    ltz = _with_confs(
        spark,
        {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"},
        lambda: catalog.schema(spark, fixture)["ts"].dataType,
    )
    assert isinstance(ltz, TimestampType)
    assert isinstance(catalog.schema(spark, fixture)["ts"].dataType, TimestampNTZType)

    # the stream reads ts's type from the same memo
    assert jobs_started(spark, lambda: events_stream(spark, SF_DIR)) == 0


@pytest.mark.parametrize("name", BENCH)
def test_second_build_starts_no_job(spark, name):
    """Once a query's tables and statistics are known, building it
    again starts no Spark job before its action."""
    fn = load_all()[name].fn
    fn(spark, SF_DIR)
    jobs = jobs_started(spark, lambda: fn(spark, SF_DIR))
    # an allow-listed query that stopped starting jobs leaves the list
    assert (jobs > 0) == (name in BUILD_JOB_ALLOWED), jobs


def test_dedup_semantic_action_is_one_job(spark):
    """The fixture corpus fits one scorer chunk, so dedup_semantic's
    action assigns and scores it in one task: one Spark job, with no
    assign stage or block exchange before it."""
    df = load_all()["dedup_semantic"].fn(spark, SF_DIR)
    assert jobs_started(spark, df.collect) == 1
