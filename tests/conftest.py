"""Shared fixtures: one SparkSession per test session, DuckDB oracle."""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"  # pytest uses the smallest fixtures
SF_DIR_MID = "/root/testdata/sf0.01"  # what the driver's gate uses

from database_join_spark.catalog import TABLES  # noqa: E402
from database_join_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session", autouse=True)
def stats_catalog_copy(tmp_path_factory):
    """Point the statistics catalog at a copy of the committed
    STATS_CACHE.json, so a test run leaves the tracked file unchanged.
    The env var carries the copy into subprocesses (the bench smoke
    test runs bench.py in one)."""
    from database_join_spark.plans import stats

    copy = tmp_path_factory.mktemp("stats") / "STATS_CACHE.json"
    if stats.DEFAULT_PATH.exists():
        shutil.copyfile(stats.DEFAULT_PATH, copy)
    mp = pytest.MonkeyPatch()
    mp.setattr(stats, "DEFAULT_PATH", copy)
    mp.setenv("SPARK_GRAFT_STATS_PATH", str(copy))
    yield copy
    mp.undo()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="database-join-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the fixture views pre-registered, the
    same way the driver's correctness gate does."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    return make_duck(SF_DIR)
