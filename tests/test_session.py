"""Build-time confs of ``session.get_spark``: the driver JVM's
collector and PySpark's call-site capture, read from
``session.build_confs``, the one function that builds them."""

from __future__ import annotations

from database_join_spark.session import build_confs

PARALLEL_GC = "-XX:+UseParallelGC"


def test_default_session_runs_parallel_collector(spark):
    """The session build confs put the driver JVM on the
    Parallel collector, and the test session's JVM runs it: its
    collector beans are the Parallel ones, not G1's."""
    opts = build_confs()["spark.driver.extraJavaOptions"]
    assert PARALLEL_GC in opts.split()
    assert PARALLEL_GC in spark.sparkContext.getConf().get(
        "spark.driver.extraJavaOptions"
    ).split()
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    names = {b.getName() for b in mx.getGarbageCollectorMXBeans()}
    assert names == {"PS Scavenge", "PS MarkSweep"}


def test_call_site_capture_off(spark):
    """PySpark's per-call DataFrame call-site capture is off in a
    session ``get_spark`` builds: the conf and PySpark's cached
    reading of it."""
    from pyspark.errors.utils import is_debugging_enabled

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert build_confs()[key] == "false"
    assert spark.conf.get(key) == "false"
    assert is_debugging_enabled() is False
