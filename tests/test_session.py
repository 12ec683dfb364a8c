"""Build-time confs of ``session.get_spark``: the driver JVM's
collector and PySpark's call-site capture, read from
``session.build_confs``, the one function that builds them."""

from __future__ import annotations

from database_join_spark.session import WIDE_EXCHANGE_CONFS, build_confs

PARALLEL_GC = "-XX:+UseParallelGC"


def test_default_session_runs_parallel_collector(spark):
    """The default profile's build confs put the driver JVM on the
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


def test_wide_exchange_build_confs_keep_g1():
    """The wide-exchange profile keeps the JVM's default collector,
    under which its 48g measurements were taken, and carries its
    shuffle confs; ``"default"`` builds the same confs as no profile."""
    confs = build_confs("wide-exchange", cpus=4)
    assert not any(PARALLEL_GC in value for value in confs.values())
    assert confs.items() >= WIDE_EXCHANGE_CONFS.items()
    assert build_confs("default", cpus=4) == build_confs(cpus=4)


def test_call_site_capture_off(spark):
    """PySpark's per-call DataFrame call-site capture is off in a
    session ``get_spark`` builds: the conf and PySpark's cached
    reading of it."""
    from pyspark.errors.utils import is_debugging_enabled

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert build_confs()[key] == "false"
    assert spark.conf.get(key) == "false"
    assert is_debugging_enabled() is False
