"""Build-time confs of ``session.get_spark``: the driver JVM's
collector and PySpark's call-site capture, read from
``session.build_confs``, the one function that builds them. Also the
query-entry contract: the registry's wrapper is the one place that
configures the session, and the persist pool has one release loop."""

from __future__ import annotations

from pathlib import Path

from database_join_spark import session as S
from database_join_spark.queries import load_all
from database_join_spark.session import build_confs

QUERIES_DIR = Path(S.__file__).resolve().parent / "queries"

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


def test_registry_wrapper_is_the_only_session_entry():
    """Every registered ``fn`` is the ``query`` wrapper (the original
    body stays reachable as ``__wrapped__``), and no query module
    besides the registry's own names ``configure_session``: a body
    that configured the session itself would be a second copy of the
    entry contract, free to drift from the first."""
    registry = load_all()
    unwrapped = [n for n, s in registry.items()
                 if not hasattr(s.fn, "__wrapped__")]
    assert unwrapped == []
    naming = [p.name for p in sorted(QUERIES_DIR.glob("*.py"))
              if p.name != "__init__.py"
              and "configure_session" in p.read_text()]
    assert naming == []


def test_release_persisted_pops_only_above_mark(monkeypatch):
    """``release_persisted(mark)`` unpersists the frames appended
    after ``mark``, newest first, keeps the ones below it, and
    survives a frame whose release raises."""
    released = []

    class Frame:
        def __init__(self, name):
            self.name = name

        def unpersist(self, blocking=False):
            if self.name == "broken":
                raise RuntimeError("session gone")
            released.append(self.name)

    pool = [Frame("a"), Frame("b")]
    monkeypatch.setattr(S, "_PERSIST_POOL", pool)
    mark = S.persist_mark()
    pool += [Frame("c"), Frame("broken"), Frame("d")]
    S.release_persisted(mark)
    assert released == ["d", "c"]
    assert [f.name for f in pool] == ["a", "b"]
    S.release_persisted()
    assert released == ["d", "c", "b", "a"] and pool == []
