"""ANSI-parity property test (VERDICT r02 "what's wrong" #3).

The engine disables ANSI mode globally for a measured ~25% speedup on
integer-heavy codegen (session.py RUNTIME_CONFS), arguing that every
declared query guards its own semantics: divisions are nullif'd,
aggregate overflow headroom is designed per operator. That argument
must stay true as queries are added — so every oracled query runs
here twice, ANSI off and ANSI on, and the results must be IDENTICAL.
A future unguarded division or overflowing aggregate either throws
under ANSI or perturbs a value; both fail this test, turning the
global semantics choice into a checked invariant instead of per-query
discipline.

The registry's ``query`` wrapper calls ``configure_session`` at every
query's entry, which applies RUNTIME_CONFS — so the flip is done by
patching that dict, exactly the path a production deployment would
take.
"""

from __future__ import annotations

import pytest

from database_join_spark import session as S
from database_join_spark.queries import load_all
from tests.compare import assert_frames_match
from tests.conftest import SF_DIR

REGISTRY = load_all()
ORACLED = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


@pytest.mark.parametrize("name", ORACLED)
def test_ansi_on_results_identical(spark, name):
    spec = REGISTRY[name]
    baseline = spec.fn(spark, SF_DIR).toPandas()

    old = S.RUNTIME_CONFS["spark.sql.ansi.enabled"]
    S.RUNTIME_CONFS["spark.sql.ansi.enabled"] = "true"
    try:
        under_ansi = spec.fn(spark, SF_DIR).toPandas()
    finally:
        S.RUNTIME_CONFS["spark.sql.ansi.enabled"] = old

    assert_frames_match(under_ansi, baseline, f"{name} (ansi=on vs off)")
