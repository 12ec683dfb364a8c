"""database_join_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark (DataFrame/SQL/Catalyst) engine with the
query and data-processing capabilities of the reference C engine
``bawejakunal/database-join`` (multi-threaded in-memory hash /
nested-loop joins + group-by aggregation, see SURVEY.md), extended with
the relational, LLM-data-pipeline, and streaming operators a 100 TB
training-data platform needs.

Design rules (enforced across the package):

- **DataFrame-first.** Every operator is a Catalyst-visible logical
  plan; no RDDs, no driver-side loops over ``collect()`` results.
- **Built-ins before UDFs.** Python UDFs only as Arrow-batched
  ``pandas_udf``, ``mapInPandas``/``applyInPandas`` or their
  ``mapInArrow``/``applyInArrow`` forms, and only where built-in
  expressions genuinely cannot express the semantics.
- **Deterministic, oracle-stable arithmetic.** Integer averages use
  floor division (Spark ``DIV`` ≡ DuckDB ``//``); DOUBLE measures are
  cast to DECIMAL before any aggregation so parallel summation order
  cannot perturb results (FIXTURES.md determinism rules).
- **Scale posture.** Broadcast only dimension tables, shuffle on
  explicit keys, let AQE re-plan; every query documents why its plan
  survives a 100×/1000× scale-up.
"""

from database_join_spark.session import configure_session, get_spark
from database_join_spark.catalog import TABLES, load_tables, table

__all__ = [
    "TABLES",
    "configure_session",
    "get_spark",
    "load_tables",
    "table",
]

__version__ = "0.1.0"
