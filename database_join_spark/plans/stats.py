"""Persistent table statistics — the ANALYZE TABLE analogue.

``plans/sizing.py`` closes the reference's FM-sizing loop
(``q4112.c:336-377``) by estimating group cardinality with one
HLL++ pass before picking the aggregate's sizing. That pass is a
full column-pruned scan, and the sizing module's own scale note
says what a production engine does instead: compute statistics
ONCE per table version (``ANALYZE TABLE … COMPUTE STATISTICS FOR
COLUMNS``) and read them from the catalog per query. At the bench's
1e9-row shape the re-paid estimate was 15% of the groups=1e8 row
(6.04 s of 40.3 s, BENCH_r07 — VERDICT r07 Next #4); at 100 TB it
would be an entire extra table scan per query.

This module is that catalog: a JSON file mapping
``(table_key, columns, rsd)`` → the measured statistics. The caller
supplies ``table_key`` and it MUST encode both identity and version:

* datagen tables — the full generator config literal (deterministic
  content ⇒ config IS the version); see bench.py's q4112 rows;
* parquet tables — :func:`parquet_table_key` (path + per-file
  size/mtime fingerprint), invalidated by any rewrite.

Entries never expire by time — like catalog statistics they are
valid until the table version changes, at which point the key no
longer matches and the statistic is recomputed. Writes are
atomic (temp file + rename) so concurrent bench/probe processes
cannot tear the file.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame

from .sizing import (
    BROADCAST_MAX_BYTES,
    DEFAULT_PARTITIONS,
    NO_REDUCTION_GROUPS,
    AggSizing,
    SkewJoinPlan,
    _parse_spark_bytes,
    decide,
    decide_skewjoin,
    estimate_groups,
    estimate_top_share,
)

#: Repo-root catalog file. Committed like any other measured
#: artifact: the bench's datagen tables are deterministic, so their
#: statistics are reproducible facts, not host state. A deployment
#: points it elsewhere with ``SPARK_GRAFT_STATS_PATH``.
DEFAULT_PATH = Path(
    os.environ.get("SPARK_GRAFT_STATS_PATH")
    or Path(__file__).resolve().parents[2] / "STATS_CACHE.json"
)


def _load(path: Path) -> dict:
    try:
        obj = json.loads(path.read_text())
        return obj if isinstance(obj, dict) else {}
    except (OSError, ValueError):
        # missing or torn file ⇒ empty catalog, never an error
        return {}


def _store(path: Path, catalog: dict) -> None:
    fd, tmp = tempfile.mkstemp(
        dir=str(path.parent), prefix=".stats_cache_", suffix=".tmp"
    )
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(catalog, f, indent=1, sort_keys=True)
            f.write("\n")
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def _stat_name(kind: str, group_cols: list[str], rsd: float) -> str:
    return f"{kind}|cols={','.join(group_cols)}|rsd={rsd}"


def parquet_table_key(table_dir: str) -> str:
    """Identity+version key for a parquet table: path plus a
    size/mtime fingerprint of every data file. Any rewrite (new
    files, appends, compaction) changes the key and invalidates the
    cached statistics — the same contract as a catalog's table
    version / snapshot id."""
    p = Path(table_dir)
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    parts = []
    for f in files:
        st = f.stat()
        # nanosecond mtime: a rewrite that lands within the same
        # wall-clock second as the original (same names and sizes)
        # must still rotate the key (ADVICE r08)
        parts.append(f"{f.name}:{st.st_size}:{st.st_mtime_ns}")
    return f"parquet:{p}|{';'.join(parts)}"


def cached_statistic(
    table_key: str,
    stat_name: str,
    compute: Callable[[], float | int | None],
    path: Path | str | None = None,
) -> tuple[float | int | None, bool]:
    """Generic memoized statistic: return the catalog value for
    ``(table_key, stat_name)`` or compute-and-record it. Returns
    ``(value, was_cached)``."""
    path = Path(path) if path is not None else DEFAULT_PATH
    catalog = _load(path)
    key = f"{table_key}|stat={stat_name}"
    if key in catalog:
        return catalog[key], True
    value = compute()
    # Merge under an exclusive lock: the earlier lock-free
    # load→merge→replace could drop a concurrent process's entry
    # written between the re-read and os.replace (ADVICE r08 —
    # never wrong answers, but a lost update re-pays a full HLL
    # scan later). flock serializes the read-merge-write; the
    # compute itself stays outside the critical section.
    import fcntl

    lock_path = path.with_suffix(path.suffix + ".lock")
    with open(lock_path, "w") as lock_f:
        fcntl.flock(lock_f, fcntl.LOCK_EX)
        catalog = _load(path)  # re-read under the lock
        catalog[key] = value
        _store(path, catalog)
    return value, False


def plan_for_cached(
    df: DataFrame,
    group_cols: list[str],
    table_key: str,
    rsd: float = 0.05,
    partitions: int = DEFAULT_PARTITIONS,
    path: Path | str | None = None,
) -> tuple[AggSizing, bool]:
    """Estimate the group cardinality of ``df.groupBy(group_cols)``
    and size the aggregate with :func:`plans.sizing.decide` — the
    reference's FM-sizing pattern as a plan-time step — with the
    scan-time statistics read through the catalog. In the
    no-reduction regime a second, sampled pass estimates the top
    key's share so the repartition-first rewrite is only chosen when
    no single reducer would be overloaded (the hh1 hazard).

    First call per table version pays the HLL pass (and, in the
    no-reduction regime, the sampled top-share pass); every later
    call is a file read. The DECISION is always
    re-derived from the statistics — only measurement is cached, so
    regime-table changes take effect without invalidation.

    Returns ``(sizing, fully_cached)``."""
    est, est_hit = cached_statistic(
        table_key,
        _stat_name("groups", group_cols, rsd),
        lambda: estimate_groups(df, group_cols, rsd=rsd),
        path=path,
    )
    est = int(est)
    top_share = None
    share_hit = True
    if est >= NO_REDUCTION_GROUPS:
        top_share, share_hit = cached_statistic(
            table_key,
            _stat_name("top_share", group_cols, rsd),
            lambda: estimate_top_share(df, group_cols),
            path=path,
        )
    sizing = decide(est, top_share=top_share, partitions=partitions)
    return sizing, est_hit and share_hit


def plan_skewjoin_cached(
    fact: DataFrame,
    key: str,
    dim: DataFrame,
    fact_table_key: str,
    dim_table_key: str,
    partitions: int = DEFAULT_PARTITIONS,
    can_set_confs: bool = True,
    path: Path | str | None = None,
) -> tuple[SkewJoinPlan, bool]:
    """Decide a fact⋈dim join with :func:`plans.sizing.decide_skewjoin`
    from its two estimate inputs — the fact key's sampled top share
    (:func:`plans.sizing.estimate_top_share`) and the dim row count
    — read through the statistics catalog (VERDICT r10 #4): the
    probe measured the eager per-call estimate at 1.0–4.7 s at 4e8
    rows; with a warm catalog the decision is two file reads. This
    completes the reference's FM-sizing analogy for the join the
    same way :func:`plan_for_cached` did for the aggregate — the
    reference re-runs its estimate per execution only because its
    data lives one process (``q4112.c:336-377``); a catalog engine
    computes statistics once per table VERSION.

    ``fact_table_key`` must encode identity+version of the fact AND
    any key derivation applied before the join (a derived key's
    distribution is not the base column's); same for
    ``dim_table_key``. The broadcast budget comes from the session's
    LIVE ``autoBroadcastJoinThreshold`` (ADVICE r10): a caller relying
    on auto-broadcast gets exactly what the decision predicted even
    if the session conf differs from session.py's 64 MB default (a
    disabled threshold, -1, maps to budget 0 — never predict a
    broadcast the session would refuse). Returns
    ``(plan, fully_cached)``."""
    top_share, ts_hit = cached_statistic(
        fact_table_key,
        f"top_share|cols={key}",
        lambda: estimate_top_share(fact, [key]),
        path=path,
    )
    dim_rows, dr_hit = cached_statistic(
        dim_table_key,
        "rowcount",
        dim.count,
        path=path,
    )
    conf_budget = _parse_spark_bytes(
        fact.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", None
        )
    )
    plan = decide_skewjoin(
        top_share,
        int(dim_rows),
        partitions=partitions,
        can_set_confs=can_set_confs,
        broadcast_max_bytes=(
            conf_budget if conf_budget is not None else BROADCAST_MAX_BYTES
        ),
    )
    return plan, ts_hit and dr_hit


def parquet_rowcount(table_dir: str) -> int:
    """Exact row count of a parquet table from FILE METADATA only —
    no Spark job, no data read: every parquet footer carries its row
    count, so the statistic costs one metadata read per file. This
    is what makes the exchange-sizing rule effectively free to apply
    per query (the cluster-catalog analogue is a table snapshot's
    recorded row count)."""
    import pyarrow.parquet as pq

    p = Path(table_dir)
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    return sum(
        pq.ParquetFile(str(f)).metadata.num_rows for f in files
    )


def parquet_list_dim(table_dir: str, column: str) -> int | None:
    """Element count of ``column``'s first non-null list value — the
    embedding-dimensionality statistic (round 14). One leading
    row-group read of one column from one file; ``None`` if every
    value is null/absent. The engine's embedding tables are
    fixed-dim by construction (the quantize/GEMM kernels assume it),
    so one value pins the table's dim the same way one footer pins
    its row count. Cached through :func:`cached_statistic` on the
    size+mtime table key, this lets the driver-side k-means fit skip
    its per-run ``head(1)`` dim-discovery job entirely."""
    import pyarrow.parquet as pq

    p = Path(table_dir)
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    for f in files:
        pf = pq.ParquetFile(str(f))
        for rg in range(pf.num_row_groups):
            col = pf.read_row_group(rg, columns=[column]).column(0)
            for v in col:
                if v.is_valid:
                    return len(v)
    return None


#: Sample size for the mean-tokens-per-doc statistic: 10k docs reads
#: ~one parquet file/row-group per sampled file and pins the mean to
#: a few percent — the sizing rule rounds to multiples of the core
#: count anyway, so estimator noise cannot change the decision by
#: more than one wave.
TOKEN_STAT_SAMPLE_ROWS = 10_000
#: Files the token sample spreads across: a single-file prefix read
#: is biased whenever file order correlates with document length
#: (time-ordered crawls get longer/shorter over time; a sorted
#: rewrite clusters lengths per file). Eight evenly-spaced files
#: bound the IO at ~8 leading row groups while sampling the whole
#: layout's length distribution.
TOKEN_STAT_SAMPLE_FILES = 8


def sampled_mean_tokens_per_doc(
    spark,
    table_dir: str,
    text_col: str = "text",
    sample_rows: int = TOKEN_STAT_SAMPLE_ROWS,
) -> float:
    """Mean whitespace-token count per document over a bounded
    sample — the SAME tokenizer the heavy documents-table operators
    shuffle one row per token position of
    (``operators/text.TOKENS_SQL``; ExactSubstr's window keys and
    MinHash's shingles both fan out ~size(tokens) rows/doc). The
    sample reads up to :data:`TOKEN_STAT_SAMPLE_FILES` evenly-spaced
    data files (explicit paths, so the scan touches nothing else)
    with a per-file ``limit`` — a plain ``limit(n)`` over the
    directory would take the FIRST file's prefix and bias the mean
    whenever file order correlates with document length. Bounded,
    column-pruned IO either way; floor of 1.0 so a degenerate/empty
    sample can never zero the exchange estimate."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from database_join_spark.operators.text import TOKENS_SQL

    toks = TOKENS_SQL.format(c=text_col)
    files = sorted(
        str(p)
        for p in Path(table_dir).rglob("*.parquet")
        if not p.name.startswith(("_", "."))
    )
    nf = min(TOKEN_STAT_SAMPLE_FILES, len(files)) or 1
    picked = (
        [files[(i * len(files)) // nf] for i in range(nf)]
        if files
        else []
    )
    per_file = -(-sample_rows // nf)
    if picked:
        # One limit per FILE: a single global limit over the union
        # would again be satisfied from the first file's partitions,
        # re-introducing the prefix bias the spread exists to remove.
        sample = None
        for f in picked:
            part = (
                spark.read.parquet(f)
                .select(text_col)
                .limit(per_file)
            )
            sample = part if sample is None else sample.unionByName(
                part
            )
    else:
        sample = (
            spark.read.parquet(table_dir)
            .select(text_col)
            .limit(sample_rows)
        )
    row = (
        sample.agg(F.avg(F.expr(f"size({toks})")).alias("t"))
        .collect()[0]["t"]
    )
    return max(1.0, float(row)) if row is not None else 1.0


def mean_tokens_per_doc_cached(
    spark,
    table_dir: str,
    text_col: str = "text",
    sample_rows: int = TOKEN_STAT_SAMPLE_ROWS,
    path: Path | str | None = None,
) -> tuple[float, bool]:
    """:func:`sampled_mean_tokens_per_doc` through the statistics
    catalog (VERDICT r12 #3: the exchange multiplier was a constant
    calibrated on the probe corpus's ~93 tokens/doc — a corpus with
    4× longer documents under-sized its exchange by exactly the
    failure the rule exists to prevent; measuring per table version
    makes the multiplier an input, not a calibration). Keyed on the
    table fingerprint like every other catalog statistic — appends
    or rewrites re-measure."""
    val, hit = cached_statistic(
        parquet_table_key(table_dir),
        # estimator version is part of the key: the round-13 spread
        # sample (8 evenly-spaced files, per-file limit) measures a
        # different statistic than the prefix read on length-skewed
        # layouts, so cached prefix values must not be reused
        f"mean_tokens|col={text_col}|sample={sample_rows}"
        f"|spread={TOKEN_STAT_SAMPLE_FILES}",
        lambda: sampled_mean_tokens_per_doc(
            spark, table_dir, text_col, sample_rows
        ),
        path=path,
    )
    return float(val), hit


def sized_shuffle_for_table(
    spark,
    table_dir: str,
    rows_per_input_row: float = 1.0,
    rows_per_task: int | None = None,
    path: Path | str | None = None,
) -> tuple[int | None, bool]:
    """Apply the scale-sweep exchange-sizing rule
    (:func:`plans.sizing.shuffle_partitions_for`) to the session,
    for a query whose dominant shuffle carries about
    ``rows_per_input_row × rowcount(table_dir)`` rows — the wiring
    VERDICT r11 #2/#4 asked for: the rule was calibrated and pinned
    in round 11 but had no product callers, so the 1.5×-and-growing
    cost it prevents was only avoided in probes that applied it by
    hand. Row counts come from the statistics catalog
    (:func:`cached_statistic`, same ``rowcount`` stat the skew-join
    planner shares), computed on a miss from parquet footers only
    (:func:`parquet_rowcount` — no job).

    Sets ``spark.sql.shuffle.partitions`` for the session and
    returns ``(applied_partitions, rowcount_was_cached)``; returns
    ``(None, False)`` untouched when ``table_dir`` doesn't exist
    (synthetic-input callers size their own exchanges). At fixture
    scale the rule lands exactly on the session default (floor =
    cores), so gate-scale plans are unchanged; the conf is left set
    — over-provisioning is one-sided cheap under AQE coalescing
    (the rule's own calibration), and the next sized caller
    re-derives it for its own input.
    """
    from .sizing import SHUFFLE_ROWS_PER_TASK, shuffle_partitions_for

    if not Path(table_dir).exists():
        return None, False
    rows, hit = cached_statistic(
        parquet_table_key(table_dir),
        "rowcount",
        lambda: parquet_rowcount(table_dir),
        path=path,
    )
    cores = spark.sparkContext.defaultParallelism
    parts = shuffle_partitions_for(
        int(rows * rows_per_input_row),
        cores,
        rows_per_task or SHUFFLE_ROWS_PER_TASK,
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return parts, hit
