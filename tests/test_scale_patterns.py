"""Scale-pattern correctness: salted joins/aggs must be result-
equivalent to their plain forms, and bucketed joins must actually
eliminate the shuffle they exist to eliminate."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from database_join_spark import plans as P
from database_join_spark.operators import skew as K
from tests.conftest import SF_DIR


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    return (
        pdf[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    )


def test_salted_join_equals_plain_join(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    pt = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand"
    ).withColumnRenamed("p_partkey", "l_partkey")
    plain = (
        li.join(pt, "l_partkey")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        K.salted_join(li, pt, "l_partkey", salts=4)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pd.testing.assert_frame_equal(
        _sorted(plain.toPandas()), _sorted(salted.toPandas())
    )


def test_salted_groupby_equals_plain(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", (F.floor("l_quantity")).cast("long").alias("q")
    )
    plain = li.groupBy("l_returnflag").agg(F.sum("q").alias("sum_q"))
    salted = K.salted_groupby_sum(
        li, ["l_returnflag"], "q", "sum_q", salts=4
    )
    pd.testing.assert_frame_equal(
        _sorted(plain.toPandas()), _sorted(salted.toPandas())
    )


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key co-locates matching
    rows: the sort-merge join must run with ZERO Exchange operators —
    the disk-layout analogue of the reference's shared hash table
    being partition-aligned with the probe split (q4112_hj.c:158-170).
    """
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("t_li_bucketed")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("t_orders_bucketed")
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bl = spark.table("t_li_bucketed")
            bo = spark.table("t_orders_bucketed")
            joined = bl.join(
                bo, bl.l_orderkey == bo.o_orderkey
            ).select("o_orderpriority", "l_extendedprice")
            plan = P.plan_string(joined, mode="simple")
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # and it still computes the right thing
            want = li.join(
                orders, li.l_orderkey == orders.o_orderkey
            ).count()
            assert joined.count() == want
            # The HASH spelling of the co-located join (bench.py's
            # large_inner_bucketed since r05: per-bucket hash build,
            # 2.45 s vs the merge join's 3.92 s at inner=1e7) must be
            # equally Exchange-free — the hint changes the build
            # strategy, never the distribution requirement.
            hj = bl.join(
                bo.hint("shuffle_hash"), bl.l_orderkey == bo.o_orderkey
            ).select("o_orderpriority", "l_extendedprice")
            hj_plan = P.plan_string(hj, mode="simple")
            assert "ShuffledHashJoin" in hj_plan, hj_plan
            assert "Exchange" not in hj_plan, hj_plan
            assert hj.count() == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_orders_bucketed")


def test_aligned_bucketed_write_one_file_per_bucket(spark, tmp_path):
    """Writer/bucket alignment (LI_BUCKET_SWEEP.json, r08): Spark
    emits one file per (writer-task × bucket) pair, so an unaligned
    W-task write into B buckets fragments the table into up to W·B
    files — measured at inner=1e7 the fragments made the cold scan
    file-overhead-bound and INVERTED the bucket-count win (B=128
    cold 5.2 s fragmented vs 0.47 s aligned). The fix bench.py now
    uses: repartition(B, key) before bucketBy(B) → exactly one
    sorted file per bucket. Pinned here at small scale: file count
    == B, and the co-located join stays Exchange-free."""
    from database_join_spark.operators.bucketing import (
        data_file_count,
        write_bucketed_aligned,
    )

    buckets = 4
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    # deliberately many writer partitions, then align
    li = li.repartition(16)
    write_bucketed_aligned(li, "t_li_aligned", buckets, ["l_orderkey"])
    try:
        assert data_file_count(spark, "t_li_aligned") == buckets
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bl = spark.table("t_li_aligned")
            self_join = bl.alias("a").join(
                spark.table("t_li_aligned")
                .alias("b")
                .hint("shuffle_hash"),
                F.col("a.l_orderkey") == F.col("b.l_orderkey"),
            )
            plan = P.plan_string(self_join, mode="simple")
            assert "Exchange" not in plan, plan
            assert self_join.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_aligned")


def test_bucketed_aggregate_has_no_groupby_exchange(spark, tmp_path):
    """The round-9 groups=1e8 fix (BUCKETED_AGG_PROBE.json): a
    groupBy on the bucket key of an aligned bucketed table must
    inherit the bucketed hash partitioning — no
    hashpartitioning(store-key) exchange anywhere in the plan; the
    only exchange left is the tiny single-partition gather for a
    final scalar aggregate. A broadcast join on a DIFFERENT key
    before the groupBy must not break the inheritance (bench's
    part2_groups1e8_bucketed shape). Answers pinned against the
    plain spelling."""
    from database_join_spark.operators.bucketing import (
        write_bucketed_aligned,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_size"
    )
    write_bucketed_aligned(
        li.repartition(16), "t_li_agg_bucketed", 4, ["l_orderkey"]
    )
    try:
        bl = spark.table("t_li_agg_bucketed")
        per_key = (
            bl.join(
                F.broadcast(part),
                F.col("p_partkey") == F.col("l_partkey"),
            )
            .groupBy("l_orderkey")
            .agg(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                ).alias("s")
            )
        )
        plan = P.plan_string(per_key, mode="simple")
        assert "hashpartitioning(l_orderkey" not in plan, plan
        final = per_key.agg(
            F.sum("s").alias("total"), F.count("s").alias("n")
        )
        fplan = P.plan_string(final, mode="simple")
        assert "hashpartitioning(l_orderkey" not in fplan, fplan
        want = (
            li.join(
                part, F.col("p_partkey") == F.col("l_partkey")
            )
            .groupBy("l_orderkey")
            .agg(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                ).alias("s")
            )
            .agg(F.sum("s").alias("total"), F.count("s").alias("n"))
            .collect()[0]
        )
        got = final.collect()[0]
        assert (got["total"], got["n"]) == (want["total"], want["n"])
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_agg_bucketed")


def test_agg_bucketed_exchange_free_registry_plan(spark):
    """The registry id `agg_bucketed_exchange_free` (round 9) must
    deliver the plan it is named for: its returned DataFrame scans
    the external bucketed table and aggregates with NO
    hashpartitioning exchange on the group key. (Result correctness
    is the DuckDB oracle's job — this pins the physical shape, the
    whole point of the id.)"""
    from database_join_spark.queries import load_all

    df = load_all()["agg_bucketed_exchange_free"].fn(spark, SF_DIR)
    plan = P.plan_string(df, mode="simple")
    assert "hashpartitioning(l_orderkey" not in plan, plan
    # and it really is the bucketed scan, not a fallback plain read
    assert "graft_li_agg_bucketed" in plan, plan


def test_agg_bucketed_exchange_free_write_once_reuse(spark):
    """Round 10 (VERDICT r09 Wrong #2): the bucketed table is
    write-once with fingerprint validation, not rebuilt per call. A
    second call must (a) rewrite NO data files (same names, sizes,
    ns-mtimes), (b) keep the exchange-free plan over the
    re-registered catalog entry, (c) return the identical result;
    and a marker mismatch (simulating a source rewrite) must force
    a rebuild."""
    import glob
    import hashlib
    import os
    import tempfile
    from pathlib import Path

    from database_join_spark.queries import load_all

    fn = load_all()["agg_bucketed_exchange_free"].fn
    first = {
        (r["l_orderkey"], r["n_items"], r["sum_qty"])
        for r in fn(spark, SF_DIR).collect()
    }
    tag = hashlib.sha256(
        os.path.abspath(SF_DIR).encode()
    ).hexdigest()[:12]
    loc = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bucketed_agg_u{os.getuid()}",
        tag,
    )
    def snapshot():
        return {
            f: (os.path.getsize(f), os.stat(f).st_mtime_ns)
            for f in glob.glob(os.path.join(loc, "*.parquet"))
        }

    before = snapshot()
    assert before, "first call must have built data files"
    df2 = fn(spark, SF_DIR)
    plan = P.plan_string(df2, mode="simple")
    assert "hashpartitioning(l_orderkey" not in plan, plan
    second = {
        (r["l_orderkey"], r["n_items"], r["sum_qty"])
        for r in df2.collect()
    }
    assert second == first
    assert snapshot() == before, "reuse call rewrote data files"
    # stale marker → rebuild (files change)
    Path(loc, "_GRAFT_SRC_KEY").write_text("stale")
    third = {
        (r["l_orderkey"], r["n_items"], r["sum_qty"])
        for r in fn(spark, SF_DIR).collect()
    }
    assert third == first
    assert snapshot() != before, "stale marker must force a rebuild"
    # torn state (ADVICE r10): a VALID marker beside zero data files
    # (partially-failed rmtree left only the marker) must rebuild,
    # not re-register an empty table and return empty results
    marker_txt = Path(loc, "_GRAFT_SRC_KEY").read_text()
    for f in glob.glob(os.path.join(loc, "*.parquet")):
        os.remove(f)
    Path(loc, "_GRAFT_SRC_KEY").write_text(marker_txt)
    fourth = {
        (r["l_orderkey"], r["n_items"], r["sum_qty"])
        for r in fn(spark, SF_DIR).collect()
    }
    assert fourth == first, "valid marker over missing data files"
    assert snapshot(), "rebuild must restore the data files"


def test_aligned_partitioned_write_one_file_per_value(spark, tmp_path):
    """The partitionBy spelling of the alignment discipline
    (write_partitioned_aligned, r08): a naive partitionBy from a
    W-task frame emits one file per (task × touched value), up to
    W·V files. Alignment's measured win is for scan-dominated
    consumers — value-sorted files compressed the 1M IVF index
    270 → 157 MB and decoded 3–4× faster (IVF_LAYOUT_PROBE.json
    diagnostic); compute-heavy consumers prefer the natural
    multi-split layout (same artifact) and the operator docstring
    says so. Pinned here: the aligned write yields exactly one data
    file per partition value, and reading back preserves the rows."""
    from database_join_spark.operators.bucketing import (
        write_partitioned_aligned,
    )

    df = (
        spark.range(1000)
        .select(
            F.col("id"), (F.col("id") % 7).alias("cell")
        )
        .repartition(16)  # deliberately many writer partitions
    )
    out = str(tmp_path / "aligned_part")
    write_partitioned_aligned(df, out, ["cell"])
    import glob

    files = glob.glob(f"{out}/cell=*/part-*")
    cells = glob.glob(f"{out}/cell=*")
    assert len(cells) == 7
    assert len(files) == 7, sorted(files)
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.groupBy().agg(F.sum("id")).first()[0] == 999 * 1000 // 2

    # salted variant (files_per_value > 1): bounded file count WITH
    # multiple splits per value — up to files_per_value files per
    # value (hash placement), more than one in aggregate, rows
    # intact. An explicit numPartitions pins the layout against AQE
    # partition coalescing, which otherwise merges the salt groups
    # back together (this test caught that)
    out2 = str(tmp_path / "aligned_salted")
    write_partitioned_aligned(df, out2, ["cell"], files_per_value=4)
    files2 = glob.glob(f"{out2}/cell=*/part-*")
    per_value = {}
    for f in files2:
        key = f.split("cell=")[1].split("/")[0]
        per_value[key] = per_value.get(key, 0) + 1
    assert len(per_value) == 7
    assert all(1 <= c <= 4 for c in per_value.values()), per_value
    assert sum(per_value.values()) > 7  # salting did add parallelism
    back2 = spark.read.parquet(out2)
    assert back2.count() == 1000
    assert back2.groupBy().agg(F.sum("id")).first()[0] == 999 * 1000 // 2


def test_compute_bound_read_confs_change_scan_splits(spark, tmp_path):
    """The round-9 split-starvation fix (IVF_SPLIT_PROBE.json): a
    many-file partitioned table read under
    `compute_bound_read_confs()` must scan with MORE partitions
    than under the default gates — the mechanism (openCostInBytes
    padding + maxPartitionBytes packing) pinned at fixture scale,
    where the 409-vs-66-split / 16.5-vs-58.4 s volume effect lives
    in the artifact."""
    from database_join_spark.operators.bucketing import (
        compute_bound_read_confs,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    path = str(tmp_path / "frag")
    # many small files: the natural compute-bound-consumer layout
    li.repartition(24).write.mode("overwrite").parquet(path)

    confs = compute_bound_read_confs()
    assert set(confs) == {
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
    }

    def parts_under(c: dict[str, str]) -> int:
        prev = {k: spark.conf.get(k, None) for k in c}
        for k, v in c.items():
            spark.conf.set(k, v)
        try:
            return spark.read.parquet(path).rdd.getNumPartitions()
        finally:
            for k, old in prev.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)

    # packing-friendly gates (the volume-default regime that packed
    # the probe's 2048 index files into 66 splits; minPartitionNum
    # floored so fixture-scale tininess doesn't re-split)
    packed = parts_under(
        {
            "spark.sql.files.maxPartitionBytes": "1g",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.files.minPartitionNum": "1",
        }
    )
    # Split size is total bytes / minPartitionNum, which defaults to
    # the session's parallelism; pin it to the file count so the
    # bound below holds on any host, not only on 24+ slots.
    opened = parts_under({**confs, "spark.sql.files.minPartitionNum": "24"})
    # opened gates must defeat packing: at least one task per file
    # (row-group granularity is the ceiling — also the probe's
    # measured floor for single-row-group aligned layouts)
    assert packed < 24, packed
    assert opened >= 24, (packed, opened)
