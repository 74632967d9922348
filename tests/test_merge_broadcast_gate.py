"""Round-14 task #4: MERGE source broadcast size gate.

The MERGE clause engine, which classifies every MERGE, hinted
`F.broadcast(source)` unconditionally — correct for the documented
batch-sized contract, a driver OOM for an oversized CDC backfill
batch. `_broadcast_if_small` keeps the broadcast fast path under 8×
the session's autoBroadcastJoinThreshold and silently degrades to a
shuffle join past it: identical results, different (safe) plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.operators.layout import (
    append_files,
    merge_rows,
    read_table,
)


@pytest.fixture()
def tiny_threshold(spark):
    """Shrink the broadcast threshold so a modest source counts as
    'oversized' without materializing gigabytes in a unit test."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1024")
    yield
    spark.conf.set(key, prev)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _target(spark, tmp_path, name):
    t = str(tmp_path / name)
    append_files(
        spark,
        t,
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, v double"
        ).coalesce(2),
    )
    return t


def _big_source(spark):
    # ~200 KB estimated: far past the 8 KiB cap under the 1 KiB
    # threshold, trivially under it at the 10 MB default
    return spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") * 2.0).alias("v"),
        F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
    ).drop("pad")


def test_oversized_source_degrades_to_shuffle_join(
    spark, tmp_path, tiny_threshold
):
    """Forced-large source: the clause engine must NOT broadcast —
    and the merge result must equal the broadcast path's."""
    t = _target(spark, tmp_path, "shuffle")
    src = _big_source(spark)
    st = merge_rows(
        spark,
        t,
        src,
        on="k",
        when_matched_update="*",
        when_matched_update_condition="s.v > t.v",  # k=0 stays unclaimed
    )
    assert st["rows_updated"] == 99  # k=0 has s.v == t.v == 0
    assert st["rows_inserted"] == 1900
    got = {r["k"]: r["v"] for r in read_table(spark, t).collect()}
    assert got[0] == 0.0 and got[1] == 2.0 and got[1999] == 3998.0
    assert len(got) == 2000


def test_plan_shape_with_and_without_gate(spark, tmp_path):
    """Directly inspect the classified join's executed plan: under the
    default threshold the (tiny) source broadcasts; under a 1 KiB
    threshold the same join shows no broadcast exchange."""
    from dbt_slabbing_spark.operators.layout import _broadcast_if_small

    t = _target(spark, tmp_path, "plan")
    tgt = read_table(spark, t)
    src = _big_source(spark)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, str(10 * 1024 * 1024))
        joined = tgt.join(_broadcast_if_small(spark, src), on="k", how="left")
        assert "BroadcastHashJoin" in _executed_plan(joined)
        spark.conf.set(key, "1024")
        joined2 = tgt.join(_broadcast_if_small(spark, src), on="k", how="left")
        assert "BroadcastHashJoin" not in _executed_plan(joined2)
    finally:
        spark.conf.set(key, prev)


def test_batch_sized_source_keeps_broadcast_fast_path(spark, tmp_path):
    """The documented contract is untouched: a batch-sized source
    under the default threshold still broadcasts."""
    from dbt_slabbing_spark.operators.layout import _broadcast_if_small

    t = _target(spark, tmp_path, "fast")
    tgt = read_table(spark, t)
    small = spark.createDataFrame([(1, -1.0)], "k long, v double")
    joined = tgt.join(_broadcast_if_small(spark, small), on="k", how="left")
    assert "BroadcastHashJoin" in _executed_plan(joined)


def test_oversized_dv_merge_matches_cow(spark, tmp_path, tiny_threshold):
    """Same oversized source through BOTH write shapes: dv and cow
    merges agree row-for-row with the gate active."""
    t_dv = _target(spark, tmp_path, "dv")
    t_cow = _target(spark, tmp_path, "cow")
    src = _big_source(spark)
    merge_rows(spark, t_dv, src, on="k", mode="dv")
    merge_rows(spark, t_cow, src, on="k", mode="cow")
    a = sorted((r["k"], r["v"]) for r in read_table(spark, t_dv).collect())
    b = sorted((r["k"], r["v"]) for r in read_table(spark, t_cow).collect())
    assert a == b
    assert len(a) == 2000
