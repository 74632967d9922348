"""Per-mutation Spark-job budget + metadata row-count parity (r15).

VERDICT r14 #8: fixed per-commit job overhead dominated the layout/OCC
mutation gates. r15 replaced every mutation's full-table ``count()``
(rows_before / rows_after) with a driver-side metadata lookup
(`_live_row_count`: manifest ``rows`` record minus DV dead positions).
These tests pin (a) that the metadata count equals the Spark count in
both DV-free and DV-carrying snapshots, and (b) a job-count BUDGET per
mutation, so a future change can't quietly re-introduce per-commit
table scans (measured since every MERGE runs the clause engine and the
kernel re-reads its staged rows with the schema it wrote: delete_cow 7,
update_cow 7, update_dv 8, insert-only merge_cow 16, delete_dv(no-match)
0 — budgets leave one job of AQE headroom).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators.layout import (
    _dv_at_version,
    _live_row_count,
    append_files,
    delete_rows,
    ensure_manifest,
    merge_rows,
    read_table,
    update_rows,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def tab(spark, tmp_path):
    work = str(tmp_path / "jobcount_tab")
    ev = table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    append_files(spark, work, ev.coalesce(2))
    return work


def _jobs(spark, label, fn):
    sc = spark.sparkContext
    g = f"jobcount_{label}"
    sc.setJobGroup(g, label)
    out = fn()
    sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(g))


def test_live_row_count_matches_spark_count(spark, tab):
    import pathlib

    p = pathlib.Path(tab)
    live = ensure_manifest(tab)
    # DV-free snapshot
    assert _live_row_count(p, live, _dv_at_version(p)) == read_table(spark, tab).count()
    # DV-carrying snapshot: kill some positions merge-on-read
    res = delete_rows(spark, tab, "event_type = 'view'", mode="dv")
    assert res["rows_deleted"] > 0
    live = ensure_manifest(tab)
    meta = _live_row_count(p, live, _dv_at_version(p))
    assert meta == read_table(spark, tab).count() == res["rows_after"]


def test_live_row_count_covers_manifestless_files(spark, tmp_path):
    # files written outside a commit (no manifest "rows" record) fall
    # back to one pyarrow footer read per file
    import pathlib

    ev = table(spark, SF_SMOKE, "events").select("event_id", "value")
    d = tmp_path / "bare"
    ev.coalesce(1).write.parquet(str(d))
    names = sorted(f.name for f in d.glob("*.parquet"))
    assert _live_row_count(pathlib.Path(d), names, {}) == ev.count()


def test_mutation_job_budgets(spark, tab):
    _, n = _jobs(
        spark, "del_cow",
        lambda: delete_rows(spark, tab, "event_type = 'view' AND value < 100.0", mode="cow"),
    )
    assert n <= 8, f"delete_cow ran {n} jobs (budget 8)"
    _, n = _jobs(
        spark, "upd_cow",
        lambda: update_rows(spark, tab, "event_type = 'error'", {"value": "value + 1.0"}, mode="cow"),
    )
    assert n <= 8, f"update_cow ran {n} jobs (budget 8)"
    _, n = _jobs(
        spark, "upd_dv",
        lambda: update_rows(spark, tab, "event_type = 'click'", {"value": "value * 2.0"}, mode="dv"),
    )
    assert n <= 9, f"update_dv ran {n} jobs (budget 9)"
    src = spark.createDataFrame(
        [(10_000_001 + i, 7, "merged", 1.5 * i) for i in range(20)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    res, n = _jobs(
        spark, "merge_cow", lambda: merge_rows(spark, tab, src, on="event_id", mode="cow")
    )
    assert res["rows_inserted"] == 20
    # 16 measured (22 before the r15 folds); most of the residual is
    # AQE sub-jobs of the small staged-artifact queries — the budget
    # guards against re-introducing table-scan-sized jobs
    assert n <= 17, f"merge_cow ran {n} jobs (budget 17)"
    # a no-match DELETE must not run ANY job: candidate pruning +
    # metadata row count answer it entirely driver-side
    res, n = _jobs(
        spark, "del_nomatch",
        lambda: delete_rows(spark, tab, "value < -1.0", mode="dv"),
    )
    assert res["rows_deleted"] == 0
    assert n == 0, f"no-match DV delete ran {n} jobs (expected 0)"


def _upsert_source(spark):
    # ten matched keys (event_id 0..9, values shifted) plus ten new keys
    return spark.createDataFrame(
        [(i, 7, "merged", 50.0 * i) for i in range(10)]
        + [(20_000_001 + i, 7, "merged", 1.5 * i) for i in range(10)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )


# the paths the lakehouse benchmark does not run; budgets are the
# measured count + 1 (matched DV delete 7, merge dv 16 — 8 and 19
# before every merge took the clause engine; the clause merges ran 22
# (cow) and 23 (dv) before they shared the upsert's source pass and
# staged artifact, 17 and 16 after)
@pytest.mark.parametrize(
    "label, budget, run",
    [
        (
            "del_dv",
            8,
            lambda spark, t: delete_rows(spark, t, "event_type = 'view'", mode="dv"),
        ),
        (
            "merge_dv",
            17,
            lambda spark, t: merge_rows(
                spark, t, _upsert_source(spark), on="event_id", mode="dv"
            ),
        ),
        (
            "clause_merge_cow",
            18,
            lambda spark, t: merge_rows(
                spark, t, _upsert_source(spark), on="event_id", mode="cow",
                when_matched_delete="s.value > 200",
            ),
        ),
        (
            "clause_merge_dv",
            17,
            lambda spark, t: merge_rows(
                spark, t, _upsert_source(spark), on="event_id", mode="dv",
                when_matched_delete="s.value > 200",
            ),
        ),
    ],
)
def test_unbenched_mutation_job_budgets(spark, tab, label, budget, run):
    res, n = _jobs(spark, label, lambda: run(spark, tab))
    assert res["rows_after"] == read_table(spark, tab).count()
    assert n <= budget, f"{label} ran {n} jobs (budget {budget})"


def test_no_match_dv_delete_after_clause_merge_runs_no_job(spark, tab):
    # a merge writes no data file without rows (an empty insert part
    # has no footer stats, so a later no-match delete would scan it)
    merge_rows(
        spark, tab, _upsert_source(spark), on="event_id", mode="cow",
        when_matched_delete="s.value > 200",
    )
    res, n = _jobs(
        spark, "del_nomatch_after_clause",
        lambda: delete_rows(spark, tab, "value < -1.0", mode="dv"),
    )
    assert res["rows_deleted"] == 0
    assert n == 0, f"no-match DV delete ran {n} jobs (expected 0)"
