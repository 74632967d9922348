"""Per-mutation Spark-job budget + metadata row-count parity (r15).

VERDICT r14 #8: fixed per-commit job overhead dominated the layout/OCC
mutation gates. r15 replaced every mutation's full-table ``count()``
(rows_before / rows_after) with a driver-side metadata lookup
(`_live_row_count`: manifest ``rows`` record minus DV dead positions).
These tests pin (a) that the metadata count equals the Spark count in
both DV-free and DV-carrying snapshots, and (b) a job-count BUDGET per
mutation, so a future change can't quietly re-introduce per-commit
table scans (measured since every scan takes its schema from the file
footers and reads its DV dead set on the driver: delete_cow 6,
update_cow 6, update_dv 6, insert-only merge_cow 10, delete_dv(no-match)
0 — budgets leave one job of AQE headroom), (c) that building a read
of a DV-carrying snapshot runs no job before the fetch, and (d) a
footer-open budget: each file an operation writes has its footer read
once, the commit reads none, and a DV mutation reads each existing DV
parquet once.
"""

from __future__ import annotations

import collections
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators.layout import (
    _commit_manifest,
    _dv_at_version,
    _live_row_count,
    _load,
    append_files,
    compact_table,
    delete_rows,
    ensure_manifest,
    manifest_versions,
    merge_rows,
    overwrite_table,
    read_changes,
    read_table,
    update_rows,
)
from tests.conftest import SF_SMOKE, _next_job_id


@pytest.fixture()
def tab(spark, tmp_path):
    work = str(tmp_path / "jobcount_tab")
    ev = table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    append_files(spark, work, ev.coalesce(2))
    return work


def _jobs(spark, fn):
    # the scheduler's job-id delta counts every job submitted meanwhile,
    # from any thread (AQE and broadcast sub-jobs included), and needs
    # no thread-local job group
    before = _next_job_id(spark)
    out = fn()
    return out, _next_job_id(spark) - before


def test_live_row_count_matches_spark_count(spark, tab):
    import pathlib

    p = pathlib.Path(tab)
    live = ensure_manifest(tab)
    # DV-free snapshot
    assert _live_row_count(p, _load(p), live, _dv_at_version(_load(p))) == read_table(spark, tab).count()
    # DV-carrying snapshot: kill some positions merge-on-read
    res = delete_rows(spark, tab, "event_type = 'view'", mode="dv")
    assert res["rows_deleted"] > 0
    live = ensure_manifest(tab)
    meta = _live_row_count(p, _load(p), live, _dv_at_version(_load(p)))
    assert meta == read_table(spark, tab).count() == res["rows_after"]


def test_live_row_count_past_the_inline_cap(spark, tab, monkeypatch):
    # a dead set past the cap is never held on the driver: the row
    # count falls back to the Spark count of the DV-applied scan
    import pathlib

    from dbt_slabbing_spark.operators import layout

    p = pathlib.Path(tab)
    delete_rows(spark, tab, "event_type = 'view'", mode="dv")
    monkeypatch.setattr(layout, "_DV_INLINE_CAP", 1)
    res = delete_rows(spark, tab, "event_type = 'click'", mode="dv")
    assert res["rows_deleted"] > 1
    live, dv = ensure_manifest(tab), _dv_at_version(_load(p))
    dv_files = sorted({d for lst in dv.values() for d in lst})
    assert layout._dv_dead_set(p, dv_files, live, 1) is None
    meta = _live_row_count(p, _load(p), live, dv, spark)
    assert meta == read_table(spark, tab).count() == res["rows_after"]
    assert res["rows_after"] == res["rows_before"] - res["rows_deleted"]
    with pytest.raises(ValueError, match="dead positions"):
        _live_row_count(p, _load(p), live, dv)
    monkeypatch.setattr(layout, "_DV_INLINE_CAP", 8192)
    assert _live_row_count(p, _load(p), live, dv) == meta


def test_dv_read_planning_runs_no_job(spark, tab):
    # the scan schema comes from the footers and the dead set is read
    # on the driver, so no job runs before the fetch
    import pathlib

    delete_rows(spark, tab, "event_type = 'view'", mode="dv")
    update_rows(spark, tab, "event_type = 'click'", {"value": "value * 2.0"}, mode="dv")
    v = manifest_versions(tab)
    df, n = _jobs(spark, lambda: read_table(spark, tab))
    assert n == 0, f"read_table on a DV snapshot ran {n} jobs before the fetch"
    ch, n = _jobs(spark, lambda: read_changes(spark, tab, v[-3], v[-1]))
    assert n == 0, f"read_changes over a DV range ran {n} jobs before the fetch"
    p = pathlib.Path(tab)
    assert df.count() == _live_row_count(p, _load(p), ensure_manifest(tab), _dv_at_version(_load(p)))
    assert ch.filter(F.col("_change_type") == "delete").count() > 0


def test_live_row_count_covers_manifestless_files(spark, tmp_path):
    # files written outside a commit (no manifest "rows" record) fall
    # back to one pyarrow footer read per file
    import pathlib

    ev = table(spark, SF_SMOKE, "events").select("event_id", "value")
    d = tmp_path / "bare"
    ev.coalesce(1).write.parquet(str(d))
    names = sorted(f.name for f in d.glob("*.parquet"))
    assert _live_row_count(pathlib.Path(d), {}, names, {}) == ev.count()


def test_mutation_job_budgets(spark, tab):
    _, n = _jobs(
        spark,
        lambda: delete_rows(spark, tab, "event_type = 'view' AND value < 100.0", mode="cow"),
    )
    assert n <= 7, f"delete_cow ran {n} jobs (budget 7)"
    _, n = _jobs(
        spark,
        lambda: update_rows(spark, tab, "event_type = 'error'", {"value": "value + 1.0"}, mode="cow"),
    )
    assert n <= 7, f"update_cow ran {n} jobs (budget 7)"
    _, n = _jobs(
        spark,
        lambda: update_rows(spark, tab, "event_type = 'click'", {"value": "value * 2.0"}, mode="dv"),
    )
    assert n <= 7, f"update_dv ran {n} jobs (budget 7)"
    src = spark.createDataFrame(
        [(10_000_001 + i, 7, "merged", 1.5 * i) for i in range(20)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    res, n = _jobs(
        spark, lambda: merge_rows(spark, tab, src, on="event_id", mode="cow")
    )
    assert res["rows_inserted"] == 20
    # 10 measured (16 while every scan inferred its schema by a job,
    # 22 before the r15 folds); most of the residual is AQE sub-jobs of
    # the small staged-artifact queries — the budget guards against
    # re-introducing table-scan-sized jobs
    assert n <= 11, f"merge_cow ran {n} jobs (budget 11)"
    # a no-match DELETE must not run ANY job: candidate pruning +
    # metadata row count answer it entirely driver-side
    res, n = _jobs(
        spark,
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
# measured count + 1 (matched DV delete 5, merge dv 14, clause merge
# cow 16 and dv 14 since scans stopped inferring their schema by a job)
@pytest.mark.parametrize(
    "label, budget, run",
    [
        (
            "del_dv",
            6,
            lambda spark, t: delete_rows(spark, t, "event_type = 'view'", mode="dv"),
        ),
        (
            "merge_dv",
            15,
            lambda spark, t: merge_rows(
                spark, t, _upsert_source(spark), on="event_id", mode="dv"
            ),
        ),
        (
            "clause_merge_cow",
            17,
            lambda spark, t: merge_rows(
                spark, t, _upsert_source(spark), on="event_id", mode="cow",
                when_matched_delete="s.value > 200",
            ),
        ),
        (
            "clause_merge_dv",
            15,
            lambda spark, t: merge_rows(
                spark, t, _upsert_source(spark), on="event_id", mode="dv",
                when_matched_delete="s.value > 200",
            ),
        ),
    ],
)
def test_unbenched_mutation_job_budgets(spark, tab, label, budget, run):
    res, n = _jobs(spark, lambda: run(spark, tab))
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
        spark,
        lambda: delete_rows(spark, tab, "value < -1.0", mode="dv"),
    )
    assert res["rows_deleted"] == 0
    assert n == 0, f"no-match DV delete ran {n} jobs (expected 0)"


def _count_footer_opens(monkeypatch) -> collections.Counter:
    """Count pyarrow footer opens per file. An existing file is keyed by
    what a rename keeps (device, inode, mtime, size), so a staged part
    and the table file it is renamed to count as one file; a missing
    one by its path."""
    import pyarrow.parquet as pq

    opens: collections.Counter = collections.Counter()

    def counting(real):
        def wrapper(source, *a, **kw):
            try:
                s = os.stat(source)
                opens[(s.st_dev, s.st_ino, s.st_mtime_ns, s.st_size)] += 1
            except (OSError, TypeError):
                opens[str(source)] += 1
            return real(source, *a, **kw)

        return wrapper

    for name in ("ParquetFile", "read_metadata", "read_schema"):
        monkeypatch.setattr(pq, name, counting(getattr(pq, name)))
    return opens


def _table_files(t) -> dict:
    import pathlib

    out = {}
    for f in pathlib.Path(t).rglob("*.parquet"):
        s = f.stat()
        out[str(f)] = (s.st_dev, s.st_ino, s.st_mtime_ns, s.st_size)
    return out


def test_each_written_file_is_opened_once(spark, tab, monkeypatch):
    src = _upsert_source(spark)
    ops = [
        ("append", lambda: append_files(spark, tab, src.coalesce(2))),
        ("merge_cow", lambda: merge_rows(spark, tab, src, on="event_id", mode="cow")),
        ("delete_dv", lambda: delete_rows(spark, tab, "event_type = 'view'", mode="dv")),
        (
            "update_cow",
            lambda: update_rows(spark, tab, "event_type = 'error'", {"value": "value + 1.0"}),
        ),
        (
            "update_dv",
            lambda: update_rows(
                spark, tab, "event_type = 'click'", {"value": "value * 2.0"}, mode="dv"
            ),
        ),
        ("merge_dv", lambda: merge_rows(spark, tab, src, on="event_id", mode="dv")),
        ("compact", lambda: compact_table(spark, tab)),
        ("overwrite", lambda: overwrite_table(spark, tab, read_table(spark, tab))),
    ]
    wrong = {}
    for label, run in ops:
        before = _table_files(tab)
        opens = _count_footer_opens(monkeypatch)
        run()
        monkeypatch.undo()
        written = {f: k for f, k in _table_files(tab).items() if f not in before}
        assert written, f"{label} wrote no file"
        wrong.update(
            {f"{label}: {f}": opens[k] for f, k in written.items() if opens[k] != 1}
        )
    assert not wrong, f"written files not opened exactly once: {wrong}"


@pytest.mark.parametrize(
    "run",
    [
        lambda spark, t: delete_rows(spark, t, "event_type = 'click'", mode="dv"),
        lambda spark, t: update_rows(
            spark, t, "event_type = 'click'", {"value": "value * 2.0"}, mode="dv"
        ),
    ],
    ids=["delete_dv", "update_dv"],
)
def test_dv_mutation_reads_each_old_dv_file_once(spark, tab, monkeypatch, run):
    # rows_before and the target scan share one read of the dead set
    delete_rows(spark, tab, "event_type = 'view'", mode="dv")
    old_dv = {f: k for f, k in _table_files(tab).items() if "/dv-" in f}
    assert old_dv
    opens = _count_footer_opens(monkeypatch)
    run(spark, tab)
    monkeypatch.undo()
    assert {f: opens[k] for f, k in old_dv.items()} == {f: 1 for f in old_dv}


def test_commit_opens_no_data_file(tmp_path, monkeypatch):
    # the records are the commit's only source of per-file facts: these
    # files do not even exist
    opens = _count_footer_opens(monkeypatch)
    rec = {"rows": 3, "stats": {"k": [1, 3], "s": None}}
    _commit_manifest(
        tmp_path, ["a.parquet", "b.parquet"], expected_version=0,
        added={"a.parquet": rec, "b.parquet": None},
    )
    doc = _load(tmp_path)
    assert doc["rows"] == {"a.parquet": 3}
    assert doc["stats"] == {"a.parquet": rec["stats"]}
    assert not opens
