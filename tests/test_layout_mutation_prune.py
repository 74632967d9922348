"""Mutation-scan file pruning (`_may_hold` — Delta's DELETE/UPDATE/MERGE
file skipping): the matching scan runs
over candidate files only, skipped files are neither scanned nor
rewritten, results and row counts stay exact, and the conservative
parser prunes nothing it can't prove.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import dbt_slabbing_spark.operators.layout as L
from dbt_slabbing_spark.operators.layout import (
    append_files,
    delete_rows,
    merge_rows,
    read_table,
    update_rows,
)


def test_predicate_conjuncts_parser():
    pc = L._predicate_conjuncts
    assert pc("d = 6") == [("d", "=", 6)]
    assert pc("d >= 2 AND d <= 4") == [("d", ">=", 2), ("d", "<=", 4)]
    assert pc("6 = d") == [("d", "=", 6)]
    assert pc("5 < d") == [("d", ">", 5)]
    assert pc("name = 'x'") == [("name", "=", "x")]
    assert pc("v = -1.5") == [("v", "=", -1.5)]
    # unreadable conjuncts contribute nothing; structure bails entirely
    assert pc("d = 6 AND f(x) > 2") == [("d", "=", 6)]
    assert pc("d = 6 OR d = 7") is None
    assert pc("d BETWEEN 2 AND 4") is None
    assert pc("NOT d = 6") is None
    assert pc("d IN (1, 2)") is None
    assert pc("name LIKE 'a%'") is None
    assert pc("tag = 'a AND b'") == [("tag", "=", "a AND b")]


@pytest.fixture()
def clustered(spark, tmp_path):
    """8 per-day files, one tight d-range each (write-time stats)."""
    target = str(tmp_path / "t")
    base = spark.range(800).select(
        F.col("id").alias("k"),
        (F.col("id") % 8).alias("d"),
        (F.col("id") * 1.0).alias("v"),
    )
    for day in range(8):
        append_files(spark, target, base.filter(F.col("d") == day).coalesce(1))
    return target, base


def _spy_scans(monkeypatch):
    """Record the file-list length of every _scan_with_dv call."""
    seen = []
    orig = L._scan_with_dv

    def spy(spark, p, live, *a, **kw):
        seen.append(len(live))
        return orig(spark, p, live, *a, **kw)

    monkeypatch.setattr(L, "_scan_with_dv", spy)
    return seen


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_delete_scans_only_candidates(spark, clustered, mode, monkeypatch):
    target, base = clustered
    seen = _spy_scans(monkeypatch)
    st = delete_rows(spark, target, "d = 6", mode=mode)
    assert st["rows_deleted"] == 100
    assert st["rows_before"] == 800 and st["rows_after"] == 700
    if mode == "cow":
        assert st["n_files_rewritten"] == 1
    # the matching scan touched exactly the ONE candidate file
    assert min(seen) == 1
    assert read_table(spark, target).filter("d = 6").count() == 0
    assert read_table(spark, target).count() == 700


def test_delete_no_candidates_is_metadata_only(spark, clustered, monkeypatch):
    target, base = clustered
    seen = _spy_scans(monkeypatch)
    st = delete_rows(spark, target, "d = 99", mode="cow")
    assert st["rows_deleted"] == 0 and st["rows_before"] == 800
    assert seen == []  # no matching scan at all
    st = delete_rows(spark, target, "d = 99", mode="dv")
    assert st["rows_deleted"] == 0 and st["n_dv_files_added"] == 0


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_update_scans_only_candidates(spark, clustered, mode, monkeypatch):
    target, base = clustered
    seen = _spy_scans(monkeypatch)
    st = update_rows(spark, target, "d = 3 AND v >= 0.0", {"v": "v + 0.5"}, mode=mode)
    assert st["rows_updated"] == 100
    assert st["rows_before"] == 800
    assert min(seen) == 1
    got = read_table(spark, target)
    assert got.filter("d = 3 AND v = 3.5").count() == 1  # k=3 updated
    assert got.filter("d = 4 AND v = 4.0").count() == 1  # untouched


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_merge_prunes_by_source_key_range(spark, clustered, mode, monkeypatch):
    """Upsert whose source keys all fall in one file's k-range: only
    that file is scanned for matching."""
    target, base = clustered
    # keys 0..7 live in 8 different files (d = k % 8)... use k range
    # instead: file for d=2 holds k in {2, 10, ..}; per-file k stats
    # span the whole range, so prune on a k-range beyond the table
    src = spark.createDataFrame(
        [(10_000 + i, i % 8, 9.0) for i in range(5)], "k long, d long, v double"
    )
    seen = _spy_scans(monkeypatch)
    st = merge_rows(spark, target, src, on="k", mode=mode)
    assert st["rows_inserted"] == 5 and st["rows_updated"] == 0
    assert st["rows_before"] == 800 and st["rows_after"] == 805
    # all source keys are beyond every file's k max -> zero candidates
    assert min(seen, default=0) == 0 or st["n_files_rewritten"] == 0
    assert read_table(spark, target).count() == 805


def test_clause_merge_with_nmbs_scans_everything(spark, clustered, monkeypatch):
    """NOT MATCHED BY SOURCE disables pruning (every unmatched target
    row must be classified)."""
    target, base = clustered
    src = spark.createDataFrame([(2, 2, 0.0)], "k long, d long, v double")
    seen = _spy_scans(monkeypatch)
    st = merge_rows(
        spark, target, src, on="k", mode="dv",
        when_matched_update={"v": "-1.0"},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete="t.k >= 790",
    )
    assert st["rows_updated"] == 1 and st["rows_deleted"] == 10
    assert 8 in seen  # the classification scan saw ALL files
    assert read_table(spark, target).count() == 790


def test_pruned_mutations_match_unpruned_results(spark, tmp_path):
    """Differential: same mutations on a clustered (prunable) and a
    shuffled single-file (unprunable) twin give identical content."""
    base = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("d"),
        (F.col("id") * 1.0).alias("v"),
    )
    outs = {}
    for name, nfiles in (("clustered", 5), ("single", 1)):
        t = str(tmp_path / name)
        if nfiles == 5:
            for day in range(5):
                append_files(spark, t, base.filter(F.col("d") == day).coalesce(1))
        else:
            append_files(spark, t, base.coalesce(1))
        delete_rows(spark, t, "d = 1", mode="dv")
        update_rows(spark, t, "d = 2", {"v": "v * 10"}, mode="cow")
        merge_rows(
            spark,
            t,
            spark.createDataFrame([(3, 3, 777.0)], "k long, d long, v double"),
            on="k",
        )
        outs[name] = sorted(map(tuple, read_table(spark, t).collect()))
    assert outs["clustered"] == outs["single"]


def test_append_cluster_by_state_and_mismatch(spark, tmp_path):
    """append_files(cluster_by=): clustering state accumulates across
    ingests, maintain_table sees it, and a mismatched cluster_by
    raises instead of silently mixing layouts."""
    import json
    import pathlib

    target = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("d")
    )
    append_files(spark, target, df.filter("d < 2"), cluster_by=["d"])
    append_files(spark, target, df.filter("d >= 2"), cluster_by=["d"])
    doc = json.loads((pathlib.Path(target) / "_manifest.json").read_text())
    clu = doc["clustered"]
    assert clu["by"] == ["d"]
    assert set(clu["files"]) == set(doc["files"])  # every file clustered
    with pytest.raises(ValueError, match="cluster_by"):
        append_files(spark, target, df.limit(5), cluster_by=["k"])
    # un-clustered appends still allowed (they just aren't recorded)
    append_files(spark, target, df.limit(5))
    doc = json.loads((pathlib.Path(target) / "_manifest.json").read_text())
    assert len(doc["clustered"]["files"]) == len(doc["files"]) - 1


def test_optimize_where_scopes_the_rewrite(spark, clustered, tmp_path):
    """Predicate-scoped OPTIMIZE: only in-scope files rewrite;
    untouched files keep bytes, DV entries, and clustering state."""
    import json
    import pathlib

    from dbt_slabbing_spark.operators.layout import compact_table
    from dbt_slabbing_spark.plans.sql_dml import ManifestSession

    target, base = clustered
    p = pathlib.Path(target)
    # fragment days 2..3 with extra appends + DV-delete some day-2 rows
    for day in (2, 3):
        append_files(
            spark, target,
            base.filter(F.col("d") == day).limit(10).coalesce(1),
        )
    delete_rows(spark, target, "d = 2 AND k < 10", mode="dv")
    idents = {
        f.name: f.stat().st_mtime_ns for f in p.glob("*.parquet")
    }
    before = sorted(map(tuple, read_table(spark, target).collect()))
    ses = ManifestSession(spark, mode="cow").register("opt_tab", target)
    st = ses.sql("OPTIMIZE opt_tab WHERE d >= 2 AND d <= 3")
    assert st["n_files_rewritten"] == 4  # 2 base + 2 fragment files
    doc = json.loads((p / "_manifest.json").read_text())
    # day-2 DV materialized by the scoped rewrite
    assert not doc.get("dv")
    # out-of-scope files byte-identical and still live
    untouched = [n for n in doc["files"] if not n.startswith("compact-")]
    assert all(
        (p / n).stat().st_mtime_ns == idents[n] for n in untouched
    )
    assert sorted(map(tuple, read_table(spark, target).collect())) == before
    # no-match scope: metadata no-op
    st = compact_table(spark, target, where="d = 99")
    assert st["n_files_before"] == st["n_files_after"]


def test_bloom_index_prunes_point_delete(spark, tmp_path, monkeypatch):
    """A point DELETE on a bloom-indexed high-cardinality key scans
    only the files whose bitset may contain the key."""
    from dbt_slabbing_spark.operators.layout import create_bloom_index

    target = str(tmp_path / "t")
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("bucket")
    )
    # 4 files sharing the SAME k range stats (hash layout: range
    # pruning can't help) but disjoint key sets
    for b in range(4):
        append_files(
            spark, target, df.filter(F.col("k") % 4 == b).coalesce(1)
        )
    create_bloom_index(spark, target, "k")
    seen = _spy_scans(monkeypatch)
    st = delete_rows(spark, target, "k = 1337", mode="dv")
    assert st["rows_deleted"] == 1
    # range stats keep all 4 files; the bloom probe cuts to ~1
    assert min(seen) <= 2
    assert read_table(spark, target).count() == 3999
