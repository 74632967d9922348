"""File-level skipping on manifest tables
(`operators/layout.py::file_column_stats` / `prune_file_list` /
`read_table(prune=)`). The registry gate (layout_manifest_prune_read)
hash-checks the end-to-end read; these tests pin the stats mechanics —
manifest or footer min/max, conservative handling of stat-less files
and of bounds of another type, prune-to-empty schema preservation."""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.operators import layout
from dbt_slabbing_spark.operators.layout import (
    ensure_manifest,
    file_column_stats,
    prune_file_list,
    read_table,
)


@pytest.fixture()
def ranged_table(spark, tmp_path):
    """3 files with disjoint known v-ranges + 1 file whose v is all
    NULL (footer has no usable min/max)."""
    import shutil

    work = tmp_path / "t"
    work.mkdir()
    slices = [(0, 10), (10, 20), (20, 30)]
    for i, (lo, hi) in enumerate(slices):
        df = spark.createDataFrame(
            [(j, float(j)) for j in range(lo, hi)], "k int, v double"
        ).coalesce(1)
        staging = tmp_path / f"s{i}"
        df.write.parquet(str(staging))
        part = sorted(staging.glob("*.parquet"))[0]
        shutil.move(str(part), str(work / f"f{i}.parquet"))
    nulls = spark.createDataFrame(
        [(99, None), (98, None)], "k int, v double"
    ).coalesce(1)
    staging = tmp_path / "sn"
    nulls.write.parquet(str(staging))
    shutil.move(str(sorted(staging.glob("*.parquet"))[0]), str(work / "fnull.parquet"))
    ensure_manifest(work)
    return work


def test_footer_stats_match_data(ranged_table):
    stats = file_column_stats(ranged_table, ["f0.parquet", "f2.parquet"], "v")
    assert stats["f0.parquet"] == (0.0, 9.0)
    assert stats["f2.parquet"] == (20.0, 29.0)


def test_statless_file_is_conservatively_kept(ranged_table):
    live = ensure_manifest(ranged_table)
    kept = prune_file_list(ranged_table, live, "v", 12.0, 14.0)
    # overlap keeps f1; the all-null file has no stats -> kept too
    assert set(kept) == {"f1.parquet", "fnull.parquet"}


def test_pruned_filtered_read_equals_unpruned(spark, ranged_table):
    full = (
        read_table(spark, ranged_table)
        .filter(F.col("v").between(8.0, 22.0))
        .collect()
    )
    pruned = (
        read_table(spark, ranged_table, prune=("v", 8.0, 22.0))
        .filter(F.col("v").between(8.0, 22.0))
        .collect()
    )
    assert sorted(r["k"] for r in pruned) == sorted(r["k"] for r in full)


def test_statless_file_survives_any_prune(spark, ranged_table):
    # a range beyond every statted file still keeps the all-null file
    # (file-level stats can't prove its rows are out of range) — the
    # row filter on top then excludes them, per the superset contract
    df = read_table(spark, ranged_table, prune=("v", 1000.0, 2000.0))
    assert df.count() == 2  # fnull.parquet only
    assert df.filter(F.col("v").between(1000.0, 2000.0)).count() == 0


def test_prune_to_empty_keeps_schema(spark, tmp_path):
    import shutil

    work = tmp_path / "t2"
    work.mkdir()
    df = spark.createDataFrame([(1, 5.0)], "k int, v double").coalesce(1)
    staging = tmp_path / "s"
    df.write.parquet(str(staging))
    shutil.move(str(sorted(staging.glob("*.parquet"))[0]), str(work / "f.parquet"))
    ensure_manifest(work)
    out = read_table(spark, work, prune=("v", 1000.0, 2000.0))
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}


def test_prune_to_empty_keeps_merged_schema(spark, tmp_path):
    """ADVICE r10: the prune-to-empty branch used to bind its schema
    from the FIRST live file only; under merge_schema=True on a
    schema-evolved table that dropped columns added by later files."""
    import shutil

    work = tmp_path / "t3"
    work.mkdir()
    for i, (schema, row) in enumerate(
        [("k int, v double", (1, 5.0)), ("k int, v double, extra string", (2, 6.0, "x"))]
    ):
        staging = tmp_path / f"s{i}"
        spark.createDataFrame([row], schema).coalesce(1).write.parquet(str(staging))
        shutil.move(
            str(sorted(staging.glob("*.parquet"))[0]), str(work / f"f{i}.parquet")
        )
    ensure_manifest(work)
    out = read_table(spark, work, merge_schema=True, prune=("v", 1000.0, 2000.0))
    assert out.count() == 0
    assert set(out.columns) == {"k", "v", "extra"}


def test_non_json_native_stats_are_conservative(spark, tmp_path):
    """ADVICE r10: timestamp footer min/max are datetime objects —
    non-JSON-native. They must map to entry=None ("may contain
    anything": the file is always kept) instead of crashing the
    sidecar write with TypeError."""
    import datetime
    import shutil

    work = tmp_path / "t4"
    work.mkdir()
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1))], "k int, ts timestamp"
    ).coalesce(1)
    staging = tmp_path / "sts"
    df.write.parquet(str(staging))
    shutil.move(str(sorted(staging.glob("*.parquet"))[0]), str(work / "f.parquet"))
    ensure_manifest(work)
    stats = file_column_stats(work, ["f.parquet"], "ts")
    assert stats == {"f.parquet": None}
    # conservative prune keeps the file
    assert prune_file_list(work, ["f.parquet"], "ts", 0, 0) == ["f.parquet"]
    # the adoption commit carried the (null) stat, so the read was
    # answered from the manifest alone: no sidecar is ever created
    mf = json.loads((work / layout._MANIFEST).read_text())
    assert mf["stats"]["f.parquet"]["ts"] is None
    assert not (work / "_stats.json").exists()


def test_corrupt_footer_is_statless_not_fatal(ranged_table):
    """ADVICE r10: a corrupt parquet footer raises ArrowInvalid (a
    ValueError subclass the old `except OSError` missed) — it must map
    to entry=None, not crash read_table(prune=)."""
    bad = ranged_table / "fbad.parquet"
    bad.write_bytes(b"PAR1 this is not a real parquet footer")
    stats = file_column_stats(ranged_table, ["fbad.parquet"], "v")
    assert stats == {"fbad.parquet": None}
    assert prune_file_list(ranged_table, ["fbad.parquet"], "v", 0.0, 1.0) == [
        "fbad.parquet"
    ]


def test_append_commit_carries_stats_and_forwards(spark, tmp_path):
    """r11: append_files computes per-file column min/max at write time
    into the commit record; a second append CARRIES the first commit's
    entries forward (immutable files -> never stale) and adds its own.
    Reads then prune from the manifest alone — no sidecar, no footer
    I/O."""
    from dbt_slabbing_spark.operators.layout import append_files

    target = str(tmp_path / "t")
    df1 = spark.createDataFrame([(i, float(i)) for i in range(10)], "k int, v double")
    df2 = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 110)], "k int, v double"
    )
    append_files(spark, target, df1.coalesce(1))
    append_files(spark, target, df2.coalesce(1))
    doc = json.loads((pathlib.Path(target) / layout._MANIFEST).read_text())
    assert set(doc["stats"]) == set(doc["files"])  # every live file covered
    by_range = sorted(tuple(s["v"]) for s in doc["stats"].values())
    assert by_range == [(0.0, 9.0), (100.0, 109.0)]
    live = sorted(doc["files"])
    assert prune_file_list(target, live, "v", 0.0, 50.0) == [
        n for n in live if tuple(doc["stats"][n]["v"]) == (0.0, 9.0)
    ]
    assert not (pathlib.Path(target) / "_stats.json").exists()


def test_compaction_recomputes_commit_stats(spark, tmp_path):
    """Compaction's commit drops displaced files' stats entries (they
    leave the live list) and records fresh ones for the rewritten
    files."""
    from dbt_slabbing_spark.operators.layout import append_files, compact_table

    target = str(tmp_path / "t")
    for lo in (0, 100):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 10)], "k int, v double"
        )
        append_files(spark, target, df.coalesce(1))
    compact_table(spark, target)
    doc = json.loads((pathlib.Path(target) / layout._MANIFEST).read_text())
    assert set(doc["stats"]) == set(doc["files"])
    allv = [tuple(s["v"]) for s in doc["stats"].values()]
    assert min(lo for lo, _ in allv) == 0.0
    assert max(hi for _, hi in allv) == 109.0


def test_multi_column_prune_intersects(spark, tmp_path):
    """read_table(prune=[(c1, ...), (c2, ...)]) keeps only files whose
    committed boxes overlap EVERY range — the two-dim skipping the
    Hilbert/z-order writers exist to enable."""
    import shutil

    from dbt_slabbing_spark.operators.layout import read_table

    work = tmp_path / "t"
    work.mkdir()
    # 4 files = 2 v-ranges x 2 u-ranges (tight boxes on both dims)
    cells = [(0, 0), (0, 1), (1, 0), (1, 1)]
    for i, (vi, ui) in enumerate(cells):
        rows = [
            (100 * ui + u, float(100 * vi + v))
            for u in range(10)
            for v in range(10)
        ]
        df = spark.createDataFrame(rows, "u int, v double").coalesce(1)
        staging = tmp_path / f"s{i}"
        df.write.parquet(str(staging))
        shutil.move(
            str(sorted(staging.glob("*.parquet"))[0]),
            str(work / f"cell-{vi}{ui}.parquet"),
        )
    live = ensure_manifest(work)
    # v in [0, 50] -> vi=0 files; u in [100, 150] -> ui=1 files
    assert prune_file_list(work, live, "v", 0.0, 50.0) == [
        "cell-00.parquet",
        "cell-01.parquet",
    ]
    got = read_table(
        spark, work, prune=[("v", 0.0, 50.0), ("u", 100, 150)]
    )
    files_scanned = {r[0].rsplit("/", 1)[-1] for r in
                     got.select(F.input_file_name()).distinct().collect()}
    assert files_scanned == {"cell-01.parquet"}
    # superset guarantee: pruned+filtered == unpruned filtered
    cond = (F.col("v") <= 50.0) & (F.col("u") >= 100) & (F.col("u") <= 150)
    assert sorted(got.filter(cond).collect()) == sorted(
        read_table(spark, work).filter(cond).collect()
    )


def test_manifest_without_stats_prunes_from_footers(spark, ranged_table):
    """A manifest WITHOUT a stats record (hand-edited or older tables)
    still prunes correctly, from each file's footer."""
    live = ensure_manifest(ranged_table)
    mf = pathlib.Path(ranged_table) / layout._MANIFEST
    doc = json.loads(mf.read_text())
    doc.pop("stats", None)
    mf.write_text(json.dumps(doc))
    stats = file_column_stats(ranged_table, live, "v")
    assert stats["f1.parquet"] == (10.0, 19.0)
    assert stats["fnull.parquet"] is None
    assert set(prune_file_list(ranged_table, live, "v", 12.0, 14.0)) == {
        "f1.parquet",
        "fnull.parquet",
    }
    got = read_table(spark, ranged_table, prune=("v", 12.0, 14.0)).filter(
        F.col("v").between(12.0, 14.0)
    )
    assert sorted(r["k"] for r in got.collect()) == [12, 13, 14]
    assert not (pathlib.Path(ranged_table) / "_stats.json").exists()


def test_bounds_of_another_type_keep_every_file(spark, tmp_path):
    """Int bounds on a string column cannot be compared with its
    min/max: every file is kept, and the read equals the unpruned one."""
    from dbt_slabbing_spark.operators.layout import append_files

    target = str(tmp_path / "t")
    for lo in (0, 10):
        df = spark.createDataFrame(
            [(i, f"s{i:02d}") for i in range(lo, lo + 10)], "k int, s string"
        )
        append_files(spark, target, df.coalesce(1))
    live = ensure_manifest(target)
    assert prune_file_list(target, live, "s", 0, 5) == live
    got = read_table(spark, target, prune=("s", 0, 5))
    assert sorted(got.collect()) == sorted(read_table(spark, target).collect())


def test_point_lookup_skips_by_min_max(spark, tmp_path):
    """read_table(point=) on a key without a bloom index still skips
    every file whose min/max excludes the value; the rows are those of
    the plain filter."""
    from dbt_slabbing_spark.operators.layout import append_files

    target = str(tmp_path / "t")
    for lo in (0, 10, 20):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 10)], "k int, v double"
        )
        append_files(spark, target, df.coalesce(1))
    got = read_table(spark, target, point=("k", 13))
    scanned = {r[0] for r in got.select(F.input_file_name()).distinct().collect()}
    assert len(scanned) == 1
    assert got.filter(F.col("k") == 13).collect() == (
        read_table(spark, target).filter(F.col("k") == 13).collect()
    )


def test_missing_column_is_statless(ranged_table):
    stats = file_column_stats(ranged_table, ["f0.parquet"], "no_such_col")
    assert stats["f0.parquet"] is None


def test_prune_requires_manifest(spark, tmp_path):
    d = tmp_path / "plain"
    spark.range(3).write.parquet(str(d))
    with pytest.raises(ValueError, match="prune= requires"):
        read_table(spark, str(d), prune=("id", 0, 1))


def test_vacuum_drops_stats_entries(spark, ranged_table):
    import os
    import time

    ensure_manifest(ranged_table)
    # a table without commit-carried stats
    mf = pathlib.Path(ranged_table) / layout._MANIFEST
    doc = json.loads(mf.read_text())
    doc.pop("stats", None)
    mf.write_text(json.dumps(doc))
    orphan = pathlib.Path(ranged_table) / "orphan.parquet"
    # an orphan with footer stats, aged past the grace
    import shutil

    shutil.copy(str(pathlib.Path(ranged_table) / "f0.parquet"), str(orphan))
    old = time.time() - 3600.0
    os.utime(orphan, (old, old))
    removed = layout.vacuum_orphans(ranged_table)
    assert removed == ["orphan.parquet"]


def test_compact_cluster_by_improves_pruning(spark, tmp_path):
    """compact_table(cluster_by=) = OPTIMIZE ZORDER: after the
    clustered rewrite the files are value-disjoint, a narrow band
    prunes to a strict subset, commit-carried stats serve the prune,
    and the table CONTENT is unchanged."""
    from dbt_slabbing_spark.operators.layout import (
        append_files,
        compact_table,
        read_table,
    )

    target = str(tmp_path / "t")
    rows = [(i, float(i % 100)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k int, v double")
    append_files(spark, target, df.repartition(6))  # unclustered
    live = ensure_manifest(target)
    assert prune_file_list(target, live, "v", 40.0, 45.0) == live  # no skip
    before = sorted(r["k"] for r in read_table(spark, target).collect())

    p = pathlib.Path(target)
    total = sum((p / n).stat().st_size for n in live)
    stats = compact_table(
        spark, target, target_file_bytes=max(total // 6, 1), cluster_by=["v"]
    )
    assert stats["n_files_after"] > 1
    live2 = ensure_manifest(target)
    scanned = prune_file_list(target, live2, "v", 40.0, 45.0)
    assert 0 < len(scanned) < len(live2)  # strict improvement
    # commit-carried stats cover the rewritten files (no sidecar)
    doc = json.loads((p / layout._MANIFEST).read_text())
    assert set(doc["stats"]) == set(doc["files"])
    assert not (p / "_stats.json").exists()
    # content unchanged by the clustered rewrite
    after = sorted(r["k"] for r in read_table(spark, target).collect())
    assert after == before
    # pruned+filtered read == unpruned filtered read
    got = sorted(
        r["k"]
        for r in read_table(spark, target, prune=("v", 40.0, 45.0))
        .filter(F.col("v").between(40.0, 45.0))
        .collect()
    )
    want = sorted(r["k"] for r in df.filter(F.col("v").between(40.0, 45.0)).collect())
    assert got == want
