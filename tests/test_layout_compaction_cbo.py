"""Maintenance + optimizer-statistics coverage: small-files compaction
and ANALYZE TABLE / cost-based-optimizer stats."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators.layout import compact_parquet_dir
from tests.conftest import SF_SMOKE


def test_compact_parquet_dir_restores_file_count(spark, tmp_path):
    """A micro-batch-fragmented table compacts to the computed file
    count with identical contents."""
    target = str(tmp_path / "fragmented")
    events = table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    events.repartition(64).write.parquet(target)  # simulate tiny appends
    n_before = len(list(pathlib.Path(target).glob("*.parquet")))
    assert n_before >= 32

    before = {r["event_id"]: (r["event_type"], r["value"]) for r in events.collect()}
    n = compact_parquet_dir(spark, target, target_file_bytes=10 * 1024 * 1024)
    files = list(pathlib.Path(target).glob("*.parquet"))
    assert len(files) == n < n_before

    after_df = spark.read.parquet(target)
    after = {r["event_id"]: (r["event_type"], r["value"]) for r in after_df.collect()}
    assert after == before


def test_analyze_table_stats_reach_the_planner(spark, tmp_path):
    """ANALYZE TABLE COMPUTE STATISTICS (+ FOR ALL COLUMNS) must surface
    rowCount in the optimized plan's statistics and per-column distinct
    counts in the catalog — the inputs the cost-based optimizer uses for
    join reordering and broadcast decisions at scale."""
    # external table location: keep the warehouse out of the repo cwd
    table(spark, SF_SMOKE, "nation").write.mode("overwrite").option(
        "path", str(tmp_path / "cbo_nation")
    ).saveAsTable("_cbo_nation")
    try:
        spark.sql("ANALYZE TABLE _cbo_nation COMPUTE STATISTICS FOR ALL COLUMNS")
        # plan-level rowCount is only propagated when the CBO is on
        spark.conf.set("spark.sql.cbo.enabled", "true")
        stats = spark.table("_cbo_nation")._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), "ANALYZE did not record rowCount"
        assert int(str(stats.rowCount().get())) == 25
        desc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                "DESCRIBE EXTENDED _cbo_nation n_nationkey"
            ).collect()
        }
        assert desc.get("distinct_count") == "25", desc
        # CBO consumes them without breaking results
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        try:
            n = (
                spark.table("_cbo_nation")
                .join(table(spark, SF_SMOKE, "region"), F.expr("n_regionkey = r_regionkey"))
                .count()
            )
            assert n == 25
        finally:
            spark.conf.set("spark.sql.cbo.enabled", "false")
            spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    finally:
        spark.sql("DROP TABLE IF EXISTS _cbo_nation")


def test_compact_swap_failure_recoverable_and_live_restored(spark, tmp_path, monkeypatch):
    """Kill the swap at its worst instant (live dir already moved to
    .old, staging→live rename fails): compact_parquet_dir must restore
    the live directory with the ORIGINAL data and leave the staging
    dir (full new data) on disk for retry — the full dataset exists in
    some directory at every instant (see the swap contract in the
    docstring; on object stores this is a table-format metadata commit
    instead)."""
    import pathlib as _pl

    target = str(tmp_path / "frag")
    events = table(spark, SF_SMOKE, "events").select("event_id", "value")
    events.repartition(16).write.parquet(target)
    before = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}

    real_rename = _pl.Path.rename

    def failing_rename(self, dst):
        if str(self).endswith(".compacting"):
            raise OSError("injected: swap interrupted")
        return real_rename(self, dst)

    monkeypatch.setattr(_pl.Path, "rename", failing_rename)
    try:
        compact_parquet_dir(spark, target, target_file_bytes=10 * 1024 * 1024)
        raised = False
    except OSError:
        raised = True
    monkeypatch.undo()
    assert raised

    # live directory is back with the original data
    assert {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()} == before
    # staging survives with the complete NEW data, ready for retry
    staging = pathlib.Path(target + ".compacting")
    assert staging.is_dir()
    assert {
        r["event_id"]: r["value"] for r in spark.read.parquet(str(staging)).collect()
    } == before

    # ...and a retry after the transient failure completes the swap
    n = compact_parquet_dir(spark, target, target_file_bytes=10 * 1024 * 1024)
    assert len(list(pathlib.Path(target).glob("*.parquet"))) == n
    assert not pathlib.Path(target + ".old").exists()
    assert {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()} == before


def _write_events_by_user(spark, target: str):
    events = table(spark, SF_SMOKE, "events").select("event_id", "user_id", "event_type", "value")
    # range-partition by user_id so the predicate is file-localized —
    # the layout-prunes-deletes story (a z-ordered/bucketed key at scale)
    events.repartitionByRange(8, "user_id").write.parquet(target)
    return {r["event_id"]: (r["user_id"], r["event_type"]) for r in events.collect()}


def test_delete_rows_rewrites_only_affected_files(spark, tmp_path):
    """Targeted deletion (the GDPR DELETE): matching rows disappear,
    stats are exact, and files with NO matching rows are NEITHER copied
    NOR rewritten (same inode, same bytes, same mtime — they just stay
    listed in the manifest) — the cost is O(affected files) + one
    atomic manifest swap, not O(table)."""
    import hashlib
    import pathlib

    from dbt_slabbing_spark.operators.layout import delete_rows, read_table

    target = str(tmp_path / "events")
    before = _write_events_by_user(spark, target)
    victims = {k for k, (u, _t) in before.items() if 3 <= u <= 4}
    assert victims  # non-vacuous

    def digests():
        return {
            f.name: hashlib.md5(f.read_bytes()).hexdigest()
            for f in pathlib.Path(target).glob("*.parquet")
        }

    def identity():  # inode + mtime: detects a copy even with equal bytes
        return {
            f.name: (f.stat().st_ino, f.stat().st_mtime_ns)
            for f in pathlib.Path(target).glob("*.parquet")
        }

    pre, pre_id = digests(), identity()
    stats = delete_rows(spark, target, "user_id >= 3 AND user_id <= 4", retain=False)
    assert stats["rows_before"] == len(before)
    assert stats["rows_deleted"] == len(victims)
    assert stats["rows_after"] == len(before) - len(victims)
    assert 0 < stats["n_files_rewritten"] < stats["n_files_total"]

    post, post_id = digests(), identity()
    untouched_pre = {n: h for n, h in pre.items() if n in post}
    # every carried-over file is the SAME file: byte-identical AND the
    # same inode/mtime — untouched, not copied through staging
    assert untouched_pre and all(post[n] == h for n, h in untouched_pre.items())
    assert all(post_id[n] == pre_id[n] for n in untouched_pre)
    assert len(pre) - len(untouched_pre) == stats["n_files_rewritten"]

    # both read paths agree post-delete (clean run leaves no orphans)
    after = {r["event_id"] for r in spark.read.parquet(target).collect()}
    assert after == set(before) - victims
    assert {r["event_id"] for r in read_table(spark, target).collect()} == after

    # no-match predicate: zero rewrites, directory untouched
    stats2 = delete_rows(spark, target, "user_id < 0")
    assert stats2["rows_deleted"] == 0 and stats2["n_files_rewritten"] == 0
    assert digests() == post


def test_delete_rows_keeps_predicate_null_rows(spark, tmp_path):
    """SQL DELETE semantics on a nullable key: rows whose predicate
    evaluates NULL are KEPT, not silently dropped, and rows_deleted
    counts only predicate-TRUE rows."""
    from dbt_slabbing_spark.operators.layout import delete_rows

    target = str(tmp_path / "nullable")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None), (5, 50)],
        "id int, k int",
    )
    df.repartition(2).write.parquet(target)

    stats = delete_rows(spark, target, "k >= 30", retain=False)  # NULL ids 2,4;
    # eager mode: this test reads the PLAIN directory below, bypassing
    # the manifest, so displaced files must really be unlinked
    assert stats["rows_deleted"] == 2  # ids 3 and 5 only
    survivors = {r["id"]: r["k"] for r in spark.read.parquet(target).collect()}
    assert survivors == {1: 10, 2: None, 4: None}
    assert stats["rows_after"] == 3 == len(survivors)


def test_delete_rows_crash_before_manifest_commit_is_invisible(spark, tmp_path, monkeypatch):
    """Crash window 1: failure AT the manifest commit → readers still
    see the complete old snapshot, the retry converges, and vacuum
    reclaims the orphaned replacement files."""
    import pathlib

    from dbt_slabbing_spark.operators import layout
    from dbt_slabbing_spark.operators.layout import (
        delete_rows,
        ensure_manifest,
        read_table,
        vacuum_orphans,
    )

    target = str(tmp_path / "events")
    before = _write_events_by_user(spark, target)
    victims = {k for k, (u, _t) in before.items() if 3 <= u <= 4}
    ensure_manifest(target)  # adopt first so the fault hits the SWAP commit

    real_commit = layout._commit_manifest

    def boom(p, files, expected_version=None, added=None, **kw):
        raise OSError("injected: crash at manifest commit")

    monkeypatch.setattr(layout, "_commit_manifest", boom)
    raised = False
    try:
        delete_rows(spark, target, "user_id >= 3 AND user_id <= 4")
    except OSError:
        raised = True
    monkeypatch.setattr(layout, "_commit_manifest", real_commit)
    assert raised

    # manifest readers see the UNCHANGED old snapshot in full
    assert {r["event_id"] for r in read_table(spark, target).collect()} == set(before)
    # the staged replacements exist as orphans (not in the manifest)
    live = set(ensure_manifest(target))
    on_disk = {f.name for f in pathlib.Path(target).glob("*.parquet")}
    assert on_disk - live  # orphans present

    # retry converges; vacuum reclaims every orphan from the failed run
    stats = delete_rows(spark, target, "user_id >= 3 AND user_id <= 4")
    assert stats["rows_deleted"] == len(victims)
    vacuum_orphans(target, grace_seconds=0.0)
    live = set(ensure_manifest(target))
    assert {f.name for f in pathlib.Path(target).glob("*.parquet")} == live
    assert {r["event_id"] for r in read_table(spark, target).collect()} == set(before) - victims
    assert {r["event_id"] for r in spark.read.parquet(target).collect()} == set(before) - victims


def test_delete_rows_crash_after_commit_leaves_orphans_not_corruption(
    spark, tmp_path, monkeypatch
):
    """Crash window 2: commit lands but the post-commit cleanup unlinks
    never run → the manifest (and read_table) serve the NEW snapshot;
    the displaced originals are orphans that a plain directory read
    would resurrect — until vacuum reclaims them."""
    import pathlib

    from dbt_slabbing_spark.operators import layout
    from dbt_slabbing_spark.operators.layout import (
        delete_rows,
        ensure_manifest,
        read_table,
        vacuum_orphans,
    )

    target = str(tmp_path / "events")
    before = _write_events_by_user(spark, target)
    victims = {k for k, (u, _t) in before.items() if 3 <= u <= 4}

    monkeypatch.setattr(layout, "_unlink_quiet", lambda f: None)  # cleanup "crashed"
    stats = delete_rows(spark, target, "user_id >= 3 AND user_id <= 4")
    monkeypatch.undo()
    assert stats["rows_deleted"] == len(victims)

    # committed snapshot is correct...
    assert {r["event_id"] for r in read_table(spark, target).collect()} == set(before) - victims
    # ...while the raw directory still holds the displaced originals
    live = set(ensure_manifest(target))
    orphans = {f.name for f in pathlib.Path(target).glob("*.parquet")} - live
    assert len(orphans) == stats["n_files_rewritten"]

    removed = vacuum_orphans(target, grace_seconds=0.0)
    assert set(removed) == orphans
    assert {r["event_id"] for r in spark.read.parquet(target).collect()} == set(before) - victims


def test_compaction_respects_manifest_and_skips_orphans(spark, tmp_path, monkeypatch):
    """compact_parquet_dir on a manifest table reads ONLY live files —
    orphans from an interrupted delete are not resurrected — and the
    compacted directory is plain (fresh adoption) with correct data."""
    import pathlib

    from dbt_slabbing_spark.operators import layout
    from dbt_slabbing_spark.operators.layout import delete_rows

    target = str(tmp_path / "events")
    before = _write_events_by_user(spark, target)
    victims = {k for k, (u, _t) in before.items() if 3 <= u <= 4}

    monkeypatch.setattr(layout, "_unlink_quiet", lambda f: None)  # leave orphans
    delete_rows(spark, target, "user_id >= 3 AND user_id <= 4")
    monkeypatch.undo()

    compact_parquet_dir(spark, target, target_file_bytes=10 * 1024 * 1024)
    assert not (pathlib.Path(target) / "_manifest.json").exists()
    assert {r["event_id"] for r in spark.read.parquet(target).collect()} == set(before) - victims


def test_compaction_keeps_dv_deletes_and_renames(spark, tmp_path):
    """The plain directory compact_parquet_dir leaves behind has no
    manifest to apply DVs or the column map at read time, so the
    rewrite itself must: DV-deleted rows stay deleted and a renamed
    column keeps its logical name."""
    from dbt_slabbing_spark.operators.layout import (
        append_files,
        delete_rows,
        rename_column,
    )

    target = str(tmp_path / "t")
    append_files(
        spark, target, spark.range(1000).selectExpr("id AS k", "id % 10 AS g").repartition(4)
    )
    delete_rows(spark, target, "g = 3", mode="dv")
    rename_column(target, "g", "grp")
    compact_parquet_dir(spark, target, target_file_bytes=10 * 1024 * 1024)
    out = spark.read.parquet(target)
    assert sorted(out.columns) == ["grp", "k"]
    assert out.count() == 900
    assert out.filter("grp = 3").count() == 0


def test_append_files_schema_evolution_and_cross_generation_delete(spark, tmp_path):
    """append_files commits new files atomically to the manifest; a
    later generation may ADD a column (merge_schema read reconciles,
    older files read NULL there), and delete_rows works across
    generations — including a predicate on the added column, where
    pre-evolution rows evaluate NULL and therefore SURVIVE."""
    from dbt_slabbing_spark.operators.layout import (
        append_files,
        delete_rows,
        ensure_manifest,
        read_table,
        vacuum_orphans,
    )

    t = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).coalesce(1).write.parquet(t)
    ensure_manifest(t)

    # generation 2: adds a `score` column
    stats = append_files(
        spark,
        t,
        spark.createDataFrame(
            [(3, "c", 0.5), (4, "d", 0.9)], "id long, name string, score double"
        ).coalesce(1),
    )
    assert stats["n_files_added"] == 1

    merged = read_table(spark, t, merge_schema=True)
    rows = {r["id"]: r for r in merged.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["score"] is None and rows[4]["score"] == 0.9

    # delete on the ADDED column: gen-1 rows see NULL -> survive
    d = delete_rows(spark, t, "score > 0.7")
    assert d["rows_deleted"] == 1 and d["rows_after"] == 3
    after = {r["id"] for r in read_table(spark, t, merge_schema=True).collect()}
    assert after == {1, 2, 3}

    # delete on a base column spanning both generations
    d2 = delete_rows(spark, t, "id IN (1, 3)")
    assert d2["rows_deleted"] == 2
    assert {r["id"] for r in read_table(spark, t, merge_schema=True).collect()} == {2}
    vacuum_orphans(t, grace_seconds=0.0)


def test_append_files_crash_before_commit_is_invisible(spark, tmp_path, monkeypatch):
    """A crash after moving files but before the manifest swap leaves
    the appended rows INVISIBLE (orphans), and vacuum reclaims them."""
    import dbt_slabbing_spark.operators.layout as layout

    t = str(tmp_path / "tbl")
    spark.createDataFrame([(1,)], "id long").coalesce(1).write.parquet(t)
    layout.ensure_manifest(t)

    real_commit = layout._commit_manifest

    def boom(p, files, expected_version=None, added=None, **kw):
        raise RuntimeError("crash before manifest commit")

    monkeypatch.setattr(layout, "_commit_manifest", boom)
    try:
        layout.append_files(
            spark, t, spark.createDataFrame([(2,)], "id long").coalesce(1)
        )
    except RuntimeError:
        pass
    monkeypatch.setattr(layout, "_commit_manifest", real_commit)

    assert {r["id"] for r in layout.read_table(spark, t).collect()} == {1}
    removed = layout.vacuum_orphans(t, grace_seconds=0.0)
    assert len(removed) == 1 and removed[0].startswith("append-")
    # retry converges
    layout.append_files(
        spark, t, spark.createDataFrame([(2,)], "id long").coalesce(1)
    )
    assert {r["id"] for r in layout.read_table(spark, t).collect()} == {1, 2}
