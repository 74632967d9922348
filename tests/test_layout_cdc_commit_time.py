"""Round-14 task #2: commit-time CDC change files.

Every mutation stages its change rows when it commits (Delta CDF's
``_change_data`` design — the rows are already in hand: a DV DELETE
scanned exactly the matching rows, MERGE classified every target row,
UPDATE computed pre/post images). ``read_changes`` then serves ANY
range from per-commit change files + appended-file scans; the
full-snapshot ``exceptAll`` diff survives only as the fallback for
ranges crossing a record-less commit (pre-r14 history, overwrite,
restore). These tests pin:

- scan width: a DV-delete change pull touches ONLY the staged change
  files, never the table (the round-13 VERDICT's scale-killer was an
  O(table) double exceptAll per pull);
- plan shape: no Except node anywhere in the composed pull;
- semantics: pre/post images, vocabulary with and without keys, fold
  reconstruction across mixed mutation batches;
- OPTIMIZE transparency: a pull spanning a compaction commit emits
  NOTHING for it (VERDICT r13 task #6);
- lifecycle: pruned/vacuumed change files reclaim, fallback still
  exact on record-less ranges."""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.operators.layout import (
    _MANIFEST,
    append_files,
    compact_table,
    delete_rows,
    follow_changes,
    manifest_versions,
    merge_rows,
    overwrite_table,
    prune_history,
    read_changes,
    read_table,
    update_rows,
    vacuum_orphans,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v double")


def _plan(df) -> str:
    # ANALYZED plan: the optimizer rewrites ExceptAll into a
    # replicaterows/union form, so "Except" only survives pre-rewrite
    return df._jdf.queryExecution().analyzed().toString()


def _scanned_files(df) -> set:
    return {
        r[0].rsplit("/", 1)[-1]
        for r in df.select(F.input_file_name()).distinct().collect()
        if r[0]
    }


def _fold(state, changes):
    """Multiset fold of a change batch onto a snapshot: +insert/
    +update_postimage, −delete/−update_preimage."""
    cols = [c for c in changes.columns if c != "_change_type"]
    plus = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*cols)
    minus = changes.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(*cols)
    return state.select(*cols).unionByName(plus).exceptAll(minus)


def test_dv_delete_pull_scans_only_change_files(spark, tmp_path):
    """THE scale gate: a change pull over a DV-delete commit must read
    the staged change file(s) only — zero table files — and its plan
    must contain no Except (no snapshot diff)."""
    t = str(tmp_path / "t")
    for i in range(4):
        append_files(
            spark, t, _mk(spark, [(i * 10 + j, float(j)) for j in range(5)]).coalesce(1)
        )
    v0 = manifest_versions(t)[-1]
    delete_rows(spark, t, "v = 2.0", mode="dv")
    v1 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v1)
    got = {(r["k"], r["_change_type"]) for r in ch.collect()}
    assert got == {(i * 10 + 2, "delete") for i in range(4)}
    # scan-width spy: only _changes/ files, no data file of the table
    live = set(json.loads((pathlib.Path(t) / _MANIFEST).read_text())["files"])
    scanned = _scanned_files(ch)
    assert scanned and all(n.startswith("cdc-") for n in scanned)
    assert scanned.isdisjoint(live)
    # plan guard: no full-snapshot diff anywhere in the pull
    assert "Except" not in _plan(ch)


def test_cow_delete_and_update_images(spark, tmp_path):
    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    delete_rows(spark, t, "k = 2")  # cow
    update_rows(spark, t, "k = 3", {"v": "v + 10.0"})  # cow
    v2 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v2, keys=["k"])
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in ch.collect())
    assert got == [
        (2, 2.0, "delete"),
        (3, 3.0, "update_preimage"),
        (3, 13.0, "update_postimage"),
    ]
    assert "Except" not in _plan(ch)
    # without keys the vocabulary downgrades to insert/delete
    ch2 = read_changes(spark, t, v0, v2)
    got2 = sorted((r["k"], r["v"], r["_change_type"]) for r in ch2.collect())
    assert got2 == [(2, 2.0, "delete"), (3, 3.0, "delete"), (3, 13.0, "insert")]


def test_dv_update_and_merge_feed(spark, tmp_path):
    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    update_rows(spark, t, "k = 1", {"v": "99.0"}, mode="dv")
    merge_rows(spark, t, _mk(spark, [(3, 30.0), (4, 40.0)]), on="k", mode="dv")
    v2 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v2, keys=["k"])
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in ch.collect())
    assert got == [
        (1, 1.0, "update_preimage"),
        (1, 99.0, "update_postimage"),
        (3, 3.0, "update_preimage"),
        (3, 30.0, "update_postimage"),
        (4, 40.0, "insert"),
    ]
    assert "Except" not in _plan(ch)


def test_merge_clauses_feed(spark, tmp_path):
    """Full-clause MERGE: D and X rows surface as deletes, U rows as
    pre/post pairs, qualifying inserts from the insert data files."""
    t = str(tmp_path / "t")
    append_files(
        spark, t, _mk(spark, [(1, 1.0), (2, 2.0), (3, 3.0), (9, 9.0)]).coalesce(1)
    )
    v0 = manifest_versions(t)[-1]
    merge_rows(
        spark,
        t,
        _mk(spark, [(1, -1.0), (2, 20.0), (5, 50.0)]),
        on="k",
        when_matched_delete="s.v < 0",
        when_matched_update="*",
        when_not_matched_insert=True,
        when_not_matched_by_source_delete="t.k = 9",
    )
    v1 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v1, keys=["k"])
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in ch.collect())
    assert got == [
        (1, 1.0, "delete"),
        (2, 2.0, "update_preimage"),
        (2, 20.0, "update_postimage"),
        (5, 50.0, "insert"),
        (9, 9.0, "delete"),
    ]
    assert "Except" not in _plan(ch)


def test_pull_spanning_optimize_emits_nothing_for_it(spark, tmp_path):
    """VERDICT r13 task #6: a change pull spanning an OPTIMIZE commit
    must emit NO spurious changes — the compaction is a recorded noop
    transition, not a diff that happens to cancel — and a consumer
    folding the stream across it reconstructs the snapshot."""
    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(2))
    v0 = manifest_versions(t)[-1]
    snapshot0 = read_table(spark, t)
    delete_rows(spark, t, "k = 1", mode="dv")
    compact_table(spark, t)  # OPTIMIZE: materializes the DV, rewrites files
    append_files(spark, t, _mk(spark, [(3, 3.0)]).coalesce(1))
    v3 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v3)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [(1, "delete"), (3, "insert")]
    assert "Except" not in _plan(ch)
    # fold across the compaction reconstructs the live snapshot
    folded = {(r["k"], r["v"]) for r in _fold(snapshot0, ch).collect()}
    assert folded == {(r["k"], r["v"]) for r in read_table(spark, t).collect()}


def test_tailing_consumer_under_maintenance(spark, tmp_path):
    """A follow_changes tailer interleaved with mutations AND
    compaction cycles reconstructs every snapshot it pulls through."""
    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(i, float(i)) for i in range(8)]).coalesce(2))
    state = read_table(spark, t)
    last = manifest_versions(t)[-1]
    steps = [
        lambda: delete_rows(spark, t, "k % 3 = 0", mode="dv"),
        lambda: compact_table(spark, t),
        lambda: append_files(spark, t, _mk(spark, [(100, 100.0)]).coalesce(1)),
        lambda: update_rows(spark, t, "k = 100", {"v": "0.5"}, mode="dv"),
        lambda: compact_table(spark, t),
        lambda: merge_rows(spark, t, _mk(spark, [(100, -1.0), (200, 2.0)]), on="k"),
    ]
    for step in steps:
        step()
        changes, last = follow_changes(spark, t, last)
        if changes is not None:
            assert "Except" not in _plan(changes)
            state = _fold(state, changes)
    assert sorted((r["k"], r["v"]) for r in state.collect()) == sorted(
        (r["k"], r["v"]) for r in read_table(spark, t).collect()
    )


def test_overwrite_range_replace_record(spark, tmp_path):
    """OVERWRITE records a 'replace' pointer — Delta CDF's overwrite
    semantics: the WHOLE displaced snapshot surfaces as deletes and
    every new row as an insert (rows identical across the overwrite
    included — per-commit, not net). Served by scanning both sides,
    no exceptAll; the fold still reconstructs exactly."""
    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    snap0 = read_table(spark, t)
    overwrite_table(spark, t, _mk(spark, [(2, 2.0), (3, 3.0)]).coalesce(1))
    v1 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v1)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [
        (1, "delete"),
        (2, "delete"),
        (2, "insert"),
        (3, "insert"),
    ]
    assert "Except" not in _plan(ch)
    folded = {(r["k"], r["v"]) for r in _fold(snap0, ch).collect()}
    assert folded == {(2, 2.0), (3, 3.0)}


def test_fallback_on_unrecorded_history(spark, tmp_path):
    """A range crossing a commit WITHOUT a CDC record (simulated
    pre-r14 history) falls back to the endpoint diff and stays exact
    (net semantics there)."""
    t = str(tmp_path / "t")
    p = pathlib.Path(t)
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    delete_rows(spark, t, "k = 1")  # cow, records cdc
    v1 = manifest_versions(t)[-1]
    # strip the record, as a pre-r14 commit would look
    doc = json.loads((p / _MANIFEST).read_text())
    for h in doc["history"]:
        h.pop("cdc", None)
    (p / _MANIFEST).write_text(json.dumps(doc))
    ch = read_changes(spark, t, v0, v1)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [(1, "delete")]
    assert "Except" in _plan(ch)  # the fallback IS the diff


def test_unrecorded_compact_restore_range_lists_no_row_twice(spark, tmp_path):
    """Record-less history whose range only NETS OUT append-only
    (compact, then restore the pre-compaction files): no row changed,
    so the commit-versioned feed is empty like the plain one — the
    per-commit append records would list every row once for the
    compacted file and once more for its restored originals."""
    from dbt_slabbing_spark.operators.layout import restore_table

    t = str(tmp_path / "t")
    p = pathlib.Path(t)
    for rows in ([(1, 1.0)], [(2, 2.0)]):
        append_files(spark, t, _mk(spark, rows).coalesce(1))
    v0 = manifest_versions(t)[-1]
    compact_table(spark, t)  # the two files become one
    restore_table(t, version=v0, spark=spark)
    v2 = manifest_versions(t)[-1]
    doc = json.loads((p / _MANIFEST).read_text())
    for h in doc["history"]:
        h.pop("cdc", None)
    (p / _MANIFEST).write_text(json.dumps(doc))
    assert read_changes(spark, t, v0, v2).collect() == []
    assert read_changes(spark, t, v0, v2, with_commit_version=True).collect() == []


def test_change_file_lifecycle(spark, tmp_path):
    """Staged change files live under _changes/, survive vacuum while
    their history entry is retained, and reclaim once pruned."""
    t = str(tmp_path / "t")
    p = pathlib.Path(t)
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(1))
    delete_rows(spark, t, "k = 1", mode="dv")
    cdir = p / "_changes"
    assert cdir.is_dir() and list(cdir.glob("*.parquet"))
    # retained history protects the change file
    vacuum_orphans(t, grace_seconds=0.0)
    assert list(cdir.glob("*.parquet"))
    # a crash-orphan change file (staged, never referenced by a
    # commit) reclaims past the grace window
    orphan = cdir / "cdc-deadbeef-00000.parquet"
    orphan.write_bytes((next(cdir.glob("*.parquet"))).read_bytes())
    removed = vacuum_orphans(t, grace_seconds=0.0)
    assert "_changes/cdc-deadbeef-00000.parquet" in removed
    # prune the history -> the transition is no longer queryable and
    # its change file is unlinked with the entries
    prune_history(t, retain_versions=0)
    assert not list(cdir.glob("*.parquet"))
    with pytest.raises(ValueError, match="not in manifest"):
        read_changes(spark, t, 1, manifest_versions(t)[-1]).collect()


def test_fast_path_still_serves_pure_appends(spark, tmp_path):
    """Append-only ranges keep the cheapest path: new files scanned as
    inserts directly (no change files involved)."""
    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    append_files(spark, t, _mk(spark, [(2, 2.0)]).coalesce(1))
    v1 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v1)
    assert [(r["k"], r["_change_type"]) for r in ch.collect()] == [(2, "insert")]
    scanned = _scanned_files(ch)
    assert all(n.startswith("append-") for n in scanned)


def test_feed_across_schema_evolution(spark, tmp_path):
    """Change files staged before an ADD COLUMN conform to the current
    logical schema at read: the evolved column reads typed-NULL on old
    change rows, real values on post-evolution ones."""
    from dbt_slabbing_spark.operators.layout import add_column

    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    delete_rows(spark, t, "k = 1", mode="dv")  # change rows: (k, v) only
    add_column(t, "tag", "string")
    append_files(
        spark,
        t,
        spark.createDataFrame([(3, 3.0, "new")], "k int, v double, tag string"),
    )
    v3 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v3)
    got = sorted(
        (r["k"], r["tag"], r["_change_type"]) for r in ch.collect()
    )
    assert got == [(1, None, "delete"), (3, "new", "insert")]
    assert "Except" not in _plan(ch)


def test_sql_table_changes_tvf(spark, tmp_path):
    """Delta-style table_changes('t', v_from, v_to) through the SQL
    front-end: plain SELECT over the change feed, _commit_version
    included, ordinary SQL composition on top."""
    from dbt_slabbing_spark.plans.sql_dml import ManifestSession

    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0), (3, 3.0)]).coalesce(1))
    ses = ManifestSession(spark, mode="dv").register("tc_tab", t)
    v0 = manifest_versions(t)[-1]
    ses.sql("DELETE FROM tc_tab WHERE k = 2")
    ses.sql("UPDATE tc_tab SET v = v + 10.0 WHERE k = 3")
    v2 = manifest_versions(t)[-1]
    rows = ses.sql(
        f"SELECT k, v, _change_type, _commit_version "
        f"FROM table_changes('tc_tab', {v0}, {v2}) ORDER BY _commit_version, k, _change_type"
    ).collect()
    got = [(r["k"], r["v"], r["_change_type"]) for r in rows]
    assert got == [(2, 2.0, "delete"), (3, 3.0, "delete"), (3, 13.0, "insert")]
    # versions are the commit each change landed AT, monotone over the range
    vs = [r["_commit_version"] for r in rows]
    assert vs == sorted(vs) and vs[0] == v0 + 1 and vs[-1] == v2
    # aggregating SQL composes over the TVF like any relation
    n = ses.sql(
        f"SELECT count(*) AS n FROM table_changes('tc_tab', {v0}, {v2}) "
        f"WHERE _change_type = 'delete'"
    ).first()["n"]
    assert n == 2


def test_restore_feed_is_inverse_of_undone_range(spark, tmp_path):
    """RESTORE records an invert pointer: its change rows are the
    inverse composition of the undone range — appends surface as
    deletes, DV deletes as re-inserts — with no new change files
    staged and no snapshot diff in the plan."""
    from dbt_slabbing_spark.operators.layout import restore_table

    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    delete_rows(spark, t, "k = 1", mode="dv")
    append_files(spark, t, _mk(spark, [(3, 3.0)]).coalesce(1))
    v2 = manifest_versions(t)[-1]
    restore_table(t, version=v0, spark=spark)
    v3 = manifest_versions(t)[-1]
    # the restore commit alone: exactly the inverse of (v0 -> v2)
    ch = read_changes(spark, t, v2, v3)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [(1, "insert"), (3, "delete")]
    assert "Except" not in _plan(ch)
    # the whole range (v0 -> v3) folds to nothing: table is back at v0
    full = read_changes(spark, t, v0, v3)
    assert "Except" not in _plan(full)
    folded = _fold(read_table(spark, t, version=v0), full)
    assert folded.count() == read_table(spark, t).count() == 2
    back = {(r["k"], r["v"]) for r in folded.collect()}
    assert back == {(1, 1.0), (2, 2.0)}


def test_restore_of_restore_feed(spark, tmp_path):
    """Nested inverts: restoring a restore away flips parity twice —
    the feed over the second restore equals the original forward
    changes, and a tailer folding through BOTH restores tracks every
    snapshot."""
    from dbt_slabbing_spark.operators.layout import restore_table

    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    delete_rows(spark, t, "k = 2", mode="dv")
    v1 = manifest_versions(t)[-1]
    restore_table(t, version=v0, spark=spark)  # undo the delete
    v2 = manifest_versions(t)[-1]
    restore_table(t, version=v1, spark=spark)  # redo it
    v3 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v2, v3)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [(2, "delete")]  # the redo re-deletes k=2
    assert "Except" not in _plan(ch)
    state = read_table(spark, t, version=v0)
    for a, b in ((v0, v1), (v1, v2), (v2, v3)):
        state = _fold(state, read_changes(spark, t, a, b))
    assert {(r["k"], r["v"]) for r in state.collect()} == {
        (r["k"], r["v"]) for r in read_table(spark, t).collect()
    }


def test_describe_history_operation_labels(spark, tmp_path):
    """DESCRIBE HISTORY gains Delta's `operation` column, derived from
    the commit-time CDC records."""
    from dbt_slabbing_spark.operators.layout import (
        restore_table,
        table_snapshots,
    )

    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    append_files(spark, t, _mk(spark, [(3, 3.0)]).coalesce(1))
    delete_rows(spark, t, "k = 1", mode="dv")
    update_rows(spark, t, "k = 2", {"v": "20.0"})
    merge_rows(spark, t, _mk(spark, [(9, 9.0)]), on="k")
    compact_table(spark, t)
    overwrite_table(spark, t, _mk(spark, [(5, 5.0)]).coalesce(1))
    restore_table(t, version=v0, spark=spark)
    ops = [
        r["operation"]
        for r in sorted(
            table_snapshots(spark, t).collect(), key=lambda r: r["version"]
        )
    ]
    # the first append on a fresh dir is two commits: adoption
    # (CREATE) + the append itself (WRITE)
    assert ops == [
        "CREATE",
        "WRITE",
        "WRITE",
        "DELETE",
        "UPDATE",
        "MERGE",
        "OPTIMIZE",
        "OVERWRITE",
        "RESTORE",
    ]


def test_long_range_pull_is_constant_scans(spark, tmp_path):
    """A versioned pull over MANY commits must stay O(1) scan nodes —
    one per parity class, versions derived per-row from the source
    file — not one union leg per commit."""
    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(0, 0.0)]).coalesce(1))
    v0 = manifest_versions(t)[-1]
    for i in range(1, 13):
        if i % 3 == 0:
            delete_rows(spark, t, f"k = {i - 1}", mode="dv")
        else:
            append_files(spark, t, _mk(spark, [(i, float(i))]).coalesce(1))
    v1 = manifest_versions(t)[-1]
    ch = read_changes(spark, t, v0, v1, with_commit_version=True)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("FileScan parquet") + plan.count("Scan parquet")
    assert n_scans <= 4, f"expected O(1) scan legs, saw {n_scans}"
    # versions are per-row exact: each delete row carries the version
    # of ITS commit
    rows = ch.filter(F.col("_change_type") == "delete").collect()
    vs = {r["k"]: r["_commit_version"] for r in rows}
    assert len(vs) == 4  # k=2,5,8,11 deleted
    assert all(v0 < v <= v1 for v in vs.values())
    assert len(set(vs.values())) == 4  # distinct commits, not one lump
    # and the order-aware replication reduction still nets correctly:
    # k deleted AFTER its insert must not survive a full-range replay
    from dbt_slabbing_spark.operators.layout import (
        clone_table,
        replicate_changes,
    )

    down = str(tmp_path / "down")
    clone_table(t, down)
    replicate_changes(spark, t, down, ["k"], v0)  # replay everything
    got = sorted(r["k"] for r in read_table(spark, down).collect())
    assert got == sorted(r["k"] for r in read_table(spark, t).collect())
