"""Optimistic-concurrency coverage for the manifest commit
(`operators/layout.py::_commit_manifest` and its mutators).

Round 8 shipped the manifest as a last-wins swap: two interleaved
committers each read version N and the second `os.replace` silently
discarded the first's file list — and since delete_rows unlinks
displaced originals post-commit, the surviving manifest could reference
files the loser had just deleted (data loss, VERDICT r8 "What's wrong
#2"). These tests pin the round-9 contract: a conflicting commit raises
:class:`ManifestConflictError` BEFORE anything is published or
unlinked, blind appends auto-rebase, and a clean retry converges.
"""

from __future__ import annotations

import pathlib

import pytest

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators import layout
from dbt_slabbing_spark.operators.layout import (
    ManifestConflictError,
    append_files,
    delete_rows,
    ensure_manifest,
    merge_rows,
    read_table,
)
from tests.conftest import SF_SMOKE


def _write_events_by_user(spark, target: str):
    events = table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    events.repartitionByRange(8, "user_id").write.parquet(target)
    return {r["event_id"]: r["user_id"] for r in events.collect()}


def _arm_interloper(monkeypatch, interlope):
    """Wrap the commit so the FIRST commit attempt is preceded by a
    real concurrent commit (the interloper), simulating two interleaved
    writers that both planned against the same snapshot. The interloper
    itself commits through the real path (the wrapper disarms first, so
    its own commits don't recurse)."""
    real = layout._commit_manifest
    state = {"armed": True}

    def wrapper(p, files, expected_version=None, **kw):
        if state["armed"]:
            state["armed"] = False
            interlope()
        return real(p, files, expected_version=expected_version, **kw)

    monkeypatch.setattr(layout, "_commit_manifest", wrapper)


def test_commit_cas_rejects_stale_version(tmp_path):
    p = tmp_path / "t"
    p.mkdir()
    assert layout._commit_manifest(p, ["a.parquet"], expected_version=0) == 1
    assert layout._commit_manifest(p, ["a.parquet", "b.parquet"], expected_version=1) == 2
    # a committer that planned against version 1 must abort, publishing
    # nothing: the manifest keeps version 2's file list
    with pytest.raises(ManifestConflictError):
        layout._commit_manifest(p, ["stale.parquet"], expected_version=1)
    assert layout._snapshot(layout._load(p)) == (2, ["a.parquet", "b.parquet"])


def test_leftover_lock_file_does_not_block(tmp_path):
    """The flock lock FILE persists across acquisitions by design; a
    leftover zero-byte lock file (e.g. from a crashed committer) holds
    no kernel lock, so the next committer proceeds immediately."""
    p = tmp_path / "t"
    p.mkdir()
    (p / (layout._MANIFEST + ".lock")).write_text("")
    assert layout._commit_manifest(p, ["a.parquet"], expected_version=0) == 1
    assert (p / (layout._MANIFEST + ".lock")).exists()  # never unlinked


def test_interleaved_merge_beats_delete_without_data_loss(
    spark, tmp_path, monkeypatch
):
    """The exact race from the round-8 verdict: a delete_rows and a
    merge_rows both plan against version 1; the merge commits first.
    The delete must ABORT before its post-commit unlinks — the winning
    snapshot stays fully readable (no file it references was removed)
    and a retried delete converges on top of the merge."""
    target = str(tmp_path / "t")
    before = _write_events_by_user(spark, target)
    ensure_manifest(target)
    victims = {k for k, u in before.items() if u == 3}
    assert victims  # non-vacuous delete

    src = spark.createDataFrame(
        [(-1, 999, "ins", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    _arm_interloper(
        monkeypatch, lambda: merge_rows(spark, target, src, on="event_id")
    )
    with pytest.raises(ManifestConflictError):
        delete_rows(spark, target, "user_id = 3")

    # loser published nothing and unlinked nothing: every file the
    # winning manifest references exists, and the data is old + merge
    p = pathlib.Path(target)
    _vers, live = layout._snapshot(layout._load(p))
    assert all((p / n).exists() for n in live)
    ids = {r["event_id"] for r in read_table(spark, target).collect()}
    assert ids == set(before) | {-1}

    # clean retry converges against the new snapshot
    stats = delete_rows(spark, target, "user_id = 3")
    assert stats["rows_deleted"] == len(victims)
    ids = {r["event_id"] for r in read_table(spark, target).collect()}
    assert ids == (set(before) - victims) | {-1}


def test_append_rebases_over_concurrent_commit(spark, tmp_path, monkeypatch):
    """Blind appends never conflict semantically: under an interleaved
    concurrent append the loser auto-rebases its uniquely-named files
    onto the new snapshot and BOTH appends survive."""
    target = str(tmp_path / "t")
    before = _write_events_by_user(spark, target)
    ensure_manifest(target)

    mk = lambda eid: spark.createDataFrame(  # noqa: E731
        [(eid, 999, "app", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    _arm_interloper(monkeypatch, lambda: append_files(spark, target, mk(-2)))
    append_files(spark, target, mk(-1))  # rebases, does not raise

    ids = {r["event_id"] for r in read_table(spark, target).collect()}
    assert ids == set(before) | {-1, -2}


def test_compact_table_preserves_content_history_and_loses_conflicts(
    spark, tmp_path, monkeypatch
):
    """r9 manifest-aware OPTIMIZE: content checksum unchanged, the
    pre-compaction snapshot stays time-travelable (originals retained
    until vacuum), vacuum with no retention reclaims them, and a
    concurrent mutation landing before the compaction commit makes the
    COMPACTION abort (maintenance always loses conflicts)."""
    from dbt_slabbing_spark.operators.layout import (
        compact_table,
        manifest_versions,
        vacuum_orphans,
    )

    target = str(tmp_path / "t")
    before = _write_events_by_user(spark, target)
    ensure_manifest(target)
    append_files(
        spark,
        target,
        spark.createDataFrame(
            [(-1, 999, "app", 1.0)],
            "event_id bigint, user_id bigint, event_type string, value double",
        ),
    )
    pre_versions = manifest_versions(target)
    pre_files = layout._snapshot(layout._load(pathlib.Path(target)))[1]

    stats = compact_table(spark, target)
    assert stats["n_files_before"] == len(pre_files)
    assert stats["n_files_after"] < stats["n_files_before"]
    ids = {r["event_id"] for r in read_table(spark, target).collect()}
    assert ids == set(before) | {-1}

    # prior snapshot still reads (originals retained, not unlinked)
    old = read_table(spark, target, version=pre_versions[-1])
    assert {r["event_id"] for r in old.collect()} == set(before) | {-1}
    # vacuum with no retention reclaims exactly the displaced originals
    removed = vacuum_orphans(target, grace_seconds=0.0)
    assert set(removed) == set(pre_files)
    assert {r["event_id"] for r in read_table(spark, target).collect()} == ids

    # compaction racing a delete: the DELETE wins, compaction aborts
    _arm_interloper(
        monkeypatch, lambda: delete_rows(spark, target, "user_id = 3")
    )
    with pytest.raises(ManifestConflictError):
        compact_table(spark, target)
    ids2 = {r["event_id"] for r in read_table(spark, target).collect()}
    assert ids2 == {k for k in ids if k == -1 or before.get(k) != 3}


def test_history_is_delta_encoded_and_linear(spark, tmp_path):
    """r9 metadata-scale fix: history entries store per-commit deltas,
    so N single-file appends cost O(N) total history names (the old
    full-list entries cost O(N^2)); every snapshot still reconstructs
    exactly by reverse replay."""
    import json

    target = tmp_path / "t"
    mk = lambda i: spark.createDataFrame(  # noqa: E731
        [(i, 999, "app", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    ).coalesce(1)
    n = 20
    for i in range(n):
        append_files(spark, str(target), mk(i))
    doc = json.loads((target / layout._MANIFEST).read_text())
    hist_names = sum(
        len(h.get("added", ())) + len(h.get("removed", ())) + len(h.get("files", ()))
        for h in doc["history"]
    )
    # one added name per transition (incl. the adoption->first-append
    # one), zero full lists: O(N) total history names
    assert hist_names == n
    # every historical snapshot reconstructs exactly (v=1 is the empty
    # adoption snapshot; version v holds v-1 single-row files)
    versions = layout.manifest_versions(str(target))
    assert versions == list(range(1, n + 2))
    assert layout._files_at_version(layout._load(target), 1) == []
    for v in versions[1:]:
        assert len(layout._files_at_version(layout._load(target), v)) == v - 1
        assert read_table(spark, str(target), version=v).count() == v - 1


def test_history_back_compat_with_full_list_entries(spark, tmp_path):
    """A pre-r9 manifest (full-list history entries) must stay readable
    and extendable: new commits append DELTA entries on top and every
    version — old-format and new — still time-travels."""
    import json

    target = tmp_path / "t"
    target.mkdir()
    mk = lambda i: spark.createDataFrame(  # noqa: E731
        [(i, 999, "app", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    ).coalesce(1)
    mk(0).write.parquet(str(target / "a.parquet"))
    first = sorted(f.name for f in (target / "a.parquet").glob("*.parquet"))
    # hand-write an OLD-format manifest: v2 live = {b}, history v1 = {a}
    mk(1).write.parquet(str(target / "b.parquet"))
    second = sorted(f.name for f in (target / "b.parquet").glob("*.parquet"))
    old_live = [f"a.parquet/{n}" for n in first] + [f"b.parquet/{n}" for n in second]
    (target / layout._MANIFEST).write_text(
        json.dumps(
            {
                "files": old_live,
                "version": 2,
                "history": [{"version": 1, "files": [f"a.parquet/{n}" for n in first]}],
            }
        )
    )
    assert read_table(spark, str(target), version=1).count() == 1
    assert read_table(spark, str(target), version=2).count() == 2
    append_files(spark, str(target), mk(2))  # v3, delta entry
    doc = json.loads((target / layout._MANIFEST).read_text())
    assert "files" in doc["history"][0] and "added" in doc["history"][1]
    assert read_table(spark, str(target), version=1).count() == 1
    assert read_table(spark, str(target), version=2).count() == 2
    assert read_table(spark, str(target)).count() == 3


def test_prune_history_bounds_metadata_and_time_travel(spark, tmp_path):
    from dbt_slabbing_spark.operators.layout import prune_history, vacuum_orphans

    target = str(tmp_path / "t")
    mk = lambda i: spark.createDataFrame(  # noqa: E731
        [(i, 999, "app", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    ).coalesce(1)
    for i in range(6):
        append_files(spark, target, mk(i))
    # v1 = empty adoption snapshot, v2..v7 = one more file each
    assert layout.manifest_versions(target) == [1, 2, 3, 4, 5, 6, 7]
    pruned = prune_history(target, retain_versions=2)
    assert pruned == [1, 2, 3, 4]
    assert layout.manifest_versions(target) == [5, 6, 7]
    # within retention: still travels; beyond: raises
    assert read_table(spark, target, version=5).count() == 4
    with pytest.raises(ValueError, match="not in manifest"):
        read_table(spark, target, version=2)
    # idempotent; vacuum with the same retention keeps retained files
    assert prune_history(target, retain_versions=2) == []
    removed = vacuum_orphans(target, retain_versions=2, grace_seconds=0.0)
    assert removed == []  # appends never displaced a file
    assert read_table(spark, target).count() == 6


# ---------------------------------------------------------------------------
# Round-10/11 ADVICE hardening: lock crash-release (flock), vacuum grace
# window, empty-table compaction no-op.
# ---------------------------------------------------------------------------


def test_crashed_holder_releases_lock_automatically(tmp_path):
    """A committer SIGKILLed while holding the lock must not wedge the
    table: flock is released by the kernel when the holder's fd closes
    at process death — no staleness judgement, no takeover (the r10
    ADVICE race: two takeover waiters could unlink each other's fresh
    O_EXCL lock; flock has no unlink at all)."""
    import os
    import signal
    import subprocess
    import sys
    import time

    p = tmp_path / "t"
    p.mkdir()
    lock = p / (layout._MANIFEST + ".lock")
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time\n"
            f"fd = os.open({str(lock)!r}, os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "print('locked', flush=True)\n"
            "time.sleep(60)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "locked"
        # precondition: the lock is genuinely held -> waiter times out
        with pytest.raises(TimeoutError, match="live committer"):
            layout._manifest_lock(p, timeout=0.2)
        child.kill()  # SIGKILL: no cleanup code runs in the holder
        child.wait()
        t0 = time.monotonic()
        assert layout._commit_manifest(p, ["a.parquet"], expected_version=0) == 1
        assert time.monotonic() - t0 < 5.0  # immediate, not a timeout
    finally:
        if child.poll() is None:
            child.send_signal(signal.SIGKILL)
            child.wait()


def test_live_holder_blocks_and_is_never_stolen(tmp_path):
    """While a live committer holds the flock, waiters time out — and
    the holder's lock survives the waiter (nothing is ever unlinked, so
    the r10 ADVICE scenario where a stalled-but-live owner later deletes
    the usurper's lock cannot occur)."""
    import fcntl
    import os

    p = tmp_path / "t"
    p.mkdir()
    lock = p / (layout._MANIFEST + ".lock")
    fd = os.open(str(lock), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)  # a separate fd => a separate holder
    try:
        with pytest.raises(TimeoutError, match="live committer"):
            layout._manifest_lock(p, timeout=0.1)
        assert lock.exists()  # untouched
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)
    # released -> the next committer acquires normally
    assert layout._commit_manifest(p, ["a.parquet"], expected_version=0) == 1


def test_vacuum_grace_window_protects_inflight_files(spark, tmp_path):
    """Mutators stage data files into the table dir BEFORE their
    manifest commit; a vacuum running in that window must not unlink
    them (the writer would publish a manifest referencing deleted
    files — loss the OCC check cannot see). Fresh orphans survive the
    default grace; genuinely old orphans are reclaimed."""
    import os
    import time

    target = str(tmp_path / "t")
    _write_events_by_user(spark, target)
    ensure_manifest(target)
    staged = pathlib.Path(target) / "inflight-00000.parquet"
    staged.write_bytes(b"PAR1")  # freshly staged, commit not yet run
    assert layout.vacuum_orphans(target) == []  # grace shields it
    assert staged.exists()
    old = time.time() - 3600.0
    os.utime(staged, (old, old))  # now an hour-old genuine orphan
    assert layout.vacuum_orphans(target) == ["inflight-00000.parquet"]
    assert not staged.exists()


def test_compact_empty_table_is_noop(spark, tmp_path):
    """compact_table on a freshly adopted empty dir returns a clean
    zero-file no-op instead of calling spark.read.parquet() with no
    paths (ADVICE r9)."""
    target = tmp_path / "t"
    target.mkdir()
    stats = layout.compact_table(spark, str(target))
    assert stats["n_files_before"] == 0
    assert stats["n_files_after"] == 0
