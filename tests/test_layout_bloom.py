"""Per-file bloom-filter index coverage: `create_bloom_index`,
`prune_files_bloom`, `read_table(point=)` — file skipping for
high-cardinality lookup keys that min/max range stats cannot serve
(every file's range covers the probe when the layout isn't clustered
on the key), plus conservatism for unindexed files, idempotent
refresh, and composition with deletion vectors."""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators.layout import (
    _MANIFEST,
    append_files,
    create_bloom_index,
    delete_rows,
    prune_files_bloom,
    read_table,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def user_table(spark, tmp_path):
    """8 files split by user_id % 8 — user_id ranges overlap fully
    across files, so range stats keep everything; blooms are the only
    metadata that can skip."""
    target = str(tmp_path / "events")
    ev = table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    for i in range(8):
        append_files(
            spark, target, ev.filter(F.col("user_id") % 8 == i).coalesce(1)
        )
    rows = {r["event_id"]: r for r in ev.collect()}
    return target, rows


def _live(target):
    return sorted(json.loads((pathlib.Path(target) / _MANIFEST).read_text())["files"])


def test_bloom_point_read_is_exact_and_skips(spark, user_table):
    target, rows = user_table
    st = create_bloom_index(spark, target, "user_id")
    assert st["n_files_indexed"] == 8
    probe = min(r["user_id"] for r in rows.values())
    kept = prune_files_bloom(spark, target, _live(target), "user_id", probe)
    # the key lives in exactly one file (user_id % 8 split); bloom FPs
    # are deterministic for fixed data+hashes — this data has none
    assert len(kept) == 1
    got = {
        r["event_id"]
        for r in read_table(spark, target, point=("user_id", probe))
        .filter(F.col("user_id") == probe)
        .collect()
    }
    assert got == {k for k, r in rows.items() if r["user_id"] == probe}


def test_bloom_absent_key_prunes_everything(spark, user_table):
    target, rows = user_table
    create_bloom_index(spark, target, "user_id")
    absent = max(r["user_id"] for r in rows.values()) + 987654
    kept = prune_files_bloom(spark, target, _live(target), "user_id", absent)
    assert kept == []
    out = read_table(spark, target, point=("user_id", absent)).filter(
        F.col("user_id") == absent
    )
    assert out.count() == 0
    # empty-prune branch keeps the table schema
    assert set(out.columns) == {"event_id", "user_id", "event_type", "value"}


def test_bloom_unindexed_files_kept_and_refresh_tops_up(spark, user_table):
    target, rows = user_table
    create_bloom_index(spark, target, "user_id")
    extra = spark.createDataFrame(
        [(-1, 777777, "extra", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    append_files(spark, target, extra.coalesce(1))
    # the new file has no bloom entry: EVERY probe keeps it
    absent = 999999999
    kept = prune_files_bloom(spark, target, _live(target), "user_id", absent)
    assert len(kept) == 1 and kept[0].startswith("append-")
    # and a lookup of the new row finds it despite no index entry
    got = (
        read_table(spark, target, point=("user_id", 777777))
        .filter(F.col("user_id") == 777777)
        .count()
    )
    assert got == 1
    # refresh: only the new file is indexed; afterwards the absent
    # probe prunes everything
    st = create_bloom_index(spark, target, "user_id")
    assert st["n_files_indexed"] == 1
    assert prune_files_bloom(spark, target, _live(target), "user_id", absent) == []


def test_bloom_resize_rejected(spark, user_table):
    target, _rows = user_table
    create_bloom_index(spark, target, "user_id")
    with pytest.raises(ValueError, match="already registered"):
        create_bloom_index(spark, target, "user_id", m_bits=1024)


def test_bloom_composes_with_dv(spark, user_table):
    """A DV'd row must not resurface through the bloom-pruned path."""
    target, rows = user_table
    create_bloom_index(spark, target, "user_id")
    probe = min(r["user_id"] for r in rows.values())
    delete_rows(spark, target, f"user_id = {probe}", mode="dv")
    out = read_table(spark, target, point=("user_id", probe)).filter(
        F.col("user_id") == probe
    )
    assert out.count() == 0


def test_bloom_entries_survive_rewrite_conservatively(spark, user_table):
    """A rewrite displaces indexed files: their sidecar entries go
    stale (harmless — lookups consult live ∩ entries, so the new files
    read conservatively), vacuum prunes the stale entries, and a
    refresh re-indexes the new layout."""
    from dbt_slabbing_spark.operators.layout import (
        _bloom_sidecar,
        compact_table,
        vacuum_orphans,
    )

    target, rows = user_table
    create_bloom_index(spark, target, "user_id")
    old_indexed = set(_bloom_sidecar(pathlib.Path(target))["user_id"])
    compact_table(spark, target, target_file_bytes=1 << 30)
    # conservative read still exact while the new files lack entries
    probe = min(r["user_id"] for r in rows.values())
    got = (
        read_table(spark, target, point=("user_id", probe))
        .filter(F.col("user_id") == probe)
        .count()
    )
    assert got == len([1 for r in rows.values() if r["user_id"] == probe])
    # vacuum reclaims the displaced files AND their sidecar entries
    vacuum_orphans(target, grace_seconds=0.0)
    left = set(_bloom_sidecar(pathlib.Path(target)).get("user_id", {}))
    assert not (left & old_indexed)
    # refresh re-indexes the compacted layout; absent keys prune again
    create_bloom_index(spark, target, "user_id")
    absent = max(r["user_id"] for r in rows.values()) + 987654
    assert prune_files_bloom(spark, target, _live(target), "user_id", absent) == []


def test_python_probe_matches_spark_xxhash64(spark):
    """The driver-side reference XXH64 must be bit-identical to
    Spark's xxhash64 over the cast-to-string bytes, for every seed the
    index uses — covering empty/short/4-byte/8-byte/32-byte-stripe
    inputs and negative-hash pmod behavior."""
    from dbt_slabbing_spark.operators.layout import (
        _bloom_positions,
        _probe_positions_py,
    )

    values = [
        0, 1, -1, 7, 42, 999999999, -987654321,
        2**31, 2**62, "a", "", "abc", "abcd", "abcdefgh",
        "abcdefghi", "x" * 31, "y" * 32, "z" * 33, "w" * 100,
        "naïve-ütf8", "tab\tand\nnewline", 1234567890123456789,
    ]
    m, k = 65536, 7
    rows = spark.createDataFrame(
        [(str(v),) for v in values], "v string"
    ).select(*_bloom_positions(F.col("v"), m, k)).collect()
    for v, row in zip(values, rows):
        assert _probe_positions_py(v, m, k) == list(row), f"mismatch for {v!r}"


def test_float_literal_on_int_key_is_not_bloom_skipped(spark, user_table):
    """The bitsets hash Spark's string form of each int ("3"), so a
    float literal ("3.0") proves nothing: a read or DELETE with
    ``user_id = <float>`` keeps every file that holds the key."""
    target, rows = user_table
    create_bloom_index(spark, target, "user_id")
    probe = min(r["user_id"] for r in rows.values())
    want = {e for e, r in rows.items() if r["user_id"] == probe}
    got = {
        r["event_id"]
        for r in read_table(spark, target, point=("user_id", float(probe)))
        .filter(F.col("user_id") == probe)
        .collect()
    }
    assert got == want
    res = delete_rows(spark, target, f"user_id = {probe}.0", mode="dv")
    assert res["rows_deleted"] == len(want)
    assert read_table(spark, target).filter(F.col("user_id") == probe).count() == 0


def test_prune_files_bloom_probes_only_its_own_type(spark, user_table):
    """``prune_files_bloom`` takes the probe rule of reads and DELETE:
    a float value on an int key proves nothing, so every file stays,
    while the int value still narrows to the key's one file."""
    target, rows = user_table
    create_bloom_index(spark, target, "user_id")
    live = _live(target)
    probe = min(r["user_id"] for r in rows.values())
    assert prune_files_bloom(spark, target, live, "user_id", float(probe)) == live
    assert len(prune_files_bloom(spark, target, live, "user_id", probe)) == 1
