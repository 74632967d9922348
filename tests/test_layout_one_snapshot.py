"""One manifest read per operation (`operators/layout.py::_load`).

Every table-metadata key an operation uses — files, DVs, column map,
constraints, stats — comes from ONE parsed manifest, so a commit that
lands while an operation runs cannot mix two snapshots into its result.
Reads are counted by hooking ``pathlib.Path.read_text`` on
``_manifest.json``: readers parse it once, writers twice (their snapshot
plus ``_commit_manifest``'s re-read under the commit lock)."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.operators import layout


@pytest.fixture()
def dv_table(spark, tmp_path):
    """1000 rows over four files; a DV delete leaves 900 live."""
    t = str(tmp_path / "t")
    layout.append_files(
        spark, t, spark.range(1000).selectExpr("id AS k", "id % 10 AS g").repartition(4)
    )
    layout.delete_rows(spark, t, "g = 3", mode="dv")
    return t


def _count_reads(monkeypatch, fn):
    """(fn(), the number of ``_manifest.json`` reads fn made)."""
    real = pathlib.Path.read_text
    reads = []

    def read_text(self, *a, **kw):
        if self.name == layout._MANIFEST:
            reads.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(pathlib.Path, "read_text", read_text)
    try:
        return fn(), len(reads)
    finally:
        monkeypatch.setattr(pathlib.Path, "read_text", real)


def test_read_table_frame_is_one_snapshot(spark, dv_table, monkeypatch):
    # a compaction commits right after read_table's first manifest read:
    # it displaces the DV'd files (kept on disk) and empties the DV map,
    # so a frame that took its file list and its DVs from two reads
    # would bring the 100 deleted rows back
    real = pathlib.Path.read_text
    fired = []

    def read_text(self, *a, **kw):
        text = real(self, *a, **kw)
        if self.name == layout._MANIFEST and not fired:
            fired.append(True)
            layout.compact_table(spark, dv_table)
        return text

    monkeypatch.setattr(pathlib.Path, "read_text", read_text)
    df = layout.read_table(spark, dv_table)
    monkeypatch.setattr(pathlib.Path, "read_text", real)
    assert fired
    assert df.count() == 900
    assert df.filter("g = 3").count() == 0
    assert layout.read_table(spark, dv_table).count() == 900


def test_readers_parse_the_manifest_once(spark, dv_table, monkeypatch):
    v = layout.manifest_versions(dv_table)
    df, n = _count_reads(monkeypatch, lambda: layout.read_table(spark, dv_table))
    assert n == 1 and df.count() == 900
    ch, n = _count_reads(
        monkeypatch, lambda: layout.read_changes(spark, dv_table, v[0], v[-1])
    )
    assert n == 1
    assert ch.filter(F.col("_change_type") == "delete").count() == 100


def test_writers_parse_the_manifest_twice(spark, dv_table, monkeypatch):
    schema = "k bigint, g bigint"
    src = spark.createDataFrame([(5, 50), (5000, 0)], schema)  # one update, one insert
    ops = {
        "append": lambda: layout.append_files(
            spark, dv_table, spark.createDataFrame([(2000, 7)], schema)
        ),
        "delete dv": lambda: layout.delete_rows(spark, dv_table, "g = 4", mode="dv"),
        "update cow": lambda: layout.update_rows(
            spark, dv_table, "g = 5", {"g": "g + 100"}, mode="cow"
        ),
        "merge dv": lambda: layout.merge_rows(spark, dv_table, src, on="k", mode="dv"),
        "compact": lambda: layout.compact_table(spark, dv_table),
    }
    for name, op in ops.items():
        _, n = _count_reads(monkeypatch, op)
        # the snapshot, and _commit_manifest's re-read under the lock
        assert n <= 2, f"{name} read the manifest {n} times"
    assert layout.read_table(spark, dv_table).count() == 900 + 1 - 100 + 1
    assert layout.read_table(spark, dv_table).filter("k = 5").first()["g"] == 50
