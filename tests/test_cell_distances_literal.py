"""Bit-identity pin for the r14 `_cell_distances` re-plan: the
nested-literal/transform form must produce EXACTLY the structs (same
doubles, same order) as the per-cell expression form it replaced —
k-means iterations, IVF cell assignment, and SemDeDup all ride it, and
their oracles replay the arithmetic bit-for-bit."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators.ivf import _cell_assignment, _cell_distances
from dbt_slabbing_spark.operators.similarity import dot
from tests.conftest import SF_SMOKE


def _cell_distances_reference(vec_col, centroids):
    """The pre-r14 linear-per-cell literal form (kept here as the spec)."""
    per_cell = []
    for cid, c in centroids:
        c_col = F.array(*[F.lit(float(x)) for x in c])
        d = dot(F.col(vec_col), F.col(vec_col)) - 2 * dot(F.col(vec_col), c_col) + dot(c_col, c_col)
        per_cell.append(F.struct(d.alias("d"), F.lit(cid).alias("cell")))
    return F.array(*per_cell)


def test_cell_distances_bit_identical(spark):
    from dbt_slabbing_spark.operators.kmeans import seed_centroids_dense

    emb = table(spark, SF_SMOKE, "embeddings")
    cents = seed_centroids_dense(emb, "vec_id", "embedding", 8)
    both = emb.select(
        "vec_id",
        _cell_distances("embedding", cents).alias("new"),
        _cell_distances_reference("embedding", cents).alias("ref"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert len(r["new"]) == len(r["ref"]) == 8
        for n, o in zip(r["new"], r["ref"]):
            assert n["cell"] == o["cell"]
            assert n["d"] == o["d"], (r["vec_id"], n, o)  # exact doubles


def test_cell_assignment_matches_reference(spark):
    from dbt_slabbing_spark.operators.kmeans import seed_centroids_dense

    emb = table(spark, SF_SMOKE, "embeddings")
    cents = seed_centroids_dense(emb, "vec_id", "embedding", 5)
    rows = emb.select(
        _cell_assignment(emb, cents, "embedding").alias("new"),
        F.element_at(
            F.array_sort(_cell_distances_reference("embedding", cents)), 1
        )["cell"].alias("ref"),
    ).collect()
    assert all(r["new"] == r["ref"] for r in rows)


def test_cell_assignment_analyzes_without_centroids(spark):
    # the empty guard carries the non-empty result's element type, so
    # the ``cell`` field extraction resolves, and evaluating it gives a
    # NULL cell per vector (element 1 of an empty array is no error)
    emb = table(spark, SF_SMOKE, "embeddings")
    out = emb.select(_cell_assignment(emb, [], "embedding").alias("cell"))
    assert out.schema["cell"].dataType.simpleString() == "int"
    rows = out.collect()
    assert len(rows) == emb.count() > 0
    assert all(r["cell"] is None for r in rows)
