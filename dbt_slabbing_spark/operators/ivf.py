"""IVF-style approximate nearest neighbor: k-means coarse quantizer →
probe the closest ``nprobe`` cells only.

The third leg of the similarity-search stool (SCALE.md):

- brute force (`operators/similarity.py::brute_force_topk`): exact,
  O(Q·N) — the correctness baseline;
- hyperplane LSH (`lsh_topk`): data-independent buckets, equi-join;
- IVF (this): data-DEPENDENT partitioning — k-means centroids adapt to
  the embedding distribution, so cells are balanced where LSH buckets
  can be badly skewed. The classic FAISS IVF-flat layout, expressed as
  Spark ops: assignment is a broadcast-centroid argmin (one narrow
  pass), the probe is an equi-join on cell id.

Centroids come from MLlib KMeans (seeded → deterministic run-to-run,
but not SQL-reproducible → rows-only in the gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..rounding import dround
from .similarity import cosine, dot


def _cell_distances(vec_col: str, centroids: list[tuple[int, list[float]]]):
    """array<struct<d, cell>> of squared distances to every centroid.

    NB: linear-size expression. A chained when(d < best_dist, …)
    formulation re-inlines the running best per step and the tree grows
    2^k — it hung the analyzer outright at k=16.

    r14 (guide §7.3 "driver planning cost"): the centroid matrix ships
    as ONE nested-array literal walked by ``transform`` instead of
    k×dim×3 individual ``F.lit`` nodes — the old form put ~1500
    expression nodes through analysis/optimization/codegen PER CALL
    (and k-means re-plans it every iteration with fresh literals, so
    nothing was cached); the new tree is ~score of nodes. Arithmetic is
    bit-identical: ``dot`` is the same left fold over the same values
    in the same order (‖c‖² is pre-folded in Python with the identical
    accumulation order), pinned by tests/test_cell_distances_literal.py.
    Measured: kmeans_fit(k=8, iters=2, dim=64) 4.4 s → see
    OPTIMIZATION_r14.md.
    """
    if not centroids:
        # F.sequence(1, 0) is DESCENDING [1, 0] and element_at(C, 0)
        # raises INVALID_INDEX_OF_ZERO — preserve the pre-r14 empty
        # result instead, typed like the non-empty one so the ``cell``
        # field extraction downstream still analyzes.
        return F.array().cast("array<struct<d:double,cell:int>>")
    cells = [int(cid) for cid, _ in centroids]
    mat = [[float(x) for x in c] for _, c in centroids]
    cc = []
    for c in mat:  # ‖c‖², same left fold as dot(c_col, c_col)
        acc = 0.0
        for x in c:
            acc += x * x
        cc.append(acc)
    C = F.lit(mat)
    CC = F.lit(cc)
    CID = F.lit(cells)
    vv = dot(F.col(vec_col), F.col(vec_col))
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(cells))),
        lambda i: F.struct(
            (vv - 2 * dot(F.col(vec_col), F.element_at(C, i)) + F.element_at(CC, i)).alias("d"),
            F.element_at(CID, i).alias("cell"),
        ),
    )


def _cell_assignment(vectors: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str):
    """argmin-distance cell id (ties → lowest cell id, deterministic);
    NULL without centroids (``try_element_at``: element 1 of an empty
    array is NULL instead of an ANSI-mode error)."""
    return F.try_element_at(F.array_sort(_cell_distances(vec_col, centroids)), F.lit(1))["cell"]


def ivf_train_centroids(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 8,
) -> list[tuple[int, list[float]]]:
    """Train the coarse quantizer once (seeded MLlib k-means) and
    return its centroids as plain floats — so a caller comparing
    several ``nprobe`` settings (sim_ann_recall_tradeoff) rides ONE
    training pass instead of re-fitting per setting."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_features"),
    )
    km = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter,
        featuresCol="_features", predictionCol="_cell",
    )
    model = km.fit(feats)
    return [(i, list(map(float, c))) for i, c in enumerate(model.clusterCenters())]


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    max_iter: int = 8,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(query_id, vec_id, cos): approximate top-k, probing the query's
    ``nprobe`` nearest cells.

    ``max_iter=8`` (vs MLlib's default 20): the quantizer only needs a
    coarse Voronoi partition — recall is governed by nprobe, not by
    fully-converged centroids, and every extra iteration is a full pass
    over the vectors at 100 TB.

    Pass ``centroids`` to skip MLlib training and ride an injected
    quantizer — e.g. the SQL-replayable trained cells of
    operators/kmeans.py::kmeans_fit.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            seed=seed, max_iter=max_iter,
        )

    assigned = vectors.withColumn("_cell", _cell_assignment(vectors, centroids, vec_col))

    # query → its nprobe closest cells (explode: query appears once per probed cell)
    def probe_cells(df: DataFrame) -> DataFrame:
        ranked = F.slice(F.array_sort(_cell_distances(vec_col, centroids)), 1, nprobe)
        return df.withColumn("_probe", F.explode(F.transform(ranked, lambda s: s["cell"])))

    q = probe_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"), F.col(vec_col))
    ).select("query_id", "_qvec", "_probe")

    scored = (
        assigned.join(F.broadcast(q), (F.col("_cell") == F.col("_probe")) & (F.col(id_col) != F.col("query_id")))
        .withColumn("cos", dround(cosine(F.col("_qvec"), F.col(vec_col)), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", id_col, "cos")
    )
