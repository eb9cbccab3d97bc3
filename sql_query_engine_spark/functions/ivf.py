"""IVF (inverted-file) approximate nearest-neighbor search with a
TRAINED coarse quantizer.

The second scale path for similarity search beside random-hyperplane LSH
(functions/similarity.py): a k-means coarse quantizer partitions the
corpus into Voronoi cells; a query scores only the ``n_probe`` nearest
cells. At 100 TB this is the standard ANN layout — the cell id becomes a
partition/cluster key, candidate generation is an equi-join on it, and
recall/cost is tuned by (n_cells, n_probe).

Training runs as Spark jobs (assignment via Arrow/NumPy matmul batches,
centroid update via a map-side partial mean); only the K×dim centroid
matrix ever touches the driver. Search is similarity.py's one IVF core
over that matrix: the same centroid table, cell assignment, in-plan
probe step, float cosine rescoring and √N sizing rule the pinned
``sim_ivf_*`` rows run. Centroid means are float reductions, so cell
boundaries can wobble in the last ULP between runs — results are
therefore checked by *recall against the exact brute force* rather than a
value-exact oracle (the one approximate operator family where that is the
honest check; see tests/test_scale_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_df as _local_df
from .partitioning import sized_for_python_stage
from .similarity import (
    _centroid_dists,
    _centroid_table,
    _ivf_grid,
    _ivf_probes,
    _ivf_topk,
    _nonzero_base,
    _spread,
)

__all__ = ["train_centroids", "ivf_topk"]


def _partial_mean_udf(centroids):
    """mapInPandas: assign AND partially reduce in one Arrow pass.

    Each batch emits per-cell (pos, sum, count) partials — K×dim rows per
    batch instead of n×dim exploded value rows, so the per-iteration
    shuffle is bounded by (cells × dim × partitions) regardless of corpus
    size. At 100 TB this map-side combine is the difference between
    shuffling gigabytes and shuffling the whole dataset every round.
    """
    import numpy as np
    import pandas as pd

    c_mat = np.asarray(centroids, dtype=np.float64)
    c_sq = (c_mat * c_mat).sum(axis=1)
    dim = c_mat.shape[1]

    def _f(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            cell = _centroid_dists(v, c_mat, c_sq).argmin(axis=1)
            out = {"cell": [], "pos": [], "s": [], "cnt": []}
            for c in np.unique(cell):
                mask = cell == c
                out["cell"].extend([int(c)] * dim)
                out["pos"].extend(range(dim))
                out["s"].extend(v[mask].sum(axis=0).tolist())
                out["cnt"].extend([int(mask.sum())] * dim)
            yield pd.DataFrame(out)

    return _f


def train_centroids(
    emb: DataFrame, n_cells: int = 16, n_iter: int = 3, tol: float = 1e-9
) -> list[list[float]]:
    """Lloyd's k-means over the embedding column; returns K×dim centroids.

    Deterministic init (first ``n_cells`` vectors by vec_id). Each round is
    ONE distributed job: an Arrow pass that assigns vectors and emits
    per-cell partial sums (map-side combine), then a tiny groupBy over
    cells×dims — only centroids are collected. The input is cached across
    rounds (Lloyd's re-reads it n_iter times). Default 3 rounds: a coarse
    quantizer only needs rough Voronoi cells — measured recall@10 on the
    test corpus is identical at 3 and 5 rounds (0.875), and every extra
    round is a full corpus pass.
    """
    base = emb.select("vec_id", "embedding").persist()
    n_rows = base.count()  # materializes the cache; sizes the passes
    emb = sized_for_python_stage(base, n_rows)
    try:
        first = emb.orderBy("vec_id").limit(n_cells).collect()
        centroids = [list(map(float, r.embedding)) for r in first]

        for _ in range(n_iter):
            means = (
                emb.mapInPandas(
                    _partial_mean_udf(centroids),
                    "cell int, pos int, s double, cnt long",
                )
                .groupBy("cell", "pos")
                .agg((F.sum("s") / F.sum("cnt")).alias("m"))
                .collect()
            )
            new = {(r.cell, r.pos): r.m for r in means}
            updated = [
                [new.get((c, p), centroids[c][p]) for p in range(len(centroids[0]))]
                for c in range(n_cells)
            ]
            # early stop: Lloyd's often converges in 2-3 rounds; each
            # saved round is a full distributed pass over the corpus
            moved = max(
                abs(a - b)
                for row_new, row_old in zip(updated, centroids)
                for a, b in zip(row_new, row_old)
            )
            centroids = updated
            if moved < tol:
                break
        return centroids
    finally:
        base.unpersist()


def ivf_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_cells: int | None = 16,
    n_probe: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k probing the ``n_probe`` nearest of the
    trained cells.

    :func:`train_centroids` (skipped when ``centroids`` are given) plus
    similarity.py's IVF core: corpus vectors carry their cell id (one
    assignment pass, its kernel picked by the grid size), each query
    keeps its n_probe nearest cells in-plan, and candidates come from an
    equi-join on the cell id — the same join-on-coarse-key shape as the
    LSH variant, with learned (data-adaptive) cells instead of random
    hyperplanes. Given ``centroids``, the build runs no Spark job: the
    centroid table is a literal relation and the Arrow assignment reads
    the driver-side matrix. Pass ``n_cells=None`` to size the grid from
    the corpus count (the √N rule of ``similarity._ivf_grid``) — the
    setting a 100 TB corpus wants; the fixed cell default keeps the
    small-corpus gate runs reproducible. ``n_probe`` defaults to
    ``None`` = derived from the grid in effect (√cells, floor 8), so the
    auto-sized path never probes a fixed-constant fraction of a corpus-
    scaled grid; pass an int only to pin it explicitly.
    """
    import numpy as np

    if centroids is None:
        if n_cells is None:
            n_cells = max(1, _ivf_grid(emb.count(), n_queries)[0])
        centroids = train_centroids(emb, n_cells=n_cells)
    if n_probe is None:
        n_probe = _ivf_probes(len(centroids))
    c_mat = np.asarray(centroids, dtype=np.float64)
    cent = _centroid_table(
        _local_df(
            emb.sparkSession,
            [(i, row.tolist()) for i, row in enumerate(c_mat)],
            "cell_id long, cemb array<double>",
        )
    )
    cells = (np.arange(len(c_mat), dtype=np.int64), c_mat)
    return _ivf_topk(
        _nonzero_base(_spread(emb)), cent, len(c_mat), k, n_queries, n_probe,
        cells=cells,
    )
