"""Product quantization (PQ) for the embedding column.

The third ANN scale path beside random-hyperplane LSH
(functions/similarity.py) and IVF (functions/ivf.py), and the standard
companion to IVF in production vector indexes (IVF-PQ): each vector is
chopped into ``M`` subvectors and every subvector is replaced by the id
of its nearest per-subspace k-means centroid — ``M`` small codes instead
of ``dim`` floats (here 8×4-bit codes ≈ 32× compression of a 64-dim
float32 vector). Queries score compressed vectors by asymmetric distance
computation (ADC): a per-query lookup table of subspace dot products, so
scoring a vector is ``M`` table lookups instead of ``dim`` multiplies —
and, decisively at 100 TB, the scan reads 4-byte codes, not 256-byte
vectors. (Jégou, Douze, Schmid: "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public literature.)

Training mirrors ivf.train_centroids: Lloyd's rounds where ONE Arrow
pass assigns all subspaces and emits per-(subspace, cell) partial sums
(map-side combine), so the per-round shuffle is bounded by
``M × K × subdim`` regardless of corpus size; only the tiny codebook
(M×K×subdim floats) ever touches the driver.

Like IVF, TRAINED centroid means are float reductions with no
value-exact cross-engine twin — the trained paths are checked by recall
against the exact brute force (tests/test_scale_ops.py) plus
reconstruction-error bounds. Since r10 the REGISTRY entry is
:func:`pq_pinned_topk`: the same ADC scoring over PINNED sample-init
codebooks (subvectors of corpus vectors — the ivf_int8_topk trick
applied to PQ), where every float op is a fixed-order fold, so the
DuckDB oracle value-matches bit for bit. ``sim_ivfpq_topk`` (two
stacked trained quantizers) remains the one rows-only member of the
family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_df as _local_df
from .partitioning import sized_for_python_stage
from .similarity import (
    IVF_CENTROID_IDS,
    _centroid_dists,
    _rank_limit,
    _spark_norm2,
    _spread,
)

__all__ = [
    "train_codebooks", "pq_codes", "pq_topk", "ivfpq_topk",
    "pq_pinned_topk", "pq_pinned_topk_oracle",
]

M_SUBSPACES = 8
K_CELLS = 16  # 4-bit codes

# pinned codebook source vectors for the value-exact gate variant:
# corpus vec_ids 8..23 (disjoint from the 0..7 query set), entry j of
# every subspace codebook = the matching subvector of vec_id 8+j —
# sample-init without Lloyd rounds, exactly the IVF_CENTROID_IDS trick
PQ_CB_VEC_IDS: tuple[int, ...] = tuple(range(8, 8 + K_CELLS))


def _norm_literal(cb) -> str:
    """Per-(subspace, code) reconstruction norms ‖cb[s][j]‖² of a driver
    codebook as one Spark array literal — query-independent."""
    return "array(" + ", ".join(
        "array(" + ", ".join(repr(float(x)) + "D" for x in (sub * sub).sum(axis=1)) + ")"
        for sub in cb
    ) + ")"


def _adc_cos(m: int, norms: str, coarse: bool = False) -> Column:
    """The ADC approximate cosine every PQ builder ranks by:
    Σ_s lut[s][code_s] / (qn · sqrt(Σ_s norms[s][code_s])), each sum a
    fixed-order fold over ascending s. ``norms`` is a column name or an
    array literal (:func:`_norm_literal`). ``coarse=True`` adds the
    IVF-PQ residual terms: (qdotc + Σ lut) / (qn · sqrt(cnorm2 + 2·Σ
    ccdot + Σ norms)). Spark SQL array subscripts are 0-based (DuckDB's
    are 1-based)."""

    def fold(table: str) -> str:
        return (
            f"aggregate(sequence(0, {m - 1}), cast(0 as double),"
            f" (acc, s) -> acc + {table}[s][codes[s]])"
        )

    dot, recon = fold("lut"), fold(norms)
    if coarse:
        dot = f"qdotc + {dot}"
        recon = f"cnorm2 + cast(2 as double) * ({fold('ccdot')}) + ({recon})"
    return (F.expr(dot) / (F.col("qn") * F.sqrt(F.expr(recon)))).alias("approx_cos")


def _by_subspace(m: int, col: str, name: str) -> Column:
    """Aggregate per-code ``col`` arrays (indexed by subspace) into the
    [s][j] table the ADC fold reads, codes ordered by ``j``."""
    return F.expr(
        f"transform(sequence(0, {m - 1}), s ->"
        f" transform(sort_array(collect_list(struct(j, {col}))),"
        f" e -> e.{col}[s]))"
    ).alias(name)


def _subspace_folds(m: int, subdim: int, term: str, lead: str = "") -> str:
    """Spark array over subspaces s of ``lead`` + the fixed-order fold
    Σ_p ``term`` (p ascending) — the per-subspace dot/norm arithmetic of
    the pinned paths; ``{i}`` in ``term`` is the element index."""
    i = f"s * {subdim} + p"
    return (
        f"transform(sequence(0, {m - 1}), s -> {lead}"
        f"aggregate(sequence(0, {subdim - 1}), cast(0 as double),"
        f" (acc, p) -> acc + {term.format(i=i)}))"
    )


def _argmin_codes(dists: DataFrame, *keys: str) -> DataFrame:
    """(keys…, codes): per (vector, subspace) the code ``j`` of least
    ``dist`` (ties on the lower j) via map-side combinable
    ``min(struct(dist, j))``, then collected in subspace order."""
    return (
        dists.groupBy(*keys, "s")
        .agg(F.min(F.struct("dist", "j")).alias("b"))
        .groupBy(*keys)
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(s, b.j as j))),"
                " e -> e.j)"
            ).alias("codes")
        )
    )


def _partials_udf(codebooks):
    """Arrow pass: assign every subspace and emit per-(sub, cell) partial
    sums — the map-side combine that keeps the training shuffle at
    M×K×subdim rows per partition."""
    import numpy as np
    import pandas as pd

    cb = np.asarray(codebooks, dtype=np.float64)  # (M, K, subdim)
    m, k, subdim = cb.shape
    cb_sq = (cb * cb).sum(axis=2)  # (M, K)

    def _f(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            sub = v.reshape(len(v), m, subdim)
            out = {"sub": [], "cell": [], "pos": [], "s": [], "cnt": []}
            for si in range(m):
                cell = _centroid_dists(sub[:, si, :], cb[si], cb_sq[si]).argmin(axis=1)
                for c in np.unique(cell):
                    mask = cell == c
                    out["sub"].extend([si] * subdim)
                    out["cell"].extend([int(c)] * subdim)
                    out["pos"].extend(range(subdim))
                    out["s"].extend(sub[mask, si, :].sum(axis=0).tolist())
                    out["cnt"].extend([int(mask.sum())] * subdim)
            yield pd.DataFrame(out)

    return _f


def _codes_udf(codebooks):
    """Arrow pass: vector → M nearest-centroid codes (embedding carried
    through so callers need no join back onto the corpus)."""
    import numpy as np
    import pandas as pd

    cb = np.asarray(codebooks, dtype=np.float64)
    m, k, subdim = cb.shape
    cb_sq = (cb * cb).sum(axis=2)

    def _f(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            sub = v.reshape(len(v), m, subdim)
            codes = np.empty((len(v), m), dtype=np.int32)
            for si in range(m):
                codes[:, si] = _centroid_dists(
                    sub[:, si, :], cb[si], cb_sq[si]
                ).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "codes": list(codes.tolist()),
                }
            )

    return _f


def train_codebooks(
    emb: DataFrame,
    m: int = M_SUBSPACES,
    k: int = K_CELLS,
    n_iter: int = 3,
    tol: float = 1e-9,
):
    """Per-subspace Lloyd's k-means; returns M×K×subdim codebooks.

    Deterministic init (subvectors of the first ``k`` vectors by vec_id);
    each round is one distributed Arrow pass + a tiny (sub, cell, pos)
    aggregate. Only the codebook is collected."""
    base = emb.select("vec_id", "embedding").persist()
    n_rows = base.count()  # materializes the cache; sizes the passes
    emb = sized_for_python_stage(base, n_rows)
    try:
        first = emb.orderBy("vec_id").limit(k).collect()
        if not first:
            raise ValueError("cannot train PQ codebooks on an empty corpus")
        dim = len(first[0].embedding)
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by {m} subspaces")
        subdim = dim // m
        codebooks = [
            [
                [float(r.embedding[si * subdim + p]) for p in range(subdim)]
                for r in first
            ]
            for si in range(m)
        ]
        for _ in range(n_iter):
            means = (
                emb.mapInPandas(
                    _partials_udf(codebooks),
                    "sub int, cell int, pos int, s double, cnt long",
                )
                .groupBy("sub", "cell", "pos")
                .agg((F.sum("s") / F.sum("cnt")).alias("v"))
                .collect()
            )
            new = {(r.sub, r.cell, r.pos): r.v for r in means}
            updated = [
                [
                    [
                        new.get((si, c, p), codebooks[si][c][p])
                        for p in range(subdim)
                    ]
                    for c in range(k)
                ]
                for si in range(m)
            ]
            moved = max(
                abs(a - b)
                for s_new, s_old in zip(updated, codebooks)
                for c_new, c_old in zip(s_new, s_old)
                for a, b in zip(c_new, c_old)
            )
            codebooks = updated
            if moved < tol:
                break
        return codebooks
    finally:
        base.unpersist()


def pq_codes(emb: DataFrame, codebooks) -> DataFrame:
    """(vec_id, embedding, codes): the compressed representation.

    At 100 TB only (vec_id, codes) persists as the index — 4 bytes per
    vector at 8×4-bit — while this helper carries the embedding through
    for in-plan use."""
    sel = emb.select("vec_id", "embedding")
    return sized_for_python_stage(sel, sel.count()).mapInPandas(
        _codes_udf(codebooks), "vec_id long, embedding array<float>, codes array<int>"
    )


def pq_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    codebooks=None,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation.

    The corpus is scored from CODES ONLY: per query, an M×K lookup table
    of subspace dot products (q_s · c_{s,j}) and the per-cell norm table
    (‖c_{s,j}‖²) are embedded as literal arrays, so each corpus row costs
    M array lookups — approx cos = Σ lut[s][code_s] / (‖q‖·‖x̂‖), with
    ‖x̂‖² = Σ norms[s][code_s]. No shuffle until the per-query top-k
    (WindowGroupLimit), same shape as the exact scorer.
    """
    import numpy as np

    if codebooks is None:
        codebooks = train_codebooks(emb)
    cb = np.asarray(codebooks, dtype=np.float64)  # (M, K, subdim)
    m, kk, subdim = cb.shape

    coded = pq_codes(emb, codebooks)

    # per-query ADC lookup tables, built driver-side from the tiny query
    # set and shipped as ONE broadcast table — the corpus (codes) streams
    # through exactly once, scored by M array lookups per (row, query)
    q_rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    spark = emb.sparkSession
    q_data = []
    for r in sorted(q_rows, key=lambda r: r.vec_id):
        q = np.asarray(r.embedding, dtype=np.float64)
        qn = float(np.sqrt((q * q).sum()))
        lut = np.stack(
            [cb[si] @ q[si * subdim : (si + 1) * subdim] for si in range(m)]
        )
        q_data.append((int(r.vec_id), qn, [[float(x) for x in row] for row in lut]))
    queries = _local_df(
        spark, q_data, "query_id long, qn double, lut array<array<double>>"
    )
    scored = (
        coded.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_cos(m, _norm_literal(cb)),
        )
    )
    return _rank_limit(scored, "approx_cos", k)


def _residual_codes_udf(centroids, codebooks):
    """Arrow pass: coarse-assign each vector, then PQ-encode its RESIDUAL
    (x − centroid) — the classic IVF-PQ layout (Jégou et al. §V)."""
    import numpy as np
    import pandas as pd

    c_mat = np.asarray(centroids, dtype=np.float64)  # (C, dim)
    c_sq = (c_mat * c_mat).sum(axis=1)
    cb = np.asarray(codebooks, dtype=np.float64)  # (M, K, subdim)
    m, k, subdim = cb.shape
    cb_sq = (cb * cb).sum(axis=2)

    def _f(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            cell = _centroid_dists(v, c_mat, c_sq).argmin(axis=1)
            res = (v - c_mat[cell]).reshape(len(v), m, subdim)
            codes = np.empty((len(v), m), dtype=np.int32)
            for si in range(m):
                codes[:, si] = _centroid_dists(
                    res[:, si, :], cb[si], cb_sq[si]
                ).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cell.astype("int32"),
                    "codes": list(codes.tolist()),
                }
            )

    return _f


def _residuals_df(emb: DataFrame, centroids) -> DataFrame:
    """(vec_id, embedding=residual) — training input for the PQ stage."""
    import numpy as np
    import pandas as pd

    c_mat = np.asarray(centroids, dtype=np.float64)
    c_sq = (c_mat * c_mat).sum(axis=1)

    def _f(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            cell = _centroid_dists(v, c_mat, c_sq).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": list((v - c_mat[cell]).tolist()),
                }
            )

    return _spread(emb).select("vec_id", "embedding").mapInPandas(
        _f, "vec_id long, embedding array<float>"
    )


def ivfpq_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ: coarse Voronoi cells + PQ-encoded residuals — the
    production vector-index layout (FAISS's default at billion scale).

    The index stores (cell, codes) per vector: ~5 bytes at 16 cells ×
    8×4-bit codes. A query probes its ``n_probe`` nearest cells; within
    them, scoring is ADC over the residual codes plus the exact
    query·centroid term — approx cos =
    (q·c + Σ lut[s][code_s]) / (‖q‖ · ‖c + r̂‖), with every table
    (per-(query, cell) residual LUT, per-(cell, sub, code) cross terms,
    per-(sub, code) residual norms) built driver-side from the tiny
    codebooks. Candidate generation is an equi-join on the cell id —
    the same join-on-coarse-key shape as IVF, with the 32×-compressed
    payload of PQ.
    """
    import numpy as np

    from .ivf import train_centroids

    centroids = train_centroids(emb, n_cells=n_cells)
    c_mat = np.asarray(centroids, dtype=np.float64)
    codebooks = train_codebooks(_residuals_df(emb, centroids))
    cb = np.asarray(codebooks, dtype=np.float64)
    m, kk, subdim = cb.shape

    sel = emb.select("vec_id", "embedding")
    coded = sized_for_python_stage(sel, sel.count()).mapInPandas(
        _residual_codes_udf(centroids, codebooks),
        "vec_id long, cell int, codes array<int>",
    )

    # query-side tables (all tiny, driver-built): one row per
    # (query, probed cell)
    q_rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    c_sq = (c_mat * c_mat).sum(axis=1)
    q_data = []
    for r in sorted(q_rows, key=lambda r: r.vec_id):
        q = np.asarray(r.embedding, dtype=np.float64)
        qn = float(np.sqrt((q * q).sum()))
        d = _centroid_dists(q[None, :], c_mat, c_sq)[0]
        for cell in np.argsort(d, kind="stable")[:n_probe]:
            cell = int(cell)
            c = c_mat[cell]
            lut = np.stack(
                [
                    cb[si] @ (q - c)[si * subdim : (si + 1) * subdim]
                    for si in range(m)
                ]
            )
            ccdot = np.stack(
                [
                    cb[si] @ c[si * subdim : (si + 1) * subdim]
                    for si in range(m)
                ]
            )
            q_data.append(
                (
                    int(r.vec_id),
                    cell,
                    qn,
                    float(q @ c),
                    float(c_sq[cell]),
                    [[float(x) for x in row] for row in lut],
                    [[float(x) for x in row] for row in ccdot],
                )
            )
    spark = emb.sparkSession
    queries = _local_df(
        spark,
        q_data,
        "query_id long, cell int, qn double, qdotc double, cnorm2 double,"
        " lut array<array<double>>, ccdot array<array<double>>",
    )
    scored = (
        coded.join(F.broadcast(queries), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_cos(m, _norm_literal(cb), coarse=True),
        )
    )
    return _rank_limit(scored, "approx_cos", k)


def pq_pinned_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    m: int = M_SUBSPACES,
    dim: int = 64,
) -> DataFrame:
    """ADC top-k over PINNED sample-init codebooks — the value-exact
    gate twin of :func:`pq_topk` (r9 verdict #5: the ex-rows-only
    ``sim_pq_topk`` restated so a DuckDB oracle hash-matches it).

    Codebook entry (s, j) is the s-th subvector of corpus vector
    ``PQ_CB_VEC_IDS[j]`` — sample-init without Lloyd rounds, the same
    determinism trick sim_ivf_int8_topk established in r6 (trained
    float means have no cross-engine twin; pinned corpus values do).
    Every float reduction is a fixed-order fold (subspace dot products,
    reconstruction norms, the ADC sum over subspaces), assignment ties
    break on code id, ranking ties on neighbor id — so both engines
    produce bit-identical doubles end to end.

    Plan shape: codes come from a broadcast corpus×16 join + a
    map-side-combinable per-(vector, subspace) argmin aggregate (the
    IVF SQL argmin fold applied per subspace); scoring is
    the production ADC shape — per-query LUTs and the code table
    cross-joined via broadcast, the corpus scanned once, per-query
    rank-limit. The distributedly-TRAINED codebook path
    (:func:`train_codebooks` / :func:`pq_topk`) remains the production
    API, recall-pinned in tests."""
    subdim = dim // m
    base = _spread(emb).select("vec_id", "embedding")
    cb = F.broadcast(
        base.filter(F.col("vec_id").isin(*PQ_CB_VEC_IDS))
        .select(
            (F.col("vec_id") - PQ_CB_VEC_IDS[0]).alias("j"),
            F.col("embedding").alias("cemb"),
        )
        .withColumn(
            "cn2s",
            F.expr(_subspace_folds(
                m, subdim, "cast(cemb[{i}] as double) * cast(cemb[{i}] as double)"
            )),
        )
    )
    # per-(vector, codebook row): the m subspace distances in one array
    dist_arr = _subspace_folds(
        m, subdim,
        "cast(embedding[{i}] as double) * cast(cemb[{i}] as double)",
        lead="cn2s[s] - cast(2 as double) * ",
    )
    dists = base.crossJoin(cb).select(
        "vec_id",
        "j",
        F.posexplode(F.expr(dist_arr)).alias("s", "dist"),
    )
    codes = _argmin_codes(dists, "vec_id")
    # per-query LUT: lut[s][j] = q_s · cb[s][j], plus the query norm
    dot_arr = _subspace_folds(
        m, subdim, "cast(q_emb[{i}] as double) * cast(cemb[{i}] as double)"
    )
    queries = (
        base.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .crossJoin(cb)
        .select("query_id", "q_emb", "j", F.expr(dot_arr).alias("ds"))
        .groupBy("query_id")
        .agg(
            _by_subspace(m, "ds", "lut"),
            F.sqrt(F.first(F.expr(_spark_norm2("q_emb")))).alias("qn"),
        )
    )
    # reconstruction norms are query-independent: one broadcast row
    norms = F.broadcast(cb.groupBy().agg(_by_subspace(m, "cn2s", "norms")))
    scored = (
        codes.crossJoin(F.broadcast(queries))
        .crossJoin(norms)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_cos(m, "norms"),
        )
    )
    return _rank_limit(scored, "approx_cos", k)


def pq_pinned_topk_oracle(
    k: int = 10,
    n_queries: int = 8,
    m: int = M_SUBSPACES,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_pinned_topk` — every fold replayed in
    the same order (ascending p within subspace dots/norms, ascending s
    in the ADC sum), ties on code id then neighbor id."""
    subdim = dim // m
    lo, hi = PQ_CB_VEC_IDS[0], PQ_CB_VEC_IDS[-1]

    def fold(av: str, bv: str) -> str:
        return (
            f"list_reduce(list_prepend(cast(0 as double),"
            f" list_transform(generate_series(1, {subdim}),"
            f" p -> {av}[s.s * {subdim} + p]::DOUBLE"
            f" * {bv}[s.s * {subdim} + p]::DOUBLE)), (x, y) -> x + y)"
        )

    return f"""
WITH s_range AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
b AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
cb AS MATERIALIZED (
    SELECT vec_id - {lo} AS j, embedding AS cemb
    FROM b WHERE vec_id BETWEEN {lo} AND {hi}),
cbn AS MATERIALIZED (
    SELECT c.j, s.s AS s,
           list_reduce(list_prepend(cast(0 as double),
               list_transform(generate_series(1, {subdim}),
                   p -> c.cemb[s.s * {subdim} + p]::DOUBLE
                        * c.cemb[s.s * {subdim} + p]::DOUBLE)),
               (x, y) -> x + y) AS cn2
    FROM cb c, s_range s),
dist_all AS MATERIALIZED (
    SELECT e.vec_id, c.j, s.s AS s,
           n.cn2 - cast(2 as double) * {fold('e.embedding', 'c.cemb')} AS dist
    FROM b e, cb c, s_range s
    JOIN cbn n ON n.j = c.j AND n.s = s.s),
best AS (
    SELECT vec_id, s, j FROM (
        SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, j) AS rn
        FROM dist_all) t WHERE rn = 1),
codes AS MATERIALIZED (
    SELECT vec_id, list(j ORDER BY s) AS codes FROM best GROUP BY vec_id),
lut_s AS (
    SELECT q.vec_id AS query_id, c.j, s.s AS s,
           {fold('q.embedding', 'c.cemb')} AS d
    FROM b q, cb c, s_range s WHERE q.vec_id < {n_queries}),
lut2 AS MATERIALIZED (
    SELECT query_id, list(ds ORDER BY s) AS lut FROM (
        SELECT query_id, s, list(d ORDER BY j) AS ds
        FROM lut_s GROUP BY query_id, s) t
    GROUP BY query_id),
qn AS MATERIALIZED (
    SELECT vec_id AS query_id,
           sqrt(list_reduce(list_prepend(cast(0 as double),
               list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
               (x, y) -> x + y)) AS qn
    FROM b WHERE vec_id < {n_queries}),
norms2 AS MATERIALIZED (
    SELECT list(ns ORDER BY s) AS norms FROM (
        SELECT s, list(cn2 ORDER BY j) AS ns FROM cbn GROUP BY s) t),
scored AS (
    SELECT q.query_id, cd.vec_id AS neighbor_id,
           list_reduce(list_prepend(cast(0 as double),
               list_transform(generate_series(1, {m}),
                   s -> q.lut[s][cd.codes[s] + 1])), (x, y) -> x + y)
           / (qn.qn * sqrt(list_reduce(list_prepend(cast(0 as double),
               list_transform(generate_series(1, {m}),
                   s -> nm.norms[s][cd.codes[s] + 1])), (x, y) -> x + y)))
               AS approx_cos
    FROM codes cd, lut2 q, norms2 nm
    JOIN qn ON qn.query_id = q.query_id
    WHERE cd.vec_id != q.query_id),
ranked AS (
    SELECT query_id, neighbor_id, approx_cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_cos DESC, neighbor_id) AS rank
    FROM scored)
SELECT query_id, neighbor_id, round(approx_cos, 6) AS approx_cos,
       cast(rank as int) AS rank
FROM ranked WHERE rank <= {k}
"""


def _ivfpq_pinned_ids() -> tuple[int, ...]:
    """16 pinned RESIDUAL-codebook source vectors: the smallest corpus
    vec_ids ≥ 8 (past the query set) that are not coarse centroids —
    collisions would make degenerate zero residual entries."""
    out, i = [], 8
    taken = set(IVF_CENTROID_IDS)
    while len(out) < K_CELLS:
        if i not in taken:
            out.append(i)
        i += 1
    return tuple(out)


IVFPQ_CB_VEC_IDS: tuple[int, ...] = _ivfpq_pinned_ids()


def ivfpq_pinned_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_probe: int = 4,
    m: int = M_SUBSPACES,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ over PINNED coarse centroids AND pinned residual
    codebooks — the value-exact gate twin of :func:`ivfpq_topk` (r10:
    the last rows-only PQ-family member restated; only sketches and
    the eigensolve remain un-oracled).

    Coarse cells are the 16 pinned corpus vectors sim_ivf_int8_topk
    uses (similarity.IVF_CENTROID_IDS); the residual codebook entry j
    is the RESIDUAL (v − nearest centroid) of pinned corpus vector
    ``IVFPQ_CB_VEC_IDS[j]`` — both quantizers sample-init, no Lloyd
    rounds, so every value both engines compute is a fixed-order float
    fold over table data. Scoring is the trained path's ADC algebra
    exactly: approx cos = (q·c + Σ_s lut[s][code_s]) /
    (‖q‖ · sqrt(‖c‖² + 2·Σ_s ccdot[s][code_s] + Σ_s rnorm[s][code_s])),
    with the per-(query, probed-cell) LUTs built IN-PLAN (tiny
    broadcast relations, not driver literals) so the DuckDB oracle can
    restate every step. The trained two-quantizer path stays the
    production API, recall-pinned in tests."""
    subdim = dim // m
    base = _spread(emb).select("vec_id", "embedding")
    coarse = F.broadcast(
        base.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS))
        .select(F.col("vec_id").alias("cell_id"),
                F.col("embedding").alias("cemb"))
        .withColumn("cn2", F.expr(_spark_norm2("cemb")))
    )
    dot_ec = (
        f"aggregate(sequence(1, {dim}), cast(0 as double), (acc, i) ->"
        f" acc + cast(embedding[i - 1] as double)"
        f" * cast(cemb[i - 1] as double))"
    )
    # residual of every corpus vector wrt its nearest coarse cell
    resid = (
        base.crossJoin(coarse)
        .select(
            "vec_id",
            "embedding",
            "cell_id",
            "cemb",
            (F.col("cn2") - F.lit(2.0) * F.expr(dot_ec)).alias("dist"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("dist", "cell_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "cell_id",
            F.expr(
                "zip_with(embedding, cemb, (x, y) ->"
                " cast(x as double) - cast(y as double))"
            ).alias("rvec"),
        )
    )
    # pinned residual codebook: (j, rcb vector, per-subspace norms)
    rcb = F.broadcast(
        resid.filter(F.col("vec_id").isin(*IVFPQ_CB_VEC_IDS))
        .select(F.col("vec_id").alias("cb_vec"), F.col("rvec").alias("rcb"))
        .withColumn("rn2s", F.expr(_subspace_folds(m, subdim, "rcb[{i}] * rcb[{i}]")))
    )
    jmap = {v: j for j, v in enumerate(IVFPQ_CB_VEC_IDS)}
    j_expr = "CASE cb_vec " + " ".join(
        f"WHEN {v} THEN {j}" for v, j in jmap.items()
    ) + " END"
    rcb = rcb.withColumn("j", F.expr(j_expr))
    # residual codes per corpus vector (argmin per subspace, tie on j)
    rdist_arr = _subspace_folds(
        m, subdim, "rvec[{i}] * rcb[{i}]", lead="rn2s[s] - cast(2 as double) * "
    )
    codes = _argmin_codes(
        resid.crossJoin(rcb).select(
            "vec_id",
            "cell_id",
            "j",
            F.posexplode(F.expr(rdist_arr)).alias("s", "dist"),
        ),
        "vec_id",
        "cell_id",
    )
    # query-side: probed cells + per-(query, cell) ADC tables, in-plan
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    dot_qc = (
        f"aggregate(sequence(1, {dim}), cast(0 as double), (acc, i) ->"
        f" acc + cast(q_emb[i - 1] as double)"
        f" * cast(cemb[i - 1] as double))"
    )
    qprobes = (
        q.crossJoin(coarse)
        .select(
            "query_id",
            "q_emb",
            "cell_id",
            "cemb",
            F.col("cn2").alias("cnorm2"),
            (F.col("cn2") - F.lit(2.0) * F.expr(dot_qc)).alias("dist"),
            F.expr(dot_qc).alias("qdotc"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist", "cell_id")
            ),
        )
        .filter(F.col("rn") <= n_probe)
    )
    lut_arr = _subspace_folds(
        m, subdim,
        "(cast(q_emb[{i}] as double) - cast(cemb[{i}] as double)) * rcb[{i}]",
    )
    ccd_arr = _subspace_folds(m, subdim, "cast(cemb[{i}] as double) * rcb[{i}]")
    qcell = F.broadcast(
        qprobes.crossJoin(rcb)
        .select(
            "query_id", "cell_id", "qdotc", "cnorm2", "j",
            F.expr(lut_arr).alias("ls"),
            F.expr(ccd_arr).alias("cs"),
            F.col("rn2s").alias("ns"),
        )
        .groupBy("query_id", "cell_id", "qdotc", "cnorm2")
        .agg(
            _by_subspace(m, "ls", "lut"),
            _by_subspace(m, "cs", "ccdot"),
            _by_subspace(m, "ns", "rnorm"),
        )
    )
    qn = F.broadcast(
        q.select("query_id", F.sqrt(F.expr(_spark_norm2("q_emb"))).alias("qn"))
    )
    scored = (
        codes.join(qcell, "cell_id")
        .join(qn, "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _adc_cos(m, "rnorm", coarse=True),
        )
    )
    return _rank_limit(scored, "approx_cos", k)


def ivfpq_pinned_topk_oracle(
    k: int = 10,
    n_queries: int = 8,
    n_probe: int = 4,
    m: int = M_SUBSPACES,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ivfpq_pinned_topk`: identical fold orders
    (ascending element index in every dot/norm, ascending s in the ADC
    sums, left-associated recon2), ties on cell id / code id /
    neighbor id."""
    from .similarity import IVF_CENTROID_IDS

    subdim = dim // m
    cids = ", ".join(str(i) for i in IVF_CENTROID_IDS)
    jcase = "CASE vec_id " + " ".join(
        f"WHEN {v} THEN {j}" for j, v in enumerate(IVFPQ_CB_VEC_IDS)
    ) + " END"
    pids = ", ".join(str(i) for i in IVFPQ_CB_VEC_IDS)

    def fold64(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(cast(0 as double),"
            f" list_transform(generate_series(1, {dim}),"
            f" i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
        )

    def subfold(expr: str) -> str:
        return (
            f"list_reduce(list_prepend(cast(0 as double),"
            f" list_transform(generate_series(1, {subdim}),"
            f" p -> {expr})), (x, y) -> x + y)"
        )

    return f"""
WITH s_range AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
b AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
coarse AS MATERIALIZED (
    SELECT vec_id AS cell_id, embedding AS cemb,
           {fold64('embedding', 'embedding')} AS cn2
    FROM b WHERE vec_id IN ({cids})),
assign_all AS MATERIALIZED (
    SELECT e.vec_id, c.cell_id, c.cemb,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
               c.cn2 - 2.0 * {fold64('e.embedding', 'c.cemb')},
               c.cell_id) AS rn
    FROM b e, coarse c),
resid AS MATERIALIZED (
    SELECT a.vec_id, a.cell_id,
           list_transform(generate_series(1, {dim}),
               i -> e.embedding[i]::DOUBLE - a.cemb[i]::DOUBLE) AS rvec
    FROM assign_all a JOIN b e ON e.vec_id = a.vec_id
    WHERE a.rn = 1),
rcb AS MATERIALIZED (
    SELECT {jcase} AS j, rvec AS rcb,
           list_transform(generate_series(0, {m - 1}), s ->
               list_reduce(list_prepend(cast(0 as double),
                   list_transform(generate_series(1, {subdim}),
                       p -> rvec[s * {subdim} + p]
                            * rvec[s * {subdim} + p])),
                   (x, y) -> x + y)) AS rn2s
    FROM resid WHERE vec_id IN ({pids})),
code_d AS MATERIALIZED (
    SELECT r.vec_id, r.cell_id, c.j, s.s AS s,
           c.rn2s[s.s + 1] - cast(2 as double) * {subfold(
               'r.rvec[s.s * ' + str(subdim) + ' + p]'
               ' * c.rcb[s.s * ' + str(subdim) + ' + p]')} AS dist
    FROM resid r, rcb c, s_range s),
best AS (
    SELECT vec_id, cell_id, s, j FROM (
        SELECT vec_id, cell_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, j) AS rn
        FROM code_d) t WHERE rn = 1),
codes AS MATERIALIZED (
    SELECT vec_id, cell_id, list(j ORDER BY s) AS codes
    FROM best GROUP BY vec_id, cell_id),
qp AS MATERIALIZED (
    SELECT * FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cell_id,
               c.cemb, c.cn2 AS cnorm2,
               {fold64('q.embedding', 'c.cemb')} AS qdotc,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   c.cn2 - 2.0 * {fold64('q.embedding', 'c.cemb')},
                   c.cell_id) AS rn
        FROM b q, coarse c WHERE q.vec_id < {n_queries}) t
    WHERE rn <= {n_probe}),
qcell_j AS MATERIALIZED (
    SELECT p.query_id, p.cell_id, p.qdotc, p.cnorm2, c.j, s.s AS s,
           {subfold(
               '(p.q_emb[s.s * ' + str(subdim) + ' + p]::DOUBLE'
               ' - p.cemb[s.s * ' + str(subdim) + ' + p]::DOUBLE)'
               ' * c.rcb[s.s * ' + str(subdim) + ' + p]')} AS l,
           {subfold(
               'p.cemb[s.s * ' + str(subdim) + ' + p]::DOUBLE'
               ' * c.rcb[s.s * ' + str(subdim) + ' + p]')} AS cc,
           c.rn2s[s.s + 1] AS nn
    FROM qp p, rcb c, s_range s),
qcell AS MATERIALIZED (
    SELECT query_id, cell_id, qdotc, cnorm2,
           list(ls ORDER BY s) AS lut,
           list(cs ORDER BY s) AS ccdot,
           list(ns ORDER BY s) AS rnorm
    FROM (
        SELECT query_id, cell_id, qdotc, cnorm2, s,
               list(l ORDER BY j) AS ls,
               list(cc ORDER BY j) AS cs,
               list(nn ORDER BY j) AS ns
        FROM qcell_j
        GROUP BY query_id, cell_id, qdotc, cnorm2, s) t
    GROUP BY query_id, cell_id, qdotc, cnorm2),
qn AS MATERIALIZED (
    SELECT vec_id AS query_id,
           sqrt({fold64('embedding', 'embedding')}) AS qn
    FROM b WHERE vec_id < {n_queries}),
scored AS (
    SELECT qc.query_id, cd.vec_id AS neighbor_id,
           (qc.qdotc + list_reduce(list_prepend(cast(0 as double),
               list_transform(generate_series(1, {m}),
                   s -> qc.lut[s][cd.codes[s] + 1])), (x, y) -> x + y))
           / (qn.qn * sqrt(qc.cnorm2 + cast(2 as double) *
               list_reduce(list_prepend(cast(0 as double),
                   list_transform(generate_series(1, {m}),
                       s -> qc.ccdot[s][cd.codes[s] + 1])),
                   (x, y) -> x + y)
               + list_reduce(list_prepend(cast(0 as double),
                   list_transform(generate_series(1, {m}),
                       s -> qc.rnorm[s][cd.codes[s] + 1])),
                   (x, y) -> x + y))) AS approx_cos
    FROM codes cd
    JOIN qcell qc ON qc.cell_id = cd.cell_id
    JOIN qn ON qn.query_id = qc.query_id
    WHERE cd.vec_id != qc.query_id),
ranked AS (
    SELECT query_id, neighbor_id, approx_cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_cos DESC, neighbor_id)
               AS rank
    FROM scored)
SELECT query_id, neighbor_id, round(approx_cos, 6) AS approx_cos,
       cast(rank as int) AS rank
FROM ranked WHERE rank <= {k}
"""
