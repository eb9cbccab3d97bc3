"""Similarity search over the ``embeddings`` table.

Capability extension (the reference has no vector support at all — its
only types are string/int/float scalars, SURVEY.md §1.3).

Entry points — each returns a per-query ranked neighbor list:

* exact scans: :func:`cosine_topk` (float cosine) and :func:`int8_topk`
  (int8-quantized bigint dot) — the query set is tiny and broadcast, the
  corpus streams through one map + per-query top-k. No all-corpus
  shuffle of vectors.
* LSH-bucketed ANN (:func:`lsh_bucket_topk`, random hyperplanes, with
  optional multi-probe): each vector maps to a small bucket id,
  candidate generation is an equi-join on the bucket and the exact
  scoring runs only within buckets.
* IVF: one core (:func:`_ivf_topk`) behind every IVF builder — one
  centroid table ``(cell_id, cemb, cn2)``, one cell assignment whose
  kernel follows the grid size (SQL argmin fold below
  ``IVF_ARROW_MIN_CELLS``, Arrow matmul at or above it), one in-plan
  probe step and one √N sizing rule (:func:`_ivf_grid`). Pinned
  sample-init centroids serve :func:`ivf_int8_topk` (int8 rescoring;
  :func:`ivf_int8_index` is the persistable build) and
  :func:`ivf_float_topk` (cosine rescoring); trained centroids serve
  ``ivf.ivf_topk``.
* :func:`hamming_prefilter_topk`: a 64-bit sign-code prefilter with
  int8 rescoring of the survivors.
* :func:`ann_topk`: the adaptive entry point; :func:`ann_plan` picks
  exact / IVF / Hamming from a sampled-recall diagnostic.
* :func:`hybrid_rrf` (keyword ⊕ vector rank fusion) and
  :func:`random_projection` (JL dimensionality reduction).

One shared core sits under every builder here and in functions/pq.py,
functions/ivf.py, functions/dedup.py and the emb_* rows: the Spark
float folds (:func:`_spark_dot`, :func:`_spark_norm2`, :func:`_cosine`),
the int8 codes, dot fold and candidate rescorer, the nonzero-scale base,
the IVF core above, the numpy :func:`_centroid_dists` behind every
Arrow assignment pass, and :func:`_rank_limit` — the per-query top-k
with its neighbor-id tie-break.

All scoring is a fixed-order double fold over float32 elements so the
DuckDB oracle reproduces scores bit-for-bit (see functions/dedup.py for the
same trick). Hyperplanes are pinned literals generated from a seeded RNG at
import time — identical constants are embedded in the Spark expressions and
in the oracle SQL, so the two engines cannot disagree.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

__all__ = [
    "HYPERPLANES",
    "IVF_CENTROID_IDS",
    "ann_plan",
    "ann_topk",
    "cosine_topk",
    "cosine_topk_oracle",
    "hamming_prefilter_topk",
    "hybrid_rrf",
    "hybrid_rrf_oracle",
    "int8_topk",
    "int8_topk_oracle",
    "ivf_float_topk",
    "ivf_float_topk_oracle",
    "ivf_int8_index",
    "ivf_int8_topk",
    "ivf_int8_topk_oracle",
    "ivf_operating_point",
    "ivf_sampled_recall",
    "lsh_bucket_topk",
    "lsh_bucket_topk_oracle",
    "random_projection",
    "random_projection_oracle",
]

DIM = 64
N_PLANES = 8

_rng = random.Random(0x5EED)
# 8 hyperplanes × 64 dims, rounded literals so the SQL text stays compact;
# both engines parse the same decimal literal to the same double.
HYPERPLANES: tuple[tuple[float, ...], ...] = tuple(
    tuple(round(_rng.uniform(-1.0, 1.0), 6) for _ in range(DIM)) for _ in range(N_PLANES)
)

_DUCK_NORM2 = (
    "list_reduce(list_prepend(cast(0 as double),"
    " list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b)"
)


def _spark_dot(a: str, b: str) -> str:
    """Σ a[i]·b[i] as a double fold in ascending index order — each
    float32 product widened to double, so the DuckDB twin
    (:func:`_duck_dot`) reproduces it bit for bit."""
    return (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0 as double), (acc, v) -> acc + v)"
    )


def _spark_norm2(a: str) -> str:
    """‖a‖² as the same fixed-order double fold (twin: ``_DUCK_NORM2``)."""
    return (
        f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
        f" cast(0 as double), (acc, v) -> acc + v)"
    )


def _duck_dot(av: str, bv: str) -> str:
    return (
        f"list_reduce(list_prepend(cast(0 as double),"
        f" list_transform(generate_series(1, {DIM}),"
        f" i -> {av}[i]::DOUBLE * {bv}[i]::DOUBLE)), (x, y) -> x + y)"
    )


def _cosine(a: str, b: str, a_n2: str, b_n2: str) -> Column:
    """a·b / (‖a‖·‖b‖) from the dot fold and precomputed squared norms."""
    return F.expr(_spark_dot(a, b)) / (F.sqrt(F.col(a_n2)) * F.sqrt(F.col(b_n2)))


def _rank_limit(scored: DataFrame, score: str, k: int) -> DataFrame:
    """The per-query top-k every vector builder ends in: row_number per
    ``query_id`` by ``score`` descending, ties broken on the smaller
    ``neighbor_id`` (the DuckDB oracles replay exactly this order, so
    the tie-break is part of the value-exact contract), ``rank <= k``
    kept. Catalyst plans the filtered row_number as a map-side
    WindowGroupLimit, so only per-partition partial top-k rows reach the
    ranking shuffle. Float scores leave rounded to 6 places (both
    engines round the same double); integer scores pass through."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id"))
    out = F.col(score)
    if isinstance(scored.schema[score].dataType, DoubleType):
        out = F.round(score, 6).alias(score)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", out, "rank")
    )


def _spread(emb: DataFrame) -> DataFrame:
    """Round-robin to session parallelism — compact parquet can arrive
    as one partition, which would serialize the scoring loop."""
    return emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)


# ---- shared quantization expressions (review r10: these contracts are
# asserted identical across operators — int8 rescoring must score the
# same in every strategy, sign codes must bucket the same in every
# Hamming consumer — so they live in exactly one place) ----------------

# symmetric max-abs int8 quantization (the emb_quantize_int8 / r6 int8
# rule); expects a sibling column `m` = max(|x|) > 0
SPARK_INT8_QV = (
    "transform(embedding, x -> cast(floor(cast(x as double)"
    " * (127.0d / m) + 0.5d) as bigint))"
)
# 64-bit binary sign code packed as two 32-bit words, pure codegen
SPARK_SIGN_LO = (
    "aggregate(sequence(0, 31), 0L, (acc, i) -> acc +"
    " CASE WHEN embedding[i] >= 0 THEN shiftleft(1L, i)"
    " ELSE 0L END)"
)
SPARK_SIGN_HI = (
    "aggregate(sequence(32, 63), 0L, (acc, i) -> acc +"
    " CASE WHEN embedding[i] >= 0 THEN shiftleft(1L, i - 32)"
    " ELSE 0L END)"
)


def _nonzero_base(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, m = max |x|) with zero vectors dropped: they
    have no int8 quantization scale, so every int8 and IVF path
    excludes them."""
    return emb.select(
        "vec_id",
        "embedding",
        F.array_max(F.expr("transform(embedding, x -> abs(x))")).alias("m"),
    ).filter(F.col("m") > 0)


def _int8_codes(base: DataFrame) -> DataFrame:
    """(vec_id, qv): int8 codes of a :func:`_nonzero_base` frame."""
    return base.select("vec_id", F.expr(SPARK_INT8_QV).alias("qv"))


def _int8_dot(a: str, b: str) -> str:
    """Exact bigint dot of two int8 code arrays — integers end to end,
    so cross-engine ties are impossible by construction."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (a, v) -> a + v)"


def _pair_features(cand: DataFrame, side: DataFrame, *cols: str) -> DataFrame:
    """Attach ``side``'s ``cols`` to (query_id, neighbor_id) candidate
    pairs as ``q_<col>`` / ``c_<col>`` — two equi-joins on the vector id."""
    for role, key in (("q", "query_id"), ("c", "neighbor_id")):
        cand = cand.join(
            side.select(
                F.col("vec_id").alias(key),
                *(F.col(c).alias(f"{role}_{c}") for c in cols),
            ),
            key,
        )
    return cand


def _int8_rescore(cand: DataFrame, codes: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, dot): candidates rescored by the exact
    int8 dot — the one scoring contract of every int8 strategy."""
    return _pair_features(cand, codes, "qv").select(
        "query_id", "neighbor_id", F.expr(_int8_dot("q_qv", "c_qv")).alias("dot")
    )


def _plane_dot(dialect: str, plane: tuple[float, ...]) -> str:
    """Literal-weighted sum  Σ v[i]·h_i, left-folded in index order.

    Spark side is an ``aggregate(zip_with(...))`` fold over a literal
    plane array rather than an unrolled 64-term ``+`` chain: the chain
    form generated ~10 s of one-time janino compilation per query (8
    planes × 64 terms of codegen), the fold compiles in milliseconds.
    Values are bit-identical — the fold accumulates the same products in
    the same left-to-right order (IEEE ``0.0 + x == x``), which the
    value-exact oracle check pins.
    """
    if dialect == "spark":
        lits = ", ".join(f"cast({h!r} as double)" for h in plane)
        return (
            f"aggregate(zip_with(embedding, array({lits}),"
            f" (x, h) -> cast(x as double) * h),"
            f" cast(0 as double), (acc, v) -> acc + v)"
        )
    terms = [f"embedding[{i + 1}]::DOUBLE * ({h!r})" for i, h in enumerate(plane)]
    return " + ".join(terms)


def _bucket_expr(dialect: str) -> str:
    """LSH bucket id: sign bit of each hyperplane projection, packed."""
    bits = []
    for p, plane in enumerate(HYPERPLANES):
        bits.append(
            f"(CASE WHEN {_plane_dot(dialect, plane)} > 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def cosine_topk(
    emb: DataFrame, k: int = 10, n_queries: int = 8
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id <
    n_queries), self excluded.

    Plan shape: the query set is a broadcast nested-loop against the
    corpus scan (tiny × huge — correct at any corpus size), then a
    per-query top-k. At 100 TB the ranking shuffle is only
    n_queries × corpus-partition partial top-k rows once Catalyst applies
    the window's rank-limit pushdown (WindowGroupLimit).

    The corpus is repartitioned to session parallelism (:func:`_spread`).
    The query side filters the scan directly, so its broadcast does not
    wait on that shuffle.
    """

    def normed(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id", "embedding", F.expr(_spark_norm2("embedding")).alias("n2")
        )

    q = normed(emb.filter(F.col("vec_id") < n_queries)).alias("q")
    c = normed(_spread(emb)).alias("c")
    scored = (
        F.broadcast(q)
        .join(c, F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            _cosine("q.embedding", "c.embedding", "q.n2", "c.n2").alias("cos"),
        )
    )
    return _rank_limit(scored, "cos", k)


def int8_topk(emb: DataFrame, k: int = 10, n_queries: int = 8) -> DataFrame:
    """Top-k by EXACT int8-quantized dot product — the rescoring pass a
    quantized retrieval index runs: vectors quantize to symmetric int8
    (max-abs scale, the emb_quantize_int8 arithmetic), similarity is the
    integer dot product (bigint — never floats, so cross-engine ties
    are impossible by construction), ranking ties break on neighbor id.

    Same plan shape as cosine_topk: broadcast query set × corpus scan,
    per-query rank-limit. At 100 TB the scan reads 1-byte codes instead
    of float32 — the 4× I/O cut is the point of the quantization."""
    # the query side filters the scan directly: its broadcast must not
    # wait on the corpus's round-robin shuffle
    q = _int8_codes(_nonzero_base(emb.filter(F.col("vec_id") < n_queries))).alias("q")
    c = _int8_codes(_nonzero_base(_spread(emb))).alias("c")
    scored = (
        F.broadcast(q)
        .join(c, F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.expr(_int8_dot("q.qv", "c.qv")).alias("dot"),
        )
    )
    return _rank_limit(scored, "dot", k)


def int8_topk_oracle(k: int = 10, n_queries: int = 8) -> str:
    return f"""
WITH b AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(x))) AS m
    FROM embeddings),
qn AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> cast(floor(x::DOUBLE * (cast(127 as double) / m)
                               + cast(0.5 as double)) as bigint)) AS qv
    FROM b WHERE m > 0),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_reduce(list_prepend(cast(0 as bigint),
               list_transform(generate_series(1, {DIM}),
                              i -> q.qv[i] * c.qv[i])), (x, y) -> x + y)
               AS dot
    FROM qn q JOIN qn c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {n_queries}),
ranked AS (
    SELECT query_id, neighbor_id, dot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id) AS rank
    FROM scored)
SELECT query_id, neighbor_id, cast(dot as bigint) AS dot,
       cast(rank as int) AS rank
FROM ranked WHERE rank <= {k}
"""


_rng_ivf = random.Random(0xCE11)
# 16 pinned centroid vector ids (< 500, the smallest-SF corpus; disjoint
# from the query ids 0-7). Deterministic "sample-init IVF": using corpus
# vectors as the coarse quantizer (k-means init without Lloyd rounds)
# keeps every arithmetic step literal-exact across engines, which trained
# float centroids never are.
IVF_CENTROID_IDS: tuple[int, ...] = tuple(
    sorted(_rng_ivf.sample(range(8, 500), 16))
)


def ivf_operating_point(
    n_vectors: int, n_queries: int = 8
) -> tuple[tuple[int, ...], int]:
    """Production ``(centroid_ids, n_probes)`` for a corpus of
    ``n_vectors`` — OR ``((), 0)`` when the corpus is too small to
    index (n_vectors ≲ n_queries + 2: nothing to prune). Callers MUST
    branch on an empty grid before indexing ``centroid_ids[0]`` or
    passing ``n_probes`` downstream — 0 is not a valid probe count
    (ADVICE r9; :func:`ann_plan` shows the canonical branch:
    ``len(centroid_ids) < 2 → exact scan``).

    The sizing rule: the √N point the r7 verdict prescribed
    (fixing the 64-cells-at-1M configuration whose 8 probes scanned 30%
    of the corpus for recall@10 of only 0.65): cells ≈ √N so cell size
    and cell count balance, probes ≈ √cells with a floor of 8. At 1M
    that is 1000 cells / 31 probes (int(√1000), truncating) ≈ 3%
    expected scan fraction; the measured operating point lives in
    REHEARSAL_r08_ivf_*.json. NOTE the √N rule assumes the corpus has
    cluster structure. On an adversarially UNIFORM corpus there is no
    probes-vs-recall knee — recall tracks the scanned fraction
    (REHEARSAL_r09_ivf_uniform.json, 1M×128, 1000 cells):

        probes   scan%   recall@10   query_s (persisted index)
          31       6.3%    0.588       3.2
          62      12.0%    0.662       2.4
         125      22.0%    0.787       3.0
         250      38.4%    0.900       3.2
         500      66.1%    1.000       4.6
        1000     100.0%    1.000       5.8   (exact full scan: 10.4 s)

    Operating rule: when the corpus lacks cluster structure (recall on
    a held-out sample ≪ the clustered expectation at the same scan
    fraction), either raise probes to ≥50% of cells (the persisted
    int8-code index still beats the float full scan on per-batch cost —
    4.6 s vs 10.4 s above — because quantization is amortized at build
    time), or skip IVF entirely: exact sim_int8_topk (recall 1.0) or a
    binary-Hamming prefilter (sim_hamming_topk shape) for one-off
    batches that cannot amortize an index build.
    Deterministic sample-init (seeded ids, disjoint from the query ids)
    like the fixed gate configuration; the grid size is
    :func:`_ivf_grid`'s."""
    n_cells, n_probes = _ivf_grid(n_vectors, n_queries)
    if n_cells == 0:
        return (), 0
    ids = tuple(
        sorted(
            random.Random(0xCE11).sample(range(n_queries, n_vectors), n_cells)
        )
    )
    return ids, n_probes


def _ivf_grid(n_vectors: int, n_queries: int = 8) -> tuple[int, int]:
    """``(n_cells, n_probes)`` — the one IVF sizing rule, behind the
    pinned (:func:`ivf_operating_point`) and the trained
    (``ivf.ivf_topk(n_cells=None)``) quantizers: cells ≈ √N clamped to
    [16, 65536] (the upper clamp keeps the centroid matrix driver-sized,
    65536×128 doubles ≈ 67 MB) and to the corpus past the query set
    (0 cells: nothing to index); probes per :func:`_ivf_probes`."""
    n_cells = max(16, min(65536, int(n_vectors**0.5)))
    n_cells = min(n_cells, max(0, n_vectors - n_queries))
    return n_cells, _ivf_probes(n_cells)


def _ivf_probes(n_cells: int) -> int:
    """Probes for a grid of ``n_cells``: √cells with a floor of 8,
    never more than the grid holds."""
    return max(1, min(n_cells, max(8, int(n_cells**0.5))))


# sample sizes of the sampled-recall diagnostic: queries, corpus vectors
_RECALL_QUERIES = 64
_RECALL_SAMPLE = 4096


def ivf_sampled_recall(
    emb: DataFrame,
    centroid_ids: tuple[int, ...] | None = None,
    n_probes: int | None = None,
    k: int = 10,
    sample_mod: int = 1,
) -> float:
    """Estimate IVF recall@k at an operating point from a driver-sized
    sample — the executable form of the operating boundary documented on
    :func:`ivf_operating_point`. Run this BEFORE building an IVF index
    on an unknown corpus: a low estimate means the corpus lacks cluster
    structure and the √N point will under-recall (the r9 uniform sweep,
    REHEARSAL_r09_ivf_uniform.json, shows recall then merely tracks the
    scanned fraction — no probe-count knee exists).

    Method (all driver-side numpy after one bounded sampling scan):
    hash-sample ≤``_RECALL_SAMPLE`` (4096) corpus vectors; the first
    ``_RECALL_QUERIES`` (64) double as queries. Ground truth = exact
    top-k by dot product within the sample (the retrieval metric family
    — int8 rescoring approximates float dot). IVF simulation = assign
    the sample to cells by nearest centroid (L2, exactly the index
    rule), probe each query's ``n_probes`` nearest cells, count the
    fraction of true top-k inside probed cells.

    The estimate is a CONSERVATIVE lower band, not an unbiased recall
    predictor: a 4k-sample cannot contain the corpus's true nearest
    neighbors, so the sample's "top-k" are bulk-distance points whose
    cell placement is more random than real NNs'. Measured calibration
    against the full rehearsals (√N operating point, 128-dim,
    deterministic hash-ordered sample):

        corpus          estimate   measured recall@10
        clustered @1M     0.78          1.0
        uniform   @1M     0.30          0.588
        clustered @4M     0.86          1.0
        uniform   @4M     0.26          0.55

    Decision rule from that calibration: estimate ≥ 0.6 → the corpus is
    clustered enough, build IVF at the operating point; < 0.4 → uniform-
    like, use the exact int8 scan / a binary-Hamming prefilter (or raise
    probes past 50% of cells when the index amortizes across batches);
    0.4-0.6 → run the real rehearsal before committing.

    Cost: one scan + (sample × dim) doubles collected + numpy matmuls
    against the (already driver-sized) centroid matrix. No shuffle, no
    index build. ``sample_mod`` > 1 thins the hash-sample for corpora
    where even the scan-side filter should pass fewer rows.
    """
    if centroid_ids is None:
        centroid_ids, auto_probes = ivf_operating_point(emb.count())
        if n_probes is None:
            n_probes = auto_probes
    if n_probes is None:
        # probes sized from the CALLER'S grid, not the corpus-size auto
        # grid — a small grid must not get more probes than it has cells,
        # or the diagnostic degenerates to a constant 1.0
        n_probes = _ivf_probes(len(centroid_ids))
    return _sampled_recall(emb, centroid_ids, n_probes, k, sample_mod)[0]


def _sampled_recall(emb, centroid_ids, n_probes, k, sample_mod=1):
    """``(estimate, cells)`` of :func:`ivf_sampled_recall`; ``cells`` is
    the ``(cell ids, centroid matrix)`` pair the sampling scan collected
    (None on a degenerate grid), which :func:`ann_topk` hands to the
    Arrow assignment so the index build collects nothing again."""
    import numpy as np

    if len(centroid_ids) < 2:
        return 1.0, None  # degenerate grid — IVF prunes nothing, moot
    base = _nonzero_base(_spread(emb))
    # ONE bounded job for centroids + sample (r16; was two separate
    # collects — each a full scan job, and the diagnostic runs per
    # query build). Sort key ranks every centroid row ahead of the
    # hash-ordered candidate sample, so TakeOrderedAndProject
    # (per-partition top-K, no full sort — the sample stays
    # DETERMINISTIC across partition layouts/parallelism, unlike a bare
    # limit(); review r9) returns all centroids followed by at least
    # the top ``_RECALL_SAMPLE`` non-centroids by (hash, vec_id) —
    # exactly the rows the two collects returned; the driver-side slice
    # below re-caps the sample in case some centroid ids are absent from
    # base. Ordering the sample by the hash — not vec_id — keeps the
    # kept rows a pseudo-random spread of the corpus even when
    # sample_mod=1 passes everything.
    is_cent = F.col("vec_id").isin(*centroid_ids)
    fetched = (
        base.filter(
            (F.pmod(F.xxhash64(F.col("vec_id")), F.lit(sample_mod)) == 0)
            | is_cent
        )
        .select(
            "vec_id", "embedding",
            is_cent.cast("int").alias("__c"),
            F.xxhash64(F.col("vec_id")).alias("__h"),
        )
        .orderBy(F.desc("__c"), "__h", "vec_id")
        .limit(_RECALL_SAMPLE + len(centroid_ids))
        .collect()
    )
    cent = sorted(
        (r for r in fetched if r["__c"] == 1), key=lambda r: r.vec_id
    )
    c_mat = np.asarray([r.embedding for r in cent], dtype=np.float64)
    cells = (np.asarray([r.vec_id for r in cent], dtype=np.int64), c_mat)
    sample = [r for r in fetched if r["__c"] == 0][:_RECALL_SAMPLE]
    if len(sample) < 2 * k or len(c_mat) < 2:
        return 1.0, cells  # sample too small to prune anything — IVF is moot
    x = np.asarray([r.embedding for r in sample], dtype=np.float64)
    c_sq = (c_mat * c_mat).sum(axis=1)
    # cell assignment for every sampled vector (the index rule: L2 argmin)
    d_cells = _centroid_dists(x, c_mat, c_sq)
    cells_of = d_cells.argmin(axis=1)
    nq = min(_RECALL_QUERIES, len(x))
    n_probes = min(n_probes, len(c_mat))
    hits = total = 0
    dots = x[:nq] @ x.T  # queries × sample dot products
    for qi in range(nq):
        dq = dots[qi].copy()
        dq[qi] = -np.inf  # exclude self
        true_k = np.argpartition(-dq, k)[:k]
        probed = set(np.argpartition(d_cells[qi], n_probes - 1)[:n_probes])
        hits += sum(1 for t in true_k if cells_of[t] in probed)
        total += k
    return hits / total, cells


def _centroid_dists(x, c_mat, c_sq):
    """(n, C) numpy matrix ‖c‖² − 2·x·cᵀ: squared L2 distance from each
    row of ``x`` to each centroid minus the per-row constant ‖x‖², so a
    row's argmin is its nearest centroid (ties to the lowest index).
    The one nearest-centroid rule of every Arrow assignment pass (IVF,
    PQ, IVF-PQ) and of the planner's sampled-recall diagnostic;
    ``c_sq`` is the caller's precomputed ‖c‖² row."""
    return c_sq[None, :] - 2.0 * (x @ c_mat.T)


def _centroid_table(cells: DataFrame) -> DataFrame:
    """The one IVF centroid table ``(cell_id, cemb, cn2)``, broadcast:
    ``cells`` gives (cell_id, cemb) and ‖cemb‖² comes from the same
    fixed-order fold as every corpus norm. Pinned and trained
    quantizers differ only in where ``cells`` comes from."""
    return F.broadcast(
        cells.select("cell_id", "cemb", F.expr(_spark_norm2("cemb")).alias("cn2"))
    )


def _ivf_centroids(base: DataFrame, centroid_ids: tuple[int, ...]) -> DataFrame:
    """Pinned centroid table: the corpus vectors ``centroid_ids`` are the
    cells (sample-init, no Lloyd rounds — value-exact across engines)."""
    return _centroid_table(
        base.filter(F.col("vec_id").isin(*centroid_ids)).select(
            F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cemb")
        )
    )


def _cell_dists(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cell_id, dist) for every vector × broadcast centroid:
    argmin ‖v−c‖² = argmin (‖c‖² − 2·v·c) via the fixed-order fold."""
    return vecs.crossJoin(cent).select(
        "vec_id",
        "cell_id",
        (F.col("cn2") - F.lit(2.0) * F.expr(_spark_dot("embedding", "cemb"))).alias("dist"),
    )


# Grids of at least this many cells assign through the Arrow matmul,
# smaller ones through the SQL fold: the fold's lambda cost grows with
# the cell count, the Arrow pass costs a fixed Python stage, and on
# √N-sized grids the two meet between 16 and 64 cells (measured table in
# CHANGES.md). The 16-cell gate grids stay on the oracle-exact fold.
IVF_ARROW_MIN_CELLS = 64


def _ivf_assign(base: DataFrame, cent: DataFrame, n_cells: int, cells=None) -> DataFrame:
    """(vec_id, cell_id): the one IVF cell assignment, its kernel picked
    from the grid's cell count — :func:`_ivf_assign_sql` below
    ``IVF_ARROW_MIN_CELLS``, :func:`_ivf_assign_arrow` at or above it.
    ``cells`` is the ``(cell ids, centroid matrix)`` pair the Arrow
    kernel needs; a caller that already holds it on the driver (the
    trained quantizer, the ANN planner) passes it, otherwise the
    centroid table is collected once here."""
    if n_cells < IVF_ARROW_MIN_CELLS:
        return _ivf_assign_sql(base, cent)
    return _ivf_assign_arrow(base, _centroid_matrix(cent) if cells is None else cells)


def _centroid_matrix(cent: DataFrame):
    """``(cell ids, centroid matrix)`` of a centroid table, collected
    and ordered by cell id — one job."""
    import numpy as np

    rows = sorted(cent.select("cell_id", "cemb").collect())
    return (
        np.asarray([r.cell_id for r in rows], dtype=np.int64),
        np.asarray([r.cemb for r in rows], dtype=np.float64),
    )


def _ivf_assign_sql(base: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cell_id) as argmin-by-struct: ``min(struct(dist,
    cell_id))`` under a plain groupBy — map-side combinable PARTIAL
    aggregation, so the corpus × n_cells distance rows reduce to one row
    per vector before any shuffle; ties go to the lower cell id. (A
    row_number window here would shuffle and sort the full corpus×cells
    expansion — measured OOM at 4M vectors × 128 cells on local[32].)
    No Python stage, and the DuckDB oracles replay it bit for bit."""
    return (
        _cell_dists(base, cent)
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cell_id")).alias("best"))
        .select("vec_id", F.col("best.cell_id").alias("cell_id"))
    )


def _ivf_assign_arrow(base: DataFrame, cells) -> DataFrame:
    """(vec_id, cell_id) by one numpy matmul per Arrow batch against the
    ``(cell ids, centroid matrix)`` pair ``cells`` — the assignment for
    production grids (~1000 cells at 1M vectors), where the SQL fold's
    per-cell lambda cost is hopeless (339 s at 4M×128 cells). Ties break
    to the LOWEST cell id like the fold (rows ordered by cell id, argmin
    takes the first minimum); distances differ from the fold only in
    float summation order. Map-only, no shuffle."""
    import numpy as np

    c_ids, c_mat = cells
    c_sq = (c_mat * c_mat).sum(axis=1)

    def assign_batches(it):
        import pandas as pd

        for pdf in it:
            x = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            d = _centroid_dists(x, c_mat, c_sq)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell_id": c_ids[d.argmin(axis=1)]}
            )

    return base.select("vec_id", "embedding").mapInPandas(
        assign_batches, "vec_id long, cell_id long"
    )


def _ivf_candidates(
    base: DataFrame, cent: DataFrame, assign: DataFrame, n_queries: int, n_probes: int
) -> DataFrame:
    """(query_id, neighbor_id): each query keeps its ``n_probes`` nearest
    cells (ties on cell id), then candidates come from an EQUI-JOIN of
    the broadcast probes onto the corpus assignment — never query ×
    corpus."""
    w_cell = Window.partitionBy("vec_id").orderBy("dist", "cell_id")
    probes = (
        _cell_dists(base.filter(F.col("vec_id") < n_queries), cent)
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= n_probes)
        .select(F.col("vec_id").alias("query_id"), "cell_id")
    )
    return (
        F.broadcast(probes)
        .join(assign, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )


def _ivf_topk(
    base: DataFrame,
    cent: DataFrame,
    n_cells: int,
    k: int,
    n_queries: int,
    n_probes: int,
    codes: DataFrame | None = None,
    assign: DataFrame | None = None,
    cells=None,
) -> DataFrame:
    """The one IVF query path behind every IVF builder: assign the
    corpus ``base`` to the cells of ``cent`` (:func:`_ivf_assign`, unless
    a prebuilt ``assign`` is given), probe each query's ``n_probes``
    nearest cells, rescore the candidates and rank. With int8 ``codes``
    the rescore is the exact int8 dot (:func:`_int8_rescore`), otherwise
    the float cosine fold of :func:`cosine_topk`."""
    if assign is None:
        assign = _ivf_assign(base, cent, n_cells, cells)
    cand = _ivf_candidates(base, cent, assign, n_queries, n_probes)
    if codes is not None:
        return _rank_limit(_int8_rescore(cand, codes), "dot", k)
    n = base.select(
        "vec_id", "embedding", F.expr(_spark_norm2("embedding")).alias("n2")
    )
    scored = _pair_features(cand, n, "embedding", "n2").select(
        "query_id",
        "neighbor_id",
        _cosine("q_embedding", "c_embedding", "q_n2", "c_n2").alias("cos"),
    )
    return _rank_limit(scored, "cos", k)


def ivf_int8_index(
    emb: DataFrame,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
) -> tuple[DataFrame, DataFrame]:
    """Build-time artifacts of the two-stage index: ``(assign, codes)``
    — one (vec_id, cell_id) row per vector and the int8 code table.
    Persist both to amortize the corpus×centroid assignment across query
    batches. The assignment kernel follows the grid size
    (:func:`_ivf_assign`); on a grid of ``IVF_ARROW_MIN_CELLS`` or more
    it collects the pinned centroids once, here."""
    base = _nonzero_base(_spread(emb))
    cent = _ivf_centroids(base, centroid_ids)
    return _ivf_assign(base, cent, len(centroid_ids)), _int8_codes(base)


def ivf_int8_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_probes: int = 4,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Two-stage retrieval: IVF candidate generation + exact int8
    rescoring — the production vector-index shape (sim_int8_topk's exact
    full-corpus scan composed with a coarse quantizer so scan volume is
    n_probes/n_cells of the corpus, sub-linear at 100 TB).

    Stage 1 (IVF-Flat, deterministic): centroids are PINNED corpus
    vectors (sample-init, no Lloyd rounds — trained float centroids have
    no value-exact cross-engine twin). Every vector's cell is
    argmin ||v−c||² = argmin (||c||² − 2·v·c), ties on cell id
    (:func:`_ivf_assign`: the SQL fold on the 16-cell gate grid, the
    Arrow matmul on grids of ``IVF_ARROW_MIN_CELLS`` or more). Queries
    keep their ``n_probes`` nearest cells. Candidate generation is then
    an EQUI-JOIN on the cell id — never query × corpus.

    Stage 2: candidates rescore by the exact int8-quantized bigint dot
    product (the sim_int8_topk arithmetic — integer, drift-free), rank
    per query, tie on neighbor id.

    At 100 TB: stage 1 reads 1 float vector and writes a (vec_id, cell)
    pair; stage 2's scan is confined to probed cells and reads 1-byte
    codes. Both stages shuffle only on the cell/vec id. The index
    (assignment + codes) is a BUILD-TIME artifact — pass a
    persisted :func:`ivf_int8_index` result as ``index`` to amortize it
    across query batches; query probe cells are always computed fresh
    from the (tiny) query vectors, the production access pattern.
    Without ``index``, a grid of ``IVF_ARROW_MIN_CELLS`` or more cells
    collects its centroids once at build time. No registry row takes
    that path: the gate rows run the 16-cell grid, and :func:`ann_topk`
    hands over the matrix its planner already collected.
    """
    base = _nonzero_base(_spread(emb))
    assign, codes = index if index is not None else (None, _int8_codes(base))
    return _ivf_topk(
        base, _ivf_centroids(base, centroid_ids), len(centroid_ids),
        k, n_queries, n_probes, codes=codes, assign=assign,
    )


def ivf_int8_topk_oracle(
    k: int = 10,
    n_queries: int = 8,
    n_probes: int = 4,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
) -> str:
    ids = ", ".join(str(i) for i in centroid_ids)
    dot_vc = (
        f"list_reduce(list_prepend(cast(0 as double),"
        f" list_transform(generate_series(1, {DIM}),"
        f" i -> e.embedding[i]::DOUBLE * ct.cemb[i]::DOUBLE)),"
        f" (x, y) -> x + y)"
    )
    return f"""
WITH b AS MATERIALIZED (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(x))) AS m
    FROM embeddings),
fb AS MATERIALIZED (SELECT vec_id, embedding FROM b WHERE m > 0),
cent AS MATERIALIZED (
    SELECT vec_id AS cell_id, embedding AS cemb, {_DUCK_NORM2} AS cn2
    FROM fb WHERE vec_id IN ({ids})),
assign_all AS MATERIALIZED (
    SELECT e.vec_id, ct.cell_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ct.cn2 - 2.0 * {dot_vc}, ct.cell_id) AS rn
    FROM fb e, cent ct),
assign AS (SELECT vec_id, cell_id FROM assign_all WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cell_id
           FROM assign_all WHERE vec_id < {n_queries} AND rn <= {n_probes}),
qn AS MATERIALIZED (
    SELECT vec_id,
           list_transform(embedding,
               x -> cast(floor(x::DOUBLE * (cast(127 as double) / m)
                               + cast(0.5 as double)) as bigint)) AS qv
    FROM b WHERE m > 0),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON p.cell_id = a.cell_id
    WHERE a.vec_id != p.query_id),
scored AS (
    SELECT cd.query_id, cd.neighbor_id,
           list_reduce(list_prepend(cast(0 as bigint),
               list_transform(generate_series(1, {DIM}),
                              i -> q.qv[i] * c.qv[i])), (x, y) -> x + y)
               AS dot
    FROM cand cd
    JOIN qn q ON q.vec_id = cd.query_id
    JOIN qn c ON c.vec_id = cd.neighbor_id),
ranked AS (
    SELECT query_id, neighbor_id, dot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id) AS rank
    FROM scored)
SELECT query_id, neighbor_id, cast(dot as bigint) AS dot,
       cast(rank as int) AS rank
FROM ranked WHERE rank <= {k}
"""


def ivf_float_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    n_probes: int = 4,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
) -> DataFrame:
    """IVF-Flat with FLOAT cosine rescoring over pinned sample-init
    centroids, fully deterministic so it value-matches a DuckDB oracle
    (r9 verdict #5): the :func:`ivf_int8_topk` pipeline (one IVF query
    path, :func:`_ivf_topk`) with cosine scoring as the same fixed-order
    fold :func:`cosine_topk` uses. The TRAINED k-means quantizer
    (``ivf.ivf_topk``) runs the same path over its trained centroid
    table, recall-pinned in tests."""
    base = _nonzero_base(_spread(emb))
    return _ivf_topk(
        base, _ivf_centroids(base, centroid_ids), len(centroid_ids),
        k, n_queries, n_probes,
    )


def ivf_float_topk_oracle(
    k: int = 10,
    n_queries: int = 8,
    n_probes: int = 4,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
) -> str:
    ids = ", ".join(str(i) for i in centroid_ids)
    dot_vc = (
        f"list_reduce(list_prepend(cast(0 as double),"
        f" list_transform(generate_series(1, {DIM}),"
        f" i -> e.embedding[i]::DOUBLE * ct.cemb[i]::DOUBLE)),"
        f" (x, y) -> x + y)"
    )
    return f"""
WITH b AS MATERIALIZED (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(x))) AS m
    FROM embeddings),
fb AS MATERIALIZED (SELECT vec_id, embedding FROM b WHERE m > 0),
cent AS MATERIALIZED (
    SELECT vec_id AS cell_id, embedding AS cemb, {_DUCK_NORM2} AS cn2
    FROM fb WHERE vec_id IN ({ids})),
assign_all AS MATERIALIZED (
    SELECT e.vec_id, ct.cell_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ct.cn2 - 2.0 * {dot_vc}, ct.cell_id) AS rn
    FROM fb e, cent ct),
assign AS (SELECT vec_id, cell_id FROM assign_all WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cell_id
           FROM assign_all WHERE vec_id < {n_queries} AND rn <= {n_probes}),
n AS MATERIALIZED (
    SELECT vec_id, embedding, {_DUCK_NORM2} AS n2 FROM fb),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probes p JOIN assign a ON p.cell_id = a.cell_id
    WHERE a.vec_id != p.query_id),
scored AS (
    SELECT cd.query_id, cd.neighbor_id,
           {_duck_dot('q.embedding', 'c.embedding')}
             / (sqrt(q.n2) * sqrt(c.n2)) AS cos
    FROM cand cd
    JOIN n q ON q.vec_id = cd.query_id
    JOIN n c ON c.vec_id = cd.neighbor_id),
ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored)
SELECT query_id, neighbor_id, round(cos, 6) AS cos,
       cast(rank as int) AS rank
FROM ranked WHERE rank <= {k}
"""


def hamming_prefilter_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    prefilter_mult: int = 32,
) -> DataFrame:
    """Two-stage ANN for corpora with NO cluster structure and NO
    amortizable index: a 64-bit binary-sign Hamming prefilter keeps the
    ``prefilter_mult × k`` nearest codes per query, then the survivors
    rescore by the exact int8-quantized bigint dot product. Output
    schema is identical to :func:`int8_topk` / :func:`ivf_int8_topk`
    (query_id, neighbor_id, dot, rank) so :func:`ann_topk` callers see
    one contract regardless of strategy.

    Why this shape: on a uniform corpus IVF recall merely tracks the
    scanned fraction (REHEARSAL_r09_ivf_uniform.json) — there is no
    cell structure to exploit — but sign codes still correlate with dot
    product direction, and the code table is 1/32 the size of the float
    corpus. Stage 1 is integer bit_count(xor) inside whole-stage
    codegen over the code scan (broadcast query codes, no shuffle of
    the corpus); only prefilter_mult×k×n_queries rows reach stage 2's
    int8 fold. At 100 TB stage 1 reads 8 bytes/vector, stage 2 reads
    the int8 codes of a bounded candidate set via an equi-join on
    vec_id. Hamming ties at the prefilter boundary break on neighbor
    id, so candidate sets — and therefore results — are deterministic.

    Measured operating point (REHEARSAL_r10_ann_planner.json, 1M×64-dim
    uniform, local[32], default prefilter_mult=32): recall@10 0.49 at
    8.6 s vs the exact int8 scan's 1.0 at 9.9 s — at CPU-bound local
    scale the exact scan dominates. :func:`ann_plan` therefore only
    dispatches here past its ``ANN_EXACT_ND_THRESHOLD`` cost boundary
    (r11), where the scan is I/O-bound and stage 1's
    8-bytes-per-vector read (vs 64 for int8 codes) cuts read volume
    8×. Raise ``prefilter_mult`` to trade stage-2 cost for recall.
    """
    base = _nonzero_base(_spread(emb))
    codes = base.select(
        "vec_id",
        F.expr(SPARK_SIGN_LO).alias("lo"),
        F.expr(SPARK_SIGN_HI).alias("hi"),
    )
    qc = codes.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    w_ham = Window.partitionBy("query_id").orderBy(
        "hamming", "neighbor_id"
    )
    cand = (
        F.broadcast(qc)
        .join(codes, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "cast(bit_count(qlo ^ lo) + bit_count(qhi ^ hi) as int)"
            ).alias("hamming"),
        )
        .withColumn("hrn", F.row_number().over(w_ham))
        .filter(F.col("hrn") <= prefilter_mult * k)
        .select("query_id", "neighbor_id")
    )
    return _rank_limit(_int8_rescore(cand, _int8_codes(base)), "dot", k)


# ann_plan's calibrated thresholds; its docstring gives their meaning
ANN_BUILD_THRESHOLD = 0.6
ANN_FALLBACK_THRESHOLD = 0.4
ANN_EXACT_ND_THRESHOLD = 256_000_000


def ann_plan(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    amortized: bool = True,
) -> dict:
    """Choose an ANN strategy for this corpus — the executable form of
    the operating rule the r9 round documented on
    :func:`ivf_operating_point` / :func:`ivf_sampled_recall`. Runs the
    pre-build sampled-recall diagnostic (one bounded scan, driver-side
    numpy) and applies the calibrated thresholds
    (REHEARSAL_r09_ivf_uniform.json: clustered corpora estimate
    0.78-0.86, uniform 0.26-0.30 at the √N point):

    * estimate ≥ ``ANN_BUILD_THRESHOLD`` (0.6) → ``"ivf"``: the corpus has
      cluster structure; build IVF-√N + int8 codes
      (:func:`ivf_int8_topk`), 3-6% expected scan fraction.
    * estimate < ``ANN_FALLBACK_THRESHOLD`` (0.4) → uniform-like; IVF at
      the √N point would under-recall (~0.59 measured at 1M uniform).
      With ``amortized=True`` (the index persists across query batches)
      → ``"ivf_wide"``: IVF with probes raised to 50% of cells — recall
      ≥0.9 on the measured uniform curve, and the persisted int8 index
      still beats the float full scan per batch (4.6 s vs 10.4 s at
      1M). One-off batches (``amortized=False``) are cost-modeled
      (r11, closing the r10 verdict's watch item): when
      ``n_vectors × dim ≤ ANN_EXACT_ND_THRESHOLD`` the corpus is small
      enough that the exact int8 scan is CPU-bound and essentially as
      fast as the Hamming prefilter while returning recall 1.0
      (measured at 1M×64 uniform: exact 9.9 s recall 1.0 vs hamming
      8.6 s recall 0.49 — REHEARSAL_r10_ann_planner.json), so the plan
      is ``"exact"``. Only past the threshold — where the scan turns
      I/O-bound and the prefilter's 8-bytes-per-vector stage 1 cuts
      read volume 8× — does the plan fall back to ``"hamming"``
      (:func:`hamming_prefilter_topk`, no build cost). The default
      threshold (2.56e8 ≈ 4 × the measured 1M×64 point) is calibrated
      from REHEARSAL artifacts: every corpus we measured below it had
      exact strictly dominating hamming locally.
    * in between → ``"exact"``: the calibration band is ambiguous, so
      correctness wins — exact int8 full scan (:func:`int8_topk`,
      recall 1.0) until a real recall rehearsal certifies IVF for this
      corpus.

    Degenerate corpora (no indexable grid: n_vectors ≲ n_queries + 2)
    are ``"exact"`` — there is nothing for IVF to prune.

    Returns a plan dict: ``strategy`` (ivf | ivf_wide | exact |
    hamming), ``est_recall``, ``n_vectors``, ``centroid_ids``,
    ``n_probes``, ``reason`` and ``cells`` — the ``(cell ids, centroid
    matrix)`` pair the diagnostic collected, which :func:`ann_topk`
    hands to the Arrow assignment on a large grid, so the index build
    runs no job of its own. Feed it to :func:`ann_topk` (or call
    ann_topk directly, which plans internally)."""
    n = emb.count()
    centroid_ids, n_probes = ivf_operating_point(n, n_queries)
    if len(centroid_ids) < 2:
        return {
            "strategy": "exact",
            "reason": "degenerate-grid",
            "est_recall": 1.0,
            "n_vectors": n,
            "centroid_ids": (),
            "n_probes": 0,
            "cells": None,
        }
    est, cells = _sampled_recall(emb, centroid_ids, n_probes, k)
    if est >= ANN_BUILD_THRESHOLD:
        strategy, reason = "ivf", "clustered"
    elif est < ANN_FALLBACK_THRESHOLD:
        if amortized:
            strategy, reason = "ivf_wide", "uniform-amortized"
            n_probes = max(n_probes, (len(centroid_ids) + 1) // 2)
        else:
            row = (
                emb.where(F.col("embedding").isNotNull())
                .select(F.size("embedding").alias("d"))
                .first()
            )
            dim = int(row["d"]) if row is not None and row["d"] else 0
            if dim <= 0 or n * dim <= ANN_EXACT_ND_THRESHOLD:
                # unknown/degenerate dim → exact is the safe plan
                strategy, reason = "exact", "uniform-oneoff-cpu-bound"
            else:
                strategy, reason = "hamming", "uniform-oneoff-io-bound"
    else:
        strategy, reason = "exact", "uncertain-band"
    return {
        "strategy": strategy,
        "reason": reason,
        "est_recall": est,
        "n_vectors": n,
        "centroid_ids": centroid_ids,
        "n_probes": n_probes,
        "cells": cells,
    }


def ann_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 8,
    amortized: bool = True,
    plan: dict | None = None,
) -> DataFrame:
    """Adaptive ANN top-k: plan via :func:`ann_plan`, then dispatch to
    the chosen strategy. All strategies return the same schema
    (query_id, neighbor_id, dot bigint, rank int) — the exact
    int8-quantized dot is the scoring contract regardless of how
    candidates were generated, so switching strategy never changes
    result semantics, only recall/cost.

    This is the entry point a caller should use on an UNKNOWN corpus:
    it spends one bounded diagnostic scan to avoid the r9-measured
    failure mode where the √N IVF default silently returns recall 0.59
    on a cluster-free corpus."""
    if plan is None:
        plan = ann_plan(emb, k=k, n_queries=n_queries, amortized=amortized)
    strategy = plan["strategy"]
    if strategy in ("ivf", "ivf_wide"):
        ids = plan["centroid_ids"]
        base = _nonzero_base(_spread(emb))
        return _ivf_topk(
            base, _ivf_centroids(base, ids), len(ids), k, n_queries,
            plan["n_probes"], codes=_int8_codes(base), cells=plan.get("cells"),
        )
    if strategy == "hamming":
        return hamming_prefilter_topk(emb, k=k, n_queries=n_queries)
    return int8_topk(emb, k=k, n_queries=n_queries)


def cosine_topk_oracle(k: int = 10, n_queries: int = 8) -> str:
    return f"""
WITH n AS (
    SELECT vec_id, embedding, {_DUCK_NORM2} AS n2 FROM embeddings
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_duck_dot('q.embedding', 'c.embedding')}
             / (sqrt(q.n2) * sqrt(c.n2)) AS cos
    FROM n q JOIN n c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {n_queries}
),
ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, cast(rank as int) AS rank
FROM ranked WHERE rank <= {k}
"""


def lsh_bucket_topk(
    emb: DataFrame, k: int = 5, n_queries: int = 8, n_probes: int = 1
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket(s).

    The bucket id is computed scan-side (pure expression, no shuffle);
    candidate generation is an equi-join on the bucket int — at 100 TB this
    is a hash shuffle whose key count (2^N_PLANES … more planes at larger
    corpora) controls the recall/cost trade-off. Ranking work is confined
    to buckets.

    ``n_probes > 1`` enables standard multi-probe LSH (Lv et al., VLDB'07):
    each query also probes the buckets reached by flipping the
    ``n_probes − 1`` sign bits whose hyperplane projections have the
    smallest magnitude — the planes the query sits closest to, i.e. the
    most likely to have cut a true neighbor off. Probing is a QUERY-side
    fan-out only: the corpus keeps one bucket per vector (buckets
    partition the corpus, so the probe join yields no duplicate pairs),
    and recall rises without re-hashing or enlarging the corpus shuffle —
    the multi-probe trade (q-side work for corpus-side memory) is exactly
    what a 100 TB index wants.
    """
    if n_probes < 1 or n_probes > N_PLANES + 1:
        raise ValueError(f"n_probes must be in [1, {N_PLANES + 1}]")
    # the query set is broadcast, so the corpus joins it map-side on the
    # bucket and needs no bucket shuffle; Catalyst pushes the query
    # filter down to the scan, so the query branch projects its few rows
    # itself
    withb = _spread(emb).select(
        "vec_id",
        "embedding",
        F.expr(_spark_norm2("embedding")).alias("n2"),
        F.expr(_bucket_expr("spark")).alias("bucket"),
    )
    q0 = withb.filter(F.col("vec_id") < n_queries)
    if n_probes > 1:
        # per-plane projection magnitudes (query rows only — tiny)
        proj_arr = "array(" + ", ".join(
            _plane_dot("spark", plane) for plane in HYPERPLANES
        ) + ")"
        qp = q0.withColumn("projs", F.expr(proj_arr)).select(
            "vec_id", "embedding", "n2", "bucket",
            F.posexplode("projs").alias("p", "proj"),
        )
        w_pl = Window.partitionBy("vec_id").orderBy(F.abs(F.col("proj")).asc(), "p")
        flips = (
            qp.withColumn("rnk", F.row_number().over(w_pl))
            .filter(F.col("rnk") <= n_probes - 1)
            .select(
                "vec_id", "embedding", "n2",
                F.expr("bucket ^ shiftleft(1, p)").alias("bucket"),
            )
        )
        q0 = q0.select("vec_id", "embedding", "n2", "bucket").unionAll(flips)
    q = q0.alias("q")
    c = withb.alias("c")
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q.bucket") == F.col("c.bucket"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            _cosine("q.embedding", "c.embedding", "q.n2", "c.n2").alias("cos"),
        )
    )
    return _rank_limit(scored, "cos", k)


def lsh_bucket_topk_oracle(k: int = 5, n_queries: int = 8, n_probes: int = 1) -> str:
    projs = ", ".join(_plane_dot("duck", plane) for plane in HYPERPLANES)
    if n_probes > 1:
        # identical probe set to the Spark side: flip the n_probes-1 sign
        # bits with the smallest |projection| (ties by plane index)
        q_cte = f"""
q0 AS (
    SELECT vec_id, embedding, n2, bucket, list_value({projs}) AS projs
    FROM n WHERE vec_id < {n_queries}
),
flips AS (
    SELECT vec_id, embedding, n2, xor(bucket, (1 << (p - 1))) AS bucket
    FROM (
        SELECT vec_id, embedding, n2, bucket, p,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY abs(projs[p]) ASC, p) AS rnk
        FROM (SELECT *, unnest(generate_series(1, {N_PLANES})) AS p FROM q0))
    WHERE rnk <= {n_probes - 1}
),
qs AS (
    SELECT vec_id, embedding, n2, bucket FROM q0
    UNION ALL SELECT vec_id, embedding, n2, bucket FROM flips
),"""
    else:
        q_cte = f"""
qs AS (
    SELECT vec_id, embedding, n2, bucket FROM n WHERE vec_id < {n_queries}
),"""
    return f"""
WITH n AS (
    SELECT vec_id, embedding, {_DUCK_NORM2} AS n2,
           {_bucket_expr('duck')} AS bucket
    FROM embeddings
),{q_cte}
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_duck_dot('q.embedding', 'c.embedding')}
             / (sqrt(q.n2) * sqrt(c.n2)) AS cos
    FROM qs q JOIN n c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, cast(rank as int) AS rank
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# hybrid retrieval: keyword IDF ranking ⊕ vector cosine ranking via RRF
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_CUT = 50  # per-modality candidate depth before fusion


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    tokens: tuple[str, ...],
    k: int = 10,
    query_id: int = 0,
) -> DataFrame:
    """Hybrid search: fuse a keyword ranking and a vector ranking with
    reciprocal-rank fusion — score(d) = Σ 1/(RRF_K + rank_m(d)).

    The two-retriever shape of every production RAG stack: the keyword
    side ranks docs by summed IDF of matched query tokens (exact integer
    dfs, ln on identical doubles); the vector side ranks by cosine to the
    query embedding. Each side keeps its top ``_RRF_CUT`` via
    orderBy+limit — Spark plans TakeOrderedAndProject (per-partition
    partial top-k, no global sort); the rank windows then run over only
    the surviving ≤50-row candidate lists. A full outer join on the doc
    id fuses them. Ranks are deterministic (score desc, id asc), so the
    fused list is value-exact cross-engine.

    ``emb.vec_id`` is the embedding id of the same-numbered document
    (the driver corpus pairs them 1:1). Both retrievers exclude the query
    document itself (``doc_id == query_id``) — a result list that returns
    the query is useless to a RAG caller, and excluding it on only one
    branch would let the query document sneak back in with a keyword-only
    score. IDF document frequencies still count the full corpus (the
    query doc is real evidence of term rarity); only the ranked candidate
    lists drop it.
    """
    spark_tokens = ", ".join(f"'{t}'" for t in tokens)
    n = docs.agg(F.count("*").alias("n_docs"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0))")
        ).alias("tok"),
    )
    df_tok = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("tok").isin(*tokens))
    )
    # kw_score = Σ ln(n/df) over the doc's matched tokens — summed as a
    # FIXED-ORDER fold over the token-sorted IDF list, not a float
    # sum(): parallel aggregation adds the terms in nondeterministic
    # order, and at sf0.1 thousands of docs tie on the same matched
    # set, so per-doc ulp noise broke the (score, doc_id) tie
    # differently in each engine (found by the r9 sf0.1 oracle sweep).
    # The sorted fold makes every doc's additions identical in both
    # engines — bit-exact scores, deterministic ties.
    kw_scored = (
        toks.filter(F.expr(f"tok IN ({spark_tokens})"))
        .filter(F.col("doc_id") != query_id)
        .join(F.broadcast(df_tok), "tok")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(tok, ln(cast(n_docs as double) / doc_freq)))),"
                " s -> s.col2), cast(0 as double), (acc, v) -> acc + v)"
            ).alias("kw_score")
        )
    )
    # top-cut via orderBy+limit = TakeOrderedAndProject (per-partition
    # partial top-k, NO global sort); the rank window then runs over only
    # the ≤_RRF_CUT surviving rows
    kw_top = kw_scored.orderBy(F.col("kw_score").desc(), "doc_id").limit(_RRF_CUT)
    w_kw = Window.orderBy(F.col("kw_score").desc(), "doc_id")
    kw = kw_top.select(
        "doc_id", F.row_number().over(w_kw).alias("kw_rank")
    )

    base = emb.select(
        "vec_id", "embedding", F.expr(_spark_norm2("embedding")).alias("n2")
    )
    q = base.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q_emb"), F.col("n2").alias("q_n2")
    )
    scored = (
        base.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            _cosine("q_emb", "embedding", "q_n2", "n2").alias("cos"),
        )
    )
    vec_top = scored.orderBy(F.col("cos").desc(), "vec_id").limit(_RRF_CUT)
    w_vec = Window.orderBy(F.col("cos").desc(), "vec_id")
    vec = vec_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_vec).alias("vec_rank"),
    )

    fused = kw.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("kw_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf"),
        "kw_rank",
        "vec_rank",
    )
    fused_top = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(k)
    w_f = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused_top.withColumn("rank", F.row_number().over(w_f))
        .select(
            "doc_id",
            F.round("rrf", 6).alias("rrf_r6"),
            F.col("kw_rank").cast("int").alias("kw_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def hybrid_rrf_oracle(
    tokens: tuple[str, ...], k: int = 10, query_id: int = 0
) -> str:
    duck_tokens = ", ".join(f"'{t}'" for t in tokens)
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
           AS tok
    FROM documents),
n AS (SELECT count(*) AS n_docs FROM documents),
dfreq AS (SELECT tok, count(*) AS doc_freq FROM toks
          WHERE tok IN ({duck_tokens}) GROUP BY tok),
kw_scored AS (
    -- fixed-order fold over the token-sorted IDF terms (see the Spark
    -- twin): a plain float sum() adds in nondeterministic parallel
    -- order, and ulp noise breaks mass score ties differently per
    -- engine at larger scale factors
    SELECT t.doc_id,
           list_reduce(list_prepend(cast(0 as double),
               list(ln(cast(n.n_docs as double) / d.doc_freq)
                    ORDER BY t.tok)), (a, b) -> a + b) AS kw_score
    FROM toks t JOIN dfreq d ON t.tok = d.tok CROSS JOIN n
    WHERE t.tok IN ({duck_tokens}) AND t.doc_id != {query_id}
    GROUP BY t.doc_id),
kw AS (
    SELECT doc_id, kw_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank
        FROM kw_scored) WHERE kw_rank <= {_RRF_CUT}),
nv AS (SELECT vec_id, embedding, {_DUCK_NORM2} AS n2 FROM embeddings),
vec_scored AS (
    SELECT c.vec_id,
           {_duck_dot('q.embedding', 'c.embedding')}
             / (sqrt(q.n2) * sqrt(c.n2)) AS cos
    FROM nv q JOIN nv c ON c.vec_id != {query_id}
    WHERE q.vec_id = {query_id}),
vec AS (
    SELECT vec_id AS doc_id, vec_rank FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS vec_rank
        FROM vec_scored) WHERE vec_rank <= {_RRF_CUT}),
fused AS (
    SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id,
           coalesce(1.0 / ({RRF_K} + kw.kw_rank), 0.0)
             + coalesce(1.0 / ({RRF_K} + vec.vec_rank), 0.0) AS rrf,
           kw.kw_rank, vec.vec_rank
    FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
SELECT doc_id, round(rrf, 6) AS rrf_r6,
       cast(kw_rank as int) AS kw_rank, cast(vec_rank as int) AS vec_rank,
       cast(rank as int) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM fused)
WHERE rank <= {k}
"""


# =========================================================================
# Johnson-Lindenstrauss random projection (dimensionality reduction)
# =========================================================================

RP_OUT_DIM = 8

_rp_rng = random.Random(0xD1CE)
# ±1 Rademacher sign matrix (Achlioptas 2003: database-friendly random
# projections — signs suffice for the JL guarantee). Literal constants
# baked into BOTH engines' SQL, so the projection is engine-neutral.
RP_SIGNS: tuple[tuple[float, ...], ...] = tuple(
    tuple(1.0 if _rp_rng.random() < 0.5 else -1.0 for _ in range(DIM))
    for _ in range(RP_OUT_DIM)
)

_RP_SCALE = "sqrt(cast(8 as double))"  # 1/sqrt(out_dim) normalization


def random_projection(emb) -> "DataFrame":
    """Project 64-d embeddings to 8-d via a fixed Rademacher sign matrix.

    The JL complement to PCA (functions/pca.py): no training pass, no
    corpus statistics — the projection matrix is a compile-time literal,
    so the whole operator is one map-only ``Project`` in whole-stage
    codegen. Zero shuffles, zero Python; at 100 TB it runs at scan speed
    and composes with any downstream ANN index on the reduced vectors.

    Unlike PCA (rows-only: iterative eigensolve floats), this IS
    oracle-exact: each output coordinate is a fixed-order left fold of
    literal ±1 products, bit-identical across engines.
    """
    cols = [F.col("vec_id")]
    for j, signs in enumerate(RP_SIGNS):
        cols.append(
            F.round(
                F.expr(f"({_plane_dot('spark', signs)}) / {_RP_SCALE}"), 6
            ).alias(f"p{j}")
        )
    return emb.select(*cols)


def random_projection_oracle() -> str:
    outs = ",\n       ".join(
        f"round(({_plane_dot('duck', signs)}) / {_RP_SCALE}, 6) AS p{j}"
        for j, signs in enumerate(RP_SIGNS)
    )
    return f"SELECT vec_id,\n       {outs}\nFROM embeddings"
