"""Scale-path operators: salted join, pandas-UDF similarity.

These operators exist purely for 100 TB behavior (skew resilience, wide-
vector scoring); the tests pin their EQUIVALENCE to the reference
implementations on small data — same results, different physical shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_query_engine_spark.catalog import load_table
from sql_query_engine_spark.operators.skew import salted_join
from tests.conftest import SF_DIR


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    plain = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_linenumber", "o_custkey"
    )
    salted = salted_join(
        li, o, [("l_orderkey", "o_orderkey")], n_salt=8, salt_source="l_linenumber"
    ).select("l_orderkey", "l_linenumber", "o_custkey")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_on_skewed_key(spark):
    """A synthetic 90%-one-key fact: salting must split the hot key
    across salt buckets (the whole point) and still join correctly."""
    fact = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("row_id"),
    )
    dim = spark.range(0, 10_000).select(
        F.col("id").alias("dk"), F.concat(F.lit("v"), F.col("id")).alias("val")
    )
    plain_n = fact.join(dim, fact["k"] == dim["dk"]).count()
    salted = salted_join(fact, dim, [("k", "dk")], n_salt=16, salt_source="row_id")
    assert salted.count() == plain_n

    # the hot key's rows spread over >1 salt bucket
    n_buckets = (
        fact.filter(F.col("k") == 1)
        .select(F.pmod(F.xxhash64("row_id"), F.lit(16)).alias("b"))
        .distinct()
        .count()
    )
    assert n_buckets > 8


def test_salted_collect_set_equals_plain(spark):
    """salted_collect_set (the salting RESERVE case — collect-style aggs
    are the shape AQE's skew split cannot rescue, since the hot key is a
    single group) must produce exactly the plain collect_set per key,
    including on a 90%-one-key skew."""
    from sql_query_engine_spark.operators.skew import salted_collect_set

    fact = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") % 997).alias("v"),
    )
    plain = {
        r.k: sorted(r.vs)
        for r in fact.groupBy("k").agg(F.collect_set("v").alias("vs")).collect()
    }
    salted = {
        r.k: sorted(r.v_set)
        for r in salted_collect_set(fact, "k", "v", n_salt=16).collect()
    }
    assert plain == salted
    # the per-VALUE salt puts every duplicate of a value in one bucket,
    # so the flattened partial sets need no final dedup — pin that
    hot = salted[1]
    assert len(hot) == len(set(hot))


def test_salted_left_join_preserves_unmatched(spark):
    fact = spark.range(0, 100).select(F.col("id").alias("k"), F.col("id").alias("rid"))
    dim = spark.range(0, 50).select(F.col("id").alias("dk"), F.lit("x").alias("v"))
    out = salted_join(fact, dim, [("k", "dk")], n_salt=4, how="left", salt_source="rid")
    assert out.count() == 100
    assert out.filter(F.col("v").isNull()).count() == 50


def test_ivf_topk_recall(spark):
    """IVF ANN: returned scores must be exact (same cosine arithmetic as
    brute force) and recall@10 vs brute force must clear a floor with
    n_probe=4 of 16 cells."""
    from sql_query_engine_spark.functions import ivf, similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {}
    for r in similarity.cosine_topk(emb, k=10, n_queries=8).collect():
        exact.setdefault(r.query_id, {})[r.neighbor_id] = r.cos
    got = ivf.ivf_topk(emb, k=10, n_queries=8, n_cells=16, n_probe=4).collect()
    assert len(got) > 0
    hits = total = 0
    all_scores = {
        (r.query_id, r.neighbor_id): r.cos
        for r in similarity.cosine_topk(emb, k=500, n_queries=8).collect()
    }
    for r in got:
        # any returned score matches the exact computation bit-for-bit
        assert abs(all_scores[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9
    for qid, nbrs in exact.items():
        ivf_nbrs = {r.neighbor_id for r in got if r.query_id == qid}
        hits += len(ivf_nbrs & set(nbrs))
        total += len(nbrs)
    recall = hits / total
    assert recall >= 0.3, f"recall@10 too low: {recall:.2f}"


def test_ivf_int8_two_stage(spark):
    """Two-stage IVF + int8 rescoring: every returned dot product must
    equal the exact full-scan rescorer's (same integer arithmetic), the
    candidate set must be sub-linear (probed cells only), and recall@10
    vs the exact int8 full scan must clear a floor at n_probes=4/16."""
    from sql_query_engine_spark.functions import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    exact_rows = similarity.int8_topk(emb, k=10, n_queries=8).collect()
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    all_dots = {
        (r.query_id, r.neighbor_id): r.dot
        for r in similarity.int8_topk(emb, k=500, n_queries=8).collect()
    }
    got = similarity.ivf_int8_topk(emb, k=10, n_queries=8).collect()
    assert len(got) > 0
    for r in got:
        assert all_dots[(r.query_id, r.neighbor_id)] == r.dot  # exact ints
    hits = total = 0
    for qid, nbrs in exact.items():
        two_stage = {r.neighbor_id for r in got if r.query_id == qid}
        hits += len(two_stage & nbrs)
        total += len(nbrs)
    recall = hits / total
    assert recall >= 0.3, f"recall@10 too low: {recall:.2f}"

    # sub-linearity: with 16 cells and 4 probes, each query's candidate
    # pool must be well under the full corpus
    n_corpus = emb.count()
    probes = 4
    cand = (
        similarity.ivf_int8_topk(emb, k=10**9, n_queries=8, n_probes=probes)
        .groupBy("query_id")
        .count()
        .collect()
    )
    for row in cand:
        assert row["count"] < n_corpus * 0.75, (
            f"query {row.query_id} scanned {row['count']}/{n_corpus}"
        )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_ivf_assignment_kernels_agree(spark, sf):
    """The two IVF assignment kernels — the SQL argmin fold below
    IVF_ARROW_MIN_CELLS, the Arrow matmul at or above it — give identical
    (vec_id → cell_id) on every testdata corpus, on the pinned 16-cell
    gate grid and on the √N operating-point grid. Both compute
    ‖c‖² − 2·v·c and differ only in float summation order, so they
    could disagree solely on near-equidistant ties; none exist here."""
    from sql_query_engine_spark.functions import similarity as s

    emb = load_table(spark, SF_DIR.replace("sf0.001", sf), "embeddings")
    base = s._nonzero_base(s._spread(emb))
    grids = [s.IVF_CENTROID_IDS, s.ivf_operating_point(emb.count())[0]]
    for ids in grids:
        cent = s._ivf_centroids(base, ids)
        m_sql = dict(s._ivf_assign_sql(base, cent).collect())
        m_arr = dict(s._ivf_assign_arrow(base, s._centroid_matrix(cent)).collect())
        assert m_sql and m_sql == m_arr, [
            v for v in m_sql if m_sql[v] != m_arr.get(v)][:5]


def test_ivf_gate_grid_runs_no_python_stage(spark):
    """The 16-cell pinned grid sits below IVF_ARROW_MIN_CELLS, so the
    gate rows assign through the SQL fold: no Python stage in the
    executed plan. The Arrow kernel above the crossover is pinned in
    test_ann_topk_dispatch_contract_and_recall."""
    from sql_query_engine_spark.queries import queries

    qs = queries()
    for name in ("sim_ivf_int8_topk", "sim_ivf_topk", "sim_ivfpq_topk"):
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan()
        assert plan.toString().count("MapInPandas") == 0, name
        if name != "sim_ivfpq_topk":  # its coarse step is its own window
            assert "min(struct(dist" in plan.toString(), name  # the SQL fold


def test_ivf_operating_point_rule(spark):
    """ivf_operating_point follows the √N sizing rule with sane clamps
    and keeps centroid ids disjoint from the query ids."""
    from sql_query_engine_spark.functions import similarity

    ids, probes = similarity.ivf_operating_point(1_000_000)
    assert len(ids) == 1000 and probes == 31
    assert min(ids) >= 8 and len(set(ids)) == 1000
    ids_small, probes_small = similarity.ivf_operating_point(500)
    assert len(ids_small) == 22 and probes_small == 8  # probe floor
    ids2, _ = similarity.ivf_operating_point(1_000_000)
    assert ids == ids2  # deterministic


def test_multiprobe_lsh_recall_improves(spark):
    """Multi-probe LSH: probing the flip buckets of the 2 nearest planes
    must strictly add recall vs single-bucket at fixed N_PLANES.

    The 500-vector driver corpus is too sparse for bucket recall (256
    buckets ⇒ ~2 vectors each), so plant the structure deterministically:
    queries 0–7, each with 5 noisy near-copies (ids 8–47) among 2000
    background vectors. All components derive from Spark's hash() — no
    RNG, fully deterministic, so the measured recalls are constants."""
    from sql_query_engine_spark.functions import similarity

    k, nq = 5, 8
    base = spark.range(2048).select(
        F.col("id").alias("vec_id"),
        F.expr(
            """
            transform(sequence(0, 63), j -> cast(
              (pmod(hash(if(id >= 8 and id < 48, (id - 8) div 5, id), j), 2001)
                 - 1000) / 1000.0
              + if(id >= 8 and id < 48,
                   0.35 * (pmod(hash(id, j + 9999), 2001) - 1000) / 1000.0,
                   cast(0 as double))
              as float))
            """
        ).alias("embedding"),
    )
    base = base.cache()
    exact = {}
    for r in similarity.cosine_topk(base, k=k, n_queries=nq).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    # sanity: the exact top-5 of each query IS its planted clone set
    for q in range(nq):
        assert exact[q] == set(range(8 + q * 5, 8 + (q + 1) * 5))

    def recall(rows):
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(by_q.get(q, set()) & n) for q, n in exact.items())
        return hits / sum(len(n) for n in exact.values())

    single = similarity.lsh_bucket_topk(base, k=k, n_queries=nq).collect()
    multi = similarity.lsh_bucket_topk(base, k=k, n_queries=nq, n_probes=3).collect()
    r1, r3 = recall(single), recall(multi)
    base.unpersist()
    assert r3 > r1, f"multi-probe did not improve recall: {r1:.2f} -> {r3:.2f}"
    assert r3 >= 0.6, f"multi-probe recall floor: {r3:.2f}"


def test_scale_rehearsal_small(spark):
    """The 100k-doc rehearsal at pytest scale (20k docs): sub-quadratic
    candidates, planted MinHash recall ≥ 0.95 at the threshold-chosen
    banding, CC convergence in O(diameter) rounds, planted ANN recall.
    run_rehearsal raises AssertionError itself on any violation; the
    assertions here pin the corpus shape so a generator regression can't
    silently weaken the rehearsal."""
    from sql_query_engine_spark.rehearsal import planted_jaccard, run_rehearsal

    assert abs(planted_jaccard() - 95 / 105) < 1e-12
    report = run_rehearsal(spark, n_docs=20_000, n_queries=128)
    assert report["planted_pairs"] == 2_000
    assert report["recall"] >= 0.95
    assert report["cc_rounds"] <= 3
    assert report["candidate_pairs"] < 5 * 20_000


def test_banding_for_threshold_properties(spark):
    """S-curve banding: chosen (b, r) factorizes the perm budget, the
    inflection brackets the threshold sensibly, and recall at a planted
    Jaccard above the threshold clears the prediction used by the
    rehearsal assertions."""
    from sql_query_engine_spark.functions.dedup import (
        banding_for_threshold,
        banding_recall,
    )

    for t in (0.3, 0.5, 0.7, 0.8, 0.9):
        b, r = banding_for_threshold(t)
        assert b * r == 16
        # a pair well above the threshold must be caught with high prob
        assert banding_recall(min(0.98, t + 0.15), b, r) > 0.8
    assert banding_for_threshold(0.5) == (8, 2)  # recall-favoring tie-break
    assert banding_for_threshold(0.8) == (4, 4)


def test_pq_topk(spark):
    """PQ ANN: 8×4-bit codes (32× compression) must still rank the exact
    top-k acceptably — recall@10 vs brute force clears a floor — and the
    reconstruction error stays bounded. The driver corpus is ~uniform
    random, the known worst case for PQ (no cluster structure for the
    codebooks to exploit), so these are deliberately loose-but-honest
    floors; everything is deterministic (seedless k-means from sorted
    init), so the measured values are constants, not flake sources."""
    from sql_query_engine_spark.functions import pq, similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    exact_sets: dict[int, set] = {}
    exact_cos: dict[tuple, float] = {}
    for r in similarity.cosine_topk(emb, k=500, n_queries=8).collect():
        exact_cos[(r.query_id, r.neighbor_id)] = r.cos
        if len(exact_sets.setdefault(r.query_id, set())) < 10:
            exact_sets[r.query_id].add(r.neighbor_id)

    got = pq.pq_topk(emb, k=10, n_queries=8).collect()
    assert len(got) == 8 * 10
    hits = total = 0
    for qid, nbrs in exact_sets.items():
        pq_nbrs = {r.neighbor_id for r in got if r.query_id == qid}
        hits += len(pq_nbrs & nbrs)
        total += len(nbrs)
    recall = hits / total
    assert recall >= 0.3, f"PQ recall@10 too low: {recall:.2f}"
    errs = [
        abs(r.approx_cos - exact_cos[(r.query_id, r.neighbor_id)]) for r in got
    ]
    assert sum(errs) / len(errs) < 0.25, f"mean ADC error {sum(errs)/len(errs):.3f}"
    assert max(errs) < 0.5, f"max ADC error {max(errs):.3f}"

    # codes really are M small ints in [0, K)
    cb = pq.train_codebooks(emb)
    codes = pq.pq_codes(emb, cb).select("codes").limit(50).collect()
    for row in codes:
        assert len(row.codes) == pq.M_SUBSPACES
        assert all(0 <= c < pq.K_CELLS for c in row.codes)


def test_ivfpq_topk(spark):
    """IVF-PQ (residual encoding): cell pruning stacked on PQ distortion
    must still clear a recall floor vs brute force, and returned scores
    must be finite approximate cosines in [-1.5, 1.5] (ADC error can
    push slightly past ±1). Deterministic — both quantizers train from
    sorted-init Lloyd's."""
    from sql_query_engine_spark.functions import pq, similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {}
    for r in similarity.cosine_topk(emb, k=10, n_queries=8).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = pq.ivfpq_topk(emb, k=10, n_queries=8).collect()
    assert got and all(abs(r.approx_cos) < 1.5 for r in got)
    hits = total = 0
    for qid, nbrs in exact.items():
        found = {r.neighbor_id for r in got if r.query_id == qid}
        hits += len(found & nbrs)
        total += len(nbrs)
    recall = hits / total
    assert recall >= 0.2, f"IVF-PQ recall@10 too low: {recall:.2f}"


def test_ivf_adaptive_params(spark):
    """One √N sizing rule behind the pinned and the trained quantizer:
    cells grow with the corpus, probes with √cells, both clamped; the
    trained adaptive path (n_cells=None) sizes its grid by the same rule
    and must still clear the recall floor of the fixed test
    configuration."""
    from sql_query_engine_spark.functions import ivf, similarity

    assert similarity._ivf_grid(100) == (16, 8)  # cell and probe floors
    assert similarity._ivf_grid(1_000_000) == (1000, 31)
    assert similarity._ivf_grid(10) == (2, 2)  # no more cells than vectors
    assert similarity._ivf_grid(10**13) == (65536, 256)  # driver-sized ceiling
    assert similarity._ivf_grid(8) == (0, 1)  # nothing past the query set

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {}
    for r in similarity.cosine_topk(emb, k=10, n_queries=8).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = ivf.ivf_topk(emb, k=10, n_queries=8, n_cells=None, n_probe=None).collect()
    hits = total = 0
    for qid, nbrs in exact.items():
        ivf_nbrs = {r.neighbor_id for r in got if r.query_id == qid}
        hits += len(ivf_nbrs & nbrs)
        total += len(nbrs)
    assert total and hits / total >= 0.3, f"adaptive recall too low: {hits}/{total}"


def test_trained_ivf_with_centroids_builds_lazily(spark):
    """Given its centroids, ivf.ivf_topk builds with no Spark job and
    no persisted RDD on either assignment kernel: the centroid table is
    a literal relation, query probes are computed in-plan, and the
    Arrow kernel reads the driver-side matrix."""
    import uuid

    from sql_query_engine_spark.functions import ivf, similarity

    sc = spark.sparkContext
    emb = load_table(spark, SF_DIR, "embeddings")
    vecs = [list(r.embedding) for r in emb.orderBy("vec_id").limit(
        similarity.IVF_ARROW_MIN_CELLS).collect()]
    persisted = len(sc._jsc.getPersistentRDDs())
    for n_cells in (16, similarity.IVF_ARROW_MIN_CELLS):
        group = f"ivf-lazy-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "trained ivf build")
        try:
            df = ivf.ivf_topk(emb, k=10, n_queries=8, centroids=vecs[:n_cells])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0, n_cells
        assert len(sc._jsc.getPersistentRDDs()) == persisted, n_cells
        stages = df._jdf.queryExecution().executedPlan().toString().count("MapInPandas")
        assert stages == (n_cells >= similarity.IVF_ARROW_MIN_CELLS), n_cells
        assert df.count() == 80, n_cells


def test_asof_join_semantics(spark):
    """Hand-built cases: exact-tie inclusion, no-preceding-match NULL,
    same-timestamp right-side tiebreak, per-key isolation."""
    from sql_query_engine_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, 100, "e1"),   # after r@50 → picks r2 (tiebreak over r1)
            (1, 50, "e2"),    # exact tie with right t=50 → included
            (1, 10, "e3"),    # before all rights → NULL
            (2, 100, "e4"),   # key 2 has its own rights
            (3, 100, "e5"),   # key 3 has none → NULL
        ],
        "k long, t long, eid string",
    )
    right = spark.createDataFrame(
        [
            (1, 50, 7, 700.0),
            (1, 50, 9, 900.0),   # same (key, t): tiebreak max id=9 wins
            (1, 99, 5, 500.0),
            (2, 20, 3, 300.0),
        ],
        "k long, t long, rid long, val double",
    )
    out = {
        r.eid: (r.rid, r.val)
        for r in asof_join(
            left, right, "k", "k", "t", "t", ["rid", "val"], tiebreak="rid"
        ).collect()
    }
    assert out == {
        "e1": (5, 500.0),
        "e2": (9, 900.0),
        "e3": (None, None),
        "e4": (3, 300.0),
        "e5": (None, None),
    }


def test_global_row_number_matches_window(spark):
    """Two-pass range rank (operators/rank.py) must equal the global
    window's row_number on a total order — same numbers, no global sort."""
    from pyspark.sql import Window

    from sql_query_engine_spark.operators import rank

    c = load_table(spark, SF_DIR, "customer")
    want = {
        r.c_custkey: r.rn
        for r in c.select(
            "c_custkey",
            F.row_number()
            .over(Window.orderBy("c_acctbal", "c_custkey"))
            .alias("rn"),
        ).collect()
    }
    got = {
        r.c_custkey: r.rn
        for r in rank.global_row_number(
            c, "c_acctbal", "c_custkey", num_partitions=7
        )
        .select("c_custkey", "rn")
        .collect()
    }
    assert got == want


def test_ntile_from_rn_remainder_buckets(spark):
    """ANSI ntile: with n=10, k=4 the bucket sizes are 3,3,2,2 — the
    arithmetic recovery must match Spark's ntile exactly."""
    from pyspark.sql import Window

    from sql_query_engine_spark.operators import rank

    df = spark.range(1, 11).select(F.col("id").alias("v"))
    want = [
        (r.v, r.q)
        for r in df.select(
            "v", F.ntile(4).over(Window.orderBy("v")).alias("q")
        ).collect()
    ]
    got = [
        (r.v, r.q)
        for r in df.select(
            "v",
            rank.ntile_from_rn(F.col("v"), F.lit(10), 4).alias("q"),
        ).collect()
    ]
    assert sorted(got) == sorted(want)


def test_band_index_parquet_roundtrip_probe(spark, tmp_path):
    """The persisted-index ingest flow: minhash_bands → parquet →
    reload → probe must yield exactly the DuckDB oracle's pairs for the
    same split."""
    import duckdb

    from sql_query_engine_spark.catalog import table_path
    from sql_query_engine_spark.functions import dedup

    docs = load_table(spark, SF_DIR, "documents")
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    known = docs.filter(F.col("doc_id") % 2 == 0)

    idx_path = str(tmp_path / "band_index")
    dedup.minhash_bands(known).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    got = {
        (r.new_doc, r.known_doc, r.jaccard)
        for r in dedup.probe_band_index(new_batch, idx).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{table_path(SF_DIR, 'documents')}'"
    )
    want = set(
        con.sql(dedup.incremental_neardup_oracle("% 2 = 1", "% 2 = 0")).fetchall()
    )
    assert got == want and len(want) > 0


# -------------------------------------------------------------------------
# Bloom-filter semi-join (operators/bloom.py)
# -------------------------------------------------------------------------

def test_bloom_probe_no_false_negatives_and_bounded_fp(spark):
    """Every bloomed key must pass the probe (zero false negatives —
    Bloom's hard guarantee); disjoint keys pass at ≈ the design fpp."""
    from sql_query_engine_spark.operators.bloom import bloom_bitmap, bloom_probe

    dim = spark.range(0, 2_000).select((F.col("id") * 2).alias("k"))  # evens
    bm = bloom_bitmap(dim, "k")
    members = spark.range(0, 2_000).select((F.col("id") * 2).alias("k"))
    assert bloom_probe(members, "k", bm).count() == 2_000

    non_members = spark.range(0, 20_000).select((F.col("id") * 2 + 1).alias("k"))
    fp = bloom_probe(non_members, "k", bm).count()
    # m=2^17, k=5, n=2000 → theoretical fpp ≈ 2e-6; allow generous slack
    assert fp <= 20, f"false-positive count {fp} far above design rate"


def test_bloom_semi_join_equals_plain_semi_join(spark):
    from sql_query_engine_spark.operators.bloom import bloom_semi_join

    li = load_table(spark, SF_DIR, "lineitem")
    p = load_table(spark, SF_DIR, "part").filter(F.col("p_size") <= 3)
    plain = li.join(p, li["l_partkey"] == p["p_partkey"], "left_semi")
    bloomed = bloom_semi_join(li, p, "l_partkey", "p_partkey")
    assert plain.count() == bloomed.count()
    assert plain.exceptAll(bloomed).count() == 0
    assert bloomed.exceptAll(plain).count() == 0


def test_bloom_probe_prefilters_before_exact_join(spark):
    """The probe must genuinely shrink the fact stream: with a selective
    dim, survivors ≪ fact rows (this is the shuffle the sketch saves)."""
    from sql_query_engine_spark.operators.bloom import bloom_bitmap, bloom_probe

    li = load_table(spark, SF_DIR, "lineitem")
    p = load_table(spark, SF_DIR, "part").filter(F.col("p_size") <= 3)
    bm = bloom_bitmap(p.select("p_partkey"), "p_partkey")
    survivors = bloom_probe(li, "l_partkey", bm).count()
    total = li.count()
    exact = li.join(p, li["l_partkey"] == p["p_partkey"], "left_semi").count()
    assert exact <= survivors < total * 0.5


# -------------------------------------------------------------------------
# Distributed PCA (functions/pca.py)
# -------------------------------------------------------------------------

def test_pca_matches_numpy_full_solution(spark):
    """The distributed Gram/eigh pipeline must reproduce numpy's full
    PCA on the collected corpus: per-component |cosine| ≈ 1 and the
    projections equal up to the deterministic sign convention."""
    import numpy as np

    from sql_query_engine_spark.functions.pca import (
        pca_project,
        principal_components,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    comps, mean = principal_components(emb, dim=64, k=2)

    rows = emb.select("vec_id", "embedding").collect()
    x = np.asarray([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    ids = np.asarray([r["vec_id"] for r in rows])
    xc = x - x.mean(axis=0)
    cov = xc.T @ xc / len(x)
    _, vecs = np.linalg.eigh(cov)
    for j in range(2):
        cos = abs(float(np.dot(comps[j], vecs[:, -(j + 1)])))
        assert cos > 0.9999, f"component {j}: |cos|={cos}"
    assert abs(np.linalg.norm(comps[0]) - 1) < 1e-9

    got = {
        r["vec_id"]: (r["pc1_r6"], r["pc2_r6"])
        for r in pca_project(emb, dim=64, k=2).collect()
    }
    order = np.argsort(ids)
    proj1 = xc[order] @ comps[0]
    proj2 = xc[order] @ comps[1]
    for vid, p1, p2 in zip(ids[order], proj1, proj2):
        g1, g2 = got[int(vid)]
        assert abs(g1 - p1) < 1e-4, (vid, g1, p1)
        assert abs(g2 - p2) < 1e-4, (vid, g2, p2)


def test_pca_deterministic_across_partitionings(spark):
    """Partial sums are combined in fixed (idx, pid) order, so a hostile
    repartition must not move a single rounded projection."""
    from pyspark.sql import functions as PF

    from sql_query_engine_spark.functions.pca import pca_project

    emb = load_table(spark, SF_DIR, "embeddings")
    a = sorted(tuple(r) for r in pca_project(emb, dim=64).collect())
    b = sorted(
        tuple(r)
        for r in pca_project(emb.repartition(13, "label"), dim=64).collect()
    )
    assert a == b


def test_pca_contract_flags_hold_and_flip_on_a_broken_model(spark):
    """The r11 hash-checked contract: every flag TRUE on the real model
    and n_vecs exact; and the distributed explained-variance check is a
    real check — projecting onto a deliberately WRONG direction (a
    non-eigenvector) must flip explained_ok, proving the boolean is
    earned from the data, not asserted."""
    import numpy as np

    from sql_query_engine_spark.functions.pca import pca_contract, pca_model

    emb = load_table(spark, SF_DIR, "embeddings")
    row = pca_contract(emb, dim=64, k=2).collect()[0]
    assert row.n_vecs == emb.count()
    assert (row.dim, row.k) == (64, 2)
    for flag in (
        "orthonormal",
        "sign_fixed",
        "eig_descending",
        "explained_ok",
        "recon_ok",
    ):
        assert getattr(row, flag) is True, flag

    # adversarial leg: eigenvalues claimed for components that are NOT
    # the eigenvectors → the distributed variance measurement disagrees
    comps, mean, eigvals, trace, n = pca_model(emb, dim=64, k=2)
    from unittest import mock

    rot = comps.copy()
    theta = 0.7
    rot[0] = np.cos(theta) * comps[0] + np.sin(theta) * comps[1]
    rot[1] = -np.sin(theta) * comps[0] + np.cos(theta) * comps[1]
    for i in range(2):
        if rot[i][np.argmax(np.abs(rot[i]))] < 0:
            rot[i] = -rot[i]
    with mock.patch(
        "sql_query_engine_spark.functions.pca.pca_model",
        return_value=(rot, mean, eigvals, trace, n),
    ):
        broken = pca_contract(emb, dim=64, k=2).collect()[0]
    assert broken.explained_ok is False


def test_asof_forward_on_hand_built_rows(spark):
    """Forward as-of semantics on a tiny explicit fixture: earliest right
    row at-or-after each left timestamp, per key; tolerance bounds the
    lookahead; ties at equal t match (inclusive)."""
    from sql_query_engine_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 40), (2, 5)], "k long, t long"
    )
    right = spark.createDataFrame(
        [(1, 9, "a"), (1, 25, "b"), (1, 30, "c"), (2, 50, "d")],
        "rk long, rt long, v string",
    )
    out = {
        (r["k"], r["t"]): r["v"]
        for r in asof_join(
            left, right, "k", "rk", "t", "rt", ["v"], tiebreak="v",
            direction="forward",
        ).collect()
    }
    assert out == {(1, 10): "b", (1, 25): "b", (1, 40): None, (2, 5): "d"}

    bounded = {
        (r["k"], r["t"]): r["v"]
        for r in asof_join(
            left, right, "k", "rk", "t", "rt", ["v"], tiebreak="v",
            direction="forward", tolerance=10,
        ).collect()
    }
    assert bounded == {(1, 10): None, (1, 25): "b", (1, 40): None, (2, 5): None}


def test_random_projection_is_map_only_and_preserves_distance(spark):
    """JL projection: zero exchanges in the plan (scan-speed at 100 TB),
    and pairwise distances are preserved within JL distortion on a
    sample — the property the reduced vectors are useful FOR."""
    import math

    from sql_query_engine_spark.functions.similarity import RP_OUT_DIM, random_projection

    emb = load_table(spark, SF_DIR, "embeddings")
    proj = random_projection(emb)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    sample = emb.filter(F.col("vec_id") < 12).collect()
    prows = {r.vec_id: [r[f"p{j}"] for j in range(RP_OUT_DIM)]
             for r in proj.filter(F.col("vec_id") < 12).collect()}
    embs = {r.vec_id: list(r.embedding) for r in sample}
    ids = sorted(embs)
    distortions = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            d_hi = math.dist(embs[a], embs[b])
            d_lo = math.dist(prows[a], prows[b])
            if d_hi > 1e-9:
                distortions.append(d_lo / d_hi)
    # with out_dim=8 the JL distortion is loose; the MEAN ratio must sit
    # near 1 (unbiasedness) even though individual pairs wobble
    mean = sum(distortions) / len(distortions)
    assert 0.7 < mean < 1.3, mean


def test_nearest_event_join_vs_bruteforce(spark):
    """Every purchase's nearest click (either direction, ties → earlier)
    re-derived by brute force in Python."""
    from sql_query_engine_spark.queries import join_nearest_event

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.expr("ts DIV 1000").alias("t"), "event_type"
    ).collect()
    clicks_by_user: dict[int, list] = {}
    for r in ev:
        if r.event_type == "click":
            clicks_by_user.setdefault(r.user_id, []).append((r.t, r.event_id))
    # dedup per (user, t): max event_id wins, mirroring the operator
    for u, cs in clicks_by_user.items():
        best: dict[int, int] = {}
        for t, eid in cs:
            best[t] = max(best.get(t, -1), eid)
        clicks_by_user[u] = sorted(best.items())

    expected = {}
    for r in ev:
        if r.event_type != "purchase":
            continue
        cs = clicks_by_user.get(r.user_id, [])
        back = max(((t, e) for t, e in cs if t <= r.t), default=None)
        fwd = min(((t, e) for t, e in cs if t >= r.t), default=None)
        if back is None and fwd is None:
            expected[r.event_id] = (None, None)
        elif back is not None and (fwd is None or r.t - back[0] <= fwd[0] - r.t):
            expected[r.event_id] = (back[1], back[0] - r.t)
        else:
            expected[r.event_id] = (fwd[1], fwd[0] - r.t)

    got = {r.event_id: (r.nearest_click_id, r.delta_us)
           for r in join_nearest_event(spark, SF_DIR).collect()}
    assert got == expected


def test_scd2_intervals_are_contiguous_and_complete(spark):
    """Per-user SCD2 intervals: versions are 1..n, each interval closes
    exactly at the next one's open, and the state sequence equals the
    run-length-collapsed event stream."""
    from sql_query_engine_spark.queries import pipeline_scd2

    out = pipeline_scd2(spark, SF_DIR).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.expr("ts DIV 1000").alias("t"), "event_type", "event_id"
    ).collect()
    stream: dict[int, list] = {}
    for r in ev:
        stream.setdefault(r.user_id, []).append((r.t, r.event_id, r.event_type))

    for u, rows in by_user.items():
        rows.sort(key=lambda r: r.version)
        assert [r.version for r in rows] == list(range(1, len(rows) + 1))
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to_us == b.valid_from_us
        assert rows[-1].valid_to_us is None
        # run-length collapse of the true stream
        states = []
        for _, _, et in sorted(stream[u]):
            if not states or states[-1] != et:
                states.append(et)
        assert [r.state for r in rows] == states


def test_hll_partials_merge_grouping_invariant_and_accurate(spark):
    """The sketch-partials contract: merging per-source partials must
    estimate the same cardinality as merging a strictly FINER
    partitioning of the same rows to within ±2% (the bounded grouping
    consistency that makes stored sketch tables re-aggregable along
    any dimension), and the merged estimate must sit within HLL error
    of the exact count. (Exact equality is deliberately NOT the law:
    DataSketches serves direct sketches from the HIP estimator and
    unions from the composite estimator, and HLL_4 union states differ
    by ±1 count with promotion timing — r11's sf0.1 sweep caught both
    at dense-mode cardinalities.)"""
    from sql_query_engine_spark.queries import agg_hll_partial_merge

    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        r.lang: r.n
        for r in docs.groupBy("lang")
        .agg(F.count_distinct("doc_id").alias("n"))
        .collect()
    }
    contract = {r.lang: r for r in agg_hll_partial_merge(spark, SF_DIR).collect()}
    assert set(contract) == set(exact)
    for lang, n in exact.items():
        row = contract[lang]
        assert row.merge_consistent, lang  # coarse-merge ≡ finer-merge
        assert row.within_bound, (lang, n)
        assert row.exact_docs == n, lang


def test_source_authority_pagerank_vs_python(spark):
    """PageRank re-derived in pure Python from the same edge weights:
    per-node scores match to 1e-9, mass is conserved, and a syndication
    hub out-ranks an isolated source."""
    from sql_query_engine_spark.functions import dedup
    from sql_query_engine_spark.queries import (
        _PR_ITERS,
        pipeline_source_authority,
    )

    docs = load_table(spark, SF_DIR, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    w: dict[tuple[str, str], int] = {}
    for r in pairs.collect():
        a, b = src[r.doc_a], src[r.doc_b]
        if a != b:
            w[(a, b)] = w.get((a, b), 0) + 1
            w[(b, a)] = w.get((b, a), 0) + 1
    nodes = sorted({r.source for r in docs.select("source").distinct().collect()})
    n = len(nodes)
    outw = {}
    for (a, _), wt in w.items():
        outw[a] = outw.get(a, 0) + wt
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(_PR_ITERS):
        contrib = {v: 0.0 for v in nodes}
        for (a, b), wt in w.items():
            contrib[b] += pr[a] * wt / outw[a]
        dm = sum(p for v, p in pr.items() if v not in outw)
        pr = {v: 0.15 / n + 0.85 * (contrib[v] + dm / n) for v in nodes}

    got = {r.source: r.authority
           for r in pipeline_source_authority(spark, SF_DIR).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - pr[v]) < 1e-6, (v, got[v], pr[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conservation
    # structure: any connected source out-ranks every isolated one
    isolated = [v for v in nodes if v not in outw]
    connected = [v for v in nodes if v in outw]
    if isolated and connected:
        assert max(got[v] for v in connected) > max(got[v] for v in isolated)


def test_matryoshka_truncate_map_only_and_unit_norm(spark):
    """MRL truncation: zero exchanges (scan-speed map), output prefixes
    are unit-L2, and prefix cosine correlates with full-vector cosine on
    the planted near-dup pairs (the property that makes the prefix a
    valid ANN candidate filter)."""
    import math

    from sql_query_engine_spark.queries import _MRL_DIM, emb_matryoshka_truncate

    out = emb_matryoshka_truncate(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:50]:
        n = math.sqrt(sum(r[f"m{j}"] ** 2 for j in range(_MRL_DIM)))
        assert abs(n - 1.0) < 1e-4, (r.vec_id, n)

    # prefix preserves the near-dup signal IN EXPECTATION: the mean
    # prefix cosine over full-vector near-dup pairs must sit well above
    # the ~0 background mean of unrelated pairs. (Per-pair guarantees
    # need MRL *training* to front-load information; on raw vectors the
    # prefix is an unbiased 1/4 subsample, so only the mean is pinned.)
    from sql_query_engine_spark.functions import dedup

    emb = load_table(spark, SF_DIR, "embeddings")
    pairs = dedup.embedding_neardup_pairs(emb, threshold=0.45).collect()
    pref = {r.vec_id: [r[f"m{j}"] for j in range(_MRL_DIM)] for r in rows}
    if pairs:
        sims = [
            sum(a * b for a, b in zip(pref[p.vec_a], pref[p.vec_b]))
            for p in pairs
            if p.vec_a in pref and p.vec_b in pref
        ]
        background = [
            sum(a * b for a, b in zip(pref[i], pref[i + 250]))
            for i in range(0, 100)
        ]
        mean_s = sum(sims) / len(sims)
        mean_b = sum(background) / len(background)
        assert mean_s > mean_b + 0.2, (mean_s, mean_b)


def test_span_rehearsal_small(spark):
    """The substring-span rehearsal at pytest scale (5k docs): every
    planted pair found with the exact 99-token prefix span, nothing
    else; run_span_rehearsal raises AssertionError itself on any
    violation."""
    from sql_query_engine_spark.rehearsal import run_span_rehearsal

    report = run_span_rehearsal(spark, n_docs=5_000)
    assert report["pairs_found"] == report["pairs_expected"] == 500
    assert report["spans_at_keep"] + report["boundary_collision_spans"] == 500
    assert report["boundary_collision_spans"] <= report["collision_bound"]


def test_batch_survives_task_failure(tmp_path):
    """Batch-side fault-injection soak (r8 verdict #4), mirroring
    test_streaming_survives_task_failure: the dedup pipeline (banded
    LSH + the localCheckpoint-truncated connected-components loop) and
    the Arrow media-decode stage must each survive one injected
    transient task failure and produce results identical to the clean
    run. Subprocess because task retries need a maxFailures>1 master
    (local[4,3])."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tests", "batch_retry_script.py"),
            SF_DIR,
            str(tmp_path),
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=500,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["dedup_failure_injected"] is True
    assert report["decode_failure_injected"] is True
    assert report["dedup_equal"] is True
    assert report["decode_equal"] is True


def test_ivf_sampled_recall_separates_corpora(spark):
    """ivf_sampled_recall — the pre-build structure diagnostic — must
    separate the two rehearsal geometries with the documented decision
    margins: clustered lands in the build zone (>= 0.6), uniform in the
    fallback zone (< 0.4). Calibration against the full rehearsals is
    recorded in the docstring and REHEARSAL_r09_ivf_uniform.json."""
    from sql_query_engine_spark.functions import similarity
    from sql_query_engine_spark.rehearsal import (
        synth_clustered_embeddings,
        synth_embeddings,
    )

    n = 50_000
    clustered = similarity.ivf_sampled_recall(
        synth_clustered_embeddings(spark, n), sample_mod=10
    )
    uniform = similarity.ivf_sampled_recall(
        synth_embeddings(spark, n), sample_mod=10
    )
    assert clustered >= 0.6, clustered
    assert uniform < 0.4, uniform
    # tiny corpora: pruning is moot, the diagnostic must not block
    assert similarity.ivf_sampled_recall(
        synth_embeddings(spark, 30)
    ) == 1.0


def test_ann_planner_chooses_correctly(spark, monkeypatch):
    """ann_plan (r9 verdict #3: the calibrated IVF decision rule as
    ENGINE behavior, not a docstring) must dispatch per the measured
    thresholds: clustered corpora build IVF at the sqrt(N) point;
    uniform corpora either widen probes to >=50% of cells (amortized
    index — still beats the float full scan per REHEARSAL_r09_ivf_
    uniform.json) or take the Hamming prefilter (one-off batch);
    degenerate corpora are exact."""
    from sql_query_engine_spark.functions import similarity
    from sql_query_engine_spark.rehearsal import (
        synth_clustered_embeddings,
        synth_embeddings,
    )

    n = 50_000
    p_c = similarity.ann_plan(synth_clustered_embeddings(spark, n))
    assert p_c["strategy"] == "ivf", p_c
    assert p_c["est_recall"] >= 0.6

    uniform = synth_embeddings(spark, n)
    p_u = similarity.ann_plan(uniform)
    assert p_u["strategy"] == "ivf_wide", p_u
    assert p_u["n_probes"] >= len(p_u["centroid_ids"]) // 2

    # one-off uniform batches are cost-modeled (r11): under the n·d
    # boundary the exact int8 scan dominates the hamming prefilter
    # locally (recall 1.0 at ~the same wall time), so the planner says
    # exact; only an I/O-bound corpus past the boundary falls back to
    # the 8-bytes-per-vector prefilter
    p_u1 = similarity.ann_plan(uniform, amortized=False)
    assert p_u1["strategy"] == "exact", p_u1
    assert p_u1["reason"] == "uniform-oneoff-cpu-bound"

    monkeypatch.setattr(similarity, "ANN_EXACT_ND_THRESHOLD", 0)
    p_u1_big = similarity.ann_plan(uniform, amortized=False)
    assert p_u1_big["strategy"] == "hamming", p_u1_big
    assert p_u1_big["reason"] == "uniform-oneoff-io-bound"

    p_tiny = similarity.ann_plan(synth_embeddings(spark, 9))
    assert p_tiny["strategy"] == "exact"
    assert p_tiny["reason"] == "degenerate-grid"


def test_ann_topk_dispatch_contract_and_recall(spark):
    """Every ann_topk strategy returns the same (query_id, neighbor_id,
    dot, rank) contract with identical int8 scoring — only candidate
    generation differs — and the approximate strategies recall most of
    the exact top-k on their intended geometry."""
    from sql_query_engine_spark.functions import similarity
    from sql_query_engine_spark.rehearsal import (
        synth_clustered_embeddings,
        synth_embeddings,
    )

    k, nq = 10, 8

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    clustered = synth_clustered_embeddings(spark, 20_000)
    exact = similarity.int8_topk(clustered, k=k, n_queries=nq)
    plan = similarity.ann_plan(clustered, k=k, n_queries=nq)
    assert plan["strategy"] == "ivf"
    got = similarity.ann_topk(clustered, k=k, n_queries=nq, plan=plan)
    # the √N grid (~141 cells) is past IVF_ARROW_MIN_CELLS: exactly one
    # Arrow assignment stage and no SQL argmin fold over the corpus
    assert len(plan["centroid_ids"]) >= similarity.IVF_ARROW_MIN_CELLS
    executed = got._jdf.queryExecution().executedPlan().toString()
    assert executed.count("MapInPandas") == 1
    assert "min(struct(dist" not in executed
    assert got.columns == exact.columns == [
        "query_id", "neighbor_id", "dot", "rank",
    ]
    ref = pairs(exact)
    recall = len(pairs(got) & ref) / len(ref)
    assert recall >= 0.9, recall

    # hamming prefilter on a uniform one-off batch: same contract,
    # candidates from the 64-bit sign-code prefilter, exact int8 rescore
    uniform = synth_embeddings(spark, 20_000)
    ham = similarity.hamming_prefilter_topk(uniform, k=k, n_queries=nq)
    assert ham.columns == ["query_id", "neighbor_id", "dot", "rank"]
    ref_u = pairs(similarity.int8_topk(uniform, k=k, n_queries=nq))
    recall_u = len(pairs(ham) & ref_u) / len(ref_u)
    assert recall_u >= 0.5, recall_u
    # identical scoring arithmetic: any pair both paths return must
    # carry the same bigint dot
    j = ham.alias("h").join(
        similarity.int8_topk(uniform, k=k, n_queries=nq).alias("e"),
        ["query_id", "neighbor_id"],
    )
    assert j.filter(F.col("h.dot") != F.col("e.dot")).count() == 0


def test_approx_quantile_rank_contract_is_earned(spark):
    """agg_approx_quantile_bounded: on real data every flag is TRUE and
    n matches; adversarially substituting a wrong 'estimate' flips the
    right flag — a value above the whole group breaks the rank bound,
    and an interpolated non-member (the classic continuous-percentile
    bug GK must never exhibit) breaks is_group_member while leaving the
    rank bound intact. The booleans discriminate; they are not
    tautologies."""
    from sql_query_engine_spark.queries import agg_approx_quantile_bounded

    li = load_table(spark, SF_DIR, "lineitem")
    exact = {r.l_returnflag: r.n
             for r in li.groupBy("l_returnflag")
             .agg(F.count("*").alias("n")).collect()}
    rows = {r.l_returnflag: r
            for r in agg_approx_quantile_bounded(spark, SF_DIR).collect()}
    assert set(rows) == set(exact)
    for flag, r in rows.items():
        assert r.is_group_member and r.within_rank_bound, flag
        assert r.n == exact[flag]

    def contract(med_by_flag):
        acc = 100
        fake = spark.createDataFrame(
            [(k, float(v)) for k, v in med_by_flag.items()],
            "l_returnflag string, med double")
        g = (li.join(F.broadcast(fake), "l_returnflag")
             .groupBy("l_returnflag", "med")
             .agg(F.count("*").alias("n"),
                  F.sum((F.col("l_extendedprice") < F.col("med"))
                        .cast("long")).alias("lo"),
                  F.sum((F.col("l_extendedprice") <= F.col("med"))
                        .cast("long")).alias("hi")))
        n, lo, hi = F.col("n"), F.col("lo"), F.col("hi")
        slack, target = n.cast("double") / acc, 0.5 * n.cast("double")
        return {r.l_returnflag: r for r in g.select(
            "l_returnflag", (hi > lo).alias("member"),
            ((lo.cast("double") <= target + slack)
             & (hi.cast("double") >= target - slack)).alias("bound"),
        ).collect()}

    # estimate above every group value: rank interval [n, n] misses
    # the p50 window AND the value is no member
    too_big = {k: 10_000_000.0 for k in exact}
    bad = contract(too_big)
    assert all(not r.member and not r.bound for r in bad.values())

    # interpolated non-member midway between two adjacent distinct
    # values at the true median: rank bound still holds, membership
    # flips — exactly the defect the flag exists to catch
    import bisect

    vals = sorted(float(v[0]) for v in
                  li.select("l_extendedprice").collect())
    mid_i = len(vals) // 2
    lo_v = vals[mid_i]
    hi_v = next(v for v in vals[mid_i:] if v > lo_v)
    fake_mid = {k: (lo_v + hi_v) / 2 for k in exact}
    mixed = contract(fake_mid)
    assert all(not r.member for r in mixed.values())
    assert any(r.bound for r in mixed.values())
