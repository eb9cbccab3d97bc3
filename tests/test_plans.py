"""Optimizer-parity tests: assert Catalyst does what the reference's
hand-written raopt rules did (SURVEY.md §4.1), by inspecting physical
plans — the honest Spark-native replacement for the reference's RA
string-equality tests (tests/test_raopt.py there).

| reference rule (raopt/raopt.py)     | asserted Catalyst behavior        |
|-------------------------------------|-----------------------------------|
| rule_push_down_selections (:97-173) | PushedFilters reach parquet scan  |
| rule_break_up/merge_selections      | single Filter node, conjunctive   |
| rule_introduce_joins (:274-306)     | σ(A×B) plans as a join, no        |
|                                     | CartesianProduct                  |
| (absent) column pruning             | ReadSchema pruned to used columns |
| (absent) join strategy selection    | small dims broadcast              |
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from sql_query_engine_spark.catalog import load_table
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    c = load_table(spark, SF_DIR, "customer")
    df = c.filter(F.col("c_custkey") == 42).select("c_name")
    p = plan_of(df)
    assert "PushedFilters" in p
    assert "EqualTo(c_custkey,42)" in p


def test_column_pruning_reaches_scan(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    p = plan_of(df)
    # ReadSchema contains only the two projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_conjunction_stays_one_filter(spark):
    """raopt breaks conjunctions apart, pushes, then re-merges
    (rules 1+3). Catalyst's plan should show one Filter with the whole
    conjunction pushed to the scan."""
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.filter((F.col("l_quantity") > 30) & (F.col("l_discount") < 0.05))
    p = plan_of(df)
    import re

    filter_nodes = re.findall(r"\(\d+\) Filter", p)
    assert len(filter_nodes) == 1  # one physical Filter node, merged conjunction
    assert "GreaterThan(l_quantity,30" in p
    assert "LessThan(l_discount,0.05" in p


def test_cross_becomes_join(spark):
    """reference rule_introduce_joins: σ_{a=b}(A × B) → A ⋈ B. In Spark,
    an equality predicate over a crossJoin must plan as a hash join, not
    CartesianProduct / BroadcastNestedLoop."""
    c = load_table(spark, SF_DIR, "customer")
    n = load_table(spark, SF_DIR, "nation")
    df = c.crossJoin(n).filter(F.col("c_nationkey") == F.col("n_nationkey"))
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "NestedLoop" not in p
    assert "Join" in p


def test_small_dims_broadcast(spark):
    """nation/region must broadcast under the session's threshold — no
    shuffle of the fact side's join keys."""
    c = load_table(spark, SF_DIR, "customer")
    n = load_table(spark, SF_DIR, "nation")
    r = load_table(spark, SF_DIR, "region")
    df = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey")
    )
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_theta_residual_keeps_hash_join(spark):
    """Mixed equi+theta condition: the equi part must still plan a hash
    join with the theta residual as a post-condition — not degrade to a
    nested loop over the full cross space."""
    c = load_table(spark, SF_DIR, "customer").alias("c")
    s = load_table(spark, SF_DIR, "supplier").alias("s")
    df = c.join(
        s,
        (F.col("c.c_nationkey") == F.col("s.s_nationkey"))
        & (F.col("c.c_acctbal") < F.col("s.s_acctbal")),
    )
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "ShuffledHashJoin" in p or "SortMergeJoin" in p


def test_global_topk_avoids_full_sort(spark):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    heap), not a global Sort."""
    o = load_table(spark, SF_DIR, "orders")
    df = o.orderBy(F.col("o_totalprice").desc()).limit(10)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p


def test_whole_stage_codegen_on_agg_path(spark):
    """The TPC-H Q1 aggregation path must stay inside whole-stage codegen
    (scan → filter → partial agg)."""
    from sql_query_engine_spark.queries import queries

    df = queries()["agg_pricing_summary"](spark, SF_DIR)
    # AQE: codegen annotations only appear once THIS df's plan is finalized
    # (count() would execute a different, derived plan)
    df.collect()
    p = plan_of(df)
    # formatted explain marks codegen stages with "[codegen id : N]"
    assert "codegen id :" in p


def test_inspect_helpers_api(spark):
    """plans.inspect — the public plan-inspection API — agrees with the
    raw explain text used above."""
    from sql_query_engine_spark.plans.inspect import (
        join_strategies,
        pushed_filters,
        read_schema,
    )

    c = load_table(spark, SF_DIR, "customer")
    n = load_table(spark, SF_DIR, "nation")
    df = (
        c.filter(F.col("c_custkey") < 100)
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select("c_custkey", "n_name")
    )
    assert any("c_custkey" in f for f in pushed_filters(df))
    assert set(read_schema(df)) == {"c_custkey", "c_nationkey", "n_nationkey", "n_name"}
    assert join_strategies(df) == ["BroadcastHashJoin"]


def test_partial_aggregation_before_shuffle(spark):
    """groupBy on a low-cardinality key must do map-side partial
    aggregation (HashAggregate appears both below and above the
    exchange)."""
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    p = plan_of(df)
    assert p.count("HashAggregate") >= 2


# Builders that still issue Spark jobs on a repeat build, with the reason.
# Each one is a case for a prepare/build split; the list only shrinks: an
# entry whose repeat build issues no job fails the lazy-construction test.
BUILD_TIME_JOBS = {
    "sim_mmr_rerank": "greedy MMR selection: one collect and localCheckpoint per pick",
    "sql_recursive_cte": "fixpoint iteration: each round materialized by its convergence count()",
    "dedup_clusters": "union-find: count and toPandas of the materialized edge list",
    "dedup_embedding_clusters": "union-find over embedding near-dup pairs (dedup_clusters)",
    "pipeline_dedup_rate_by_source": "union-find over MinHash pairs (dedup_clusters)",
    "pipeline_dedup_keeper": "union-find over MinHash pairs (dedup_clusters)",
    "pipeline_cluster_safe_split": "union-find over MinHash pairs (dedup_clusters)",
    "pipeline_training_data": "union-find over MinHash pairs (dedup_clusters)",
    "sim_ann_topk": "ANN planner diagnostic: collect of the sample statistics",
    "dedup_winnowing": "corpus count() sizing the DISK_ONLY fingerprint persist",
    "join_bloom_semijoin": "Bloom filter built on the driver from a collect",
    "emb_pca_project": "covariance collect for the driver-side eigendecomposition",
    "text_bm25_topk": "lazy localCheckpoint: AQE runs the per-doc shuffle stage to plan its RDD",
    "ref_csv_scan": "writes its CSV fixture, then infers the read-back schema",
    "ref_jsonl_scan": "writes its tagged-JSONL fixture",
    "src_fixed_width_scan": "collects supplier rows to write its fixed-width fixture",
    "src_tbl_scan": "collects nation rows to write its .tbl fixture",
}


# Builders that leave cached plans (Spark's CacheManager) or persisted /
# checkpointed RDDs behind after a build, with the reason. A later build
# whose plan matches a cached one reads the cache, and localCheckpoint
# blocks pile up over warm passes. The list only shrinks: an entry whose
# build leaves nothing fails the lazy-construction test.
BUILD_TIME_STATE = {
    "sql_recursive_cte": "the fixpoint loop keeps its final round's checkpoint blocks",
    "sim_mmr_rerank": "persisted posexploded vectors and per-pick penalty localCheckpoints",
    "text_bm25_topk": "lazy localCheckpoint of the per-doc term table",
    "dedup_winnowing": "DISK_ONLY persist of the fingerprint table",
    "graph_triangle_count": "persisted capped edge list shared by the wedge and closing joins",
}


# Builders whose FIRST build may issue jobs, with the fixture each writes:
# _cached_fixture keeps it in a cache dir shared across processes, so the
# jobs run only where no cached copy exists. A repeat build issues none.
FIXTURE_WRITERS = {
    "src_avro_scan": "orders_avro",
    "src_warc_scan": "documents_warc",
    "src_warc_gz_scan": "documents_warc_gz",
    "src_warc_cdx_fetch": "documents_warc_gz",
    "src_warc_digest_verify": "documents_warc_gz",
    "src_warc_charset_decode": "documents_warc_charsets",
    "src_warc_wat_sidecar": "documents_warc_wat",
    "src_warc_revisit_dedup": "documents_warc_revisits",
    "src_warc_segment_reassembly": "documents_warc_segments",
    "src_warc_cdx_segment_fetch": "documents_warc_segments",
    "src_warc_charset_mislabel": "documents_warc_mislabels",
    "src_warc_charset_east_asian": "documents_warc_charsets_ea",
    "src_warc_request_log": "documents_warc_gz_req",
}


def test_query_construction_is_lazy(spark):
    """Building any registry query must launch NO Spark job and leave no
    cached or persisted state — the registry is a lazy-plan contract.
    Every entry is built twice and the jobs of both builds are counted:
    only FIXTURE_WRITERS may issue jobs on the first build, and no entry
    on the second. After each build Spark's CacheManager and the
    persistent-RDD map must be empty; both are cleared between builds.
    persist() and localCheckpoint(eager=False) register their state at
    build time, so no action is needed to see it. Builders with a
    documented build-time job or leftover state are exempt through
    BUILD_TIME_JOBS / BUILD_TIME_STATE; a new one fails here, and so does
    an exempt entry that no longer needs its exemption."""
    import uuid

    from sql_query_engine_spark.catalog import TABLES
    from sql_query_engine_spark.queries import registry

    sc = spark.sparkContext
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    # warm the table schemas first: the FIRST spark.read.parquet of a file
    # runs a one-time footer-reading job, which is scan setup, not query
    # construction
    for t in TABLES:
        load_table(spark, SF_DIR, t).schema

    names = {q.name for q in registry()}
    assert set(BUILD_TIME_JOBS) <= names, set(BUILD_TIME_JOBS) - names
    assert set(BUILD_TIME_STATE) <= names, set(BUILD_TIME_STATE) - names
    assert set(FIXTURE_WRITERS) <= names, set(FIXTURE_WRITERS) - names

    def clear() -> None:
        spark.catalog.clearCache()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def build(q) -> tuple[int, bool]:
        """(jobs the build issued, whether it left state behind)"""
        clear()
        group = f"lazy-{q.name}-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "lazy construction check")
        try:
            q.spark(spark, SF_DIR)  # build only — no action
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        left = not cache_manager.isEmpty() or len(sc._jsc.getPersistentRDDs()) > 0
        return len(sc.statusTracker().getJobIdsForGroup(group)), left

    eager, stale = {}, {}
    try:
        for q in registry():
            first, left_first = build(q)
            repeat, left_repeat = build(q)
            if q.name in BUILD_TIME_JOBS:
                if not repeat:
                    stale[q.name] = "BUILD_TIME_JOBS entry, repeat build ran no job"
            elif repeat:
                eager[q.name] = ("repeat build", repeat)
            elif first and q.name not in FIXTURE_WRITERS:
                eager[q.name] = ("first build", first)
            left = left_first or left_repeat
            if left and q.name not in BUILD_TIME_STATE:
                eager[q.name] = ("left cached or persisted state", 1)
            elif not left and q.name in BUILD_TIME_STATE:
                stale[q.name] = "BUILD_TIME_STATE entry, build left nothing"
    finally:
        clear()
    assert eager == {}, f"queries ran jobs or left state at construction: {eager}"
    assert stale == {}, f"exemptions no longer needed (remove them): {stale}"


def test_graph_pagerank_job_budget(spark):
    """One graph_pagerank execution runs at most 11 Spark jobs: the edge
    table is deduplicated and partitioned in one exchange that every
    round reuses, the node count is computed once, and each of the five
    power rounds adds one shuffle. A round that re-joined the degree or
    re-broadcast the node count would push it over (the row ran 22)."""
    import uuid

    from sql_query_engine_spark.queries import queries

    sc = spark.sparkContext
    df = queries()["graph_pagerank"](spark, SF_DIR)
    group = f"pagerank-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "graph_pagerank job budget")
    try:
        assert len(df.collect()) == 20
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 11, jobs


def test_ann_query_side_broadcast_skips_corpus_shuffle(spark):
    """The exact top-k scans filter their 8-row query set straight from
    the scan: no Exchange under the query-side BroadcastExchange, so the
    broadcast does not wait on the corpus's round-robin shuffle."""
    from sql_query_engine_spark.queries import queries

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    qs = queries()
    for name in ("sim_ann_topk", "sim_cosine_topk", "sim_int8_topk"):
        buf = io.StringIO()
        with redirect_stdout(buf):
            qs[name](spark, SF_DIR).explain()
        lines = buf.getvalue().splitlines()
        roots = [i for i, line in enumerate(lines) if "BroadcastExchange" in line]
        assert roots, f"{name}: no broadcast query side"
        for i in roots:
            for line in lines[i + 1:]:
                if depth(line) <= depth(lines[i]):
                    break
                assert "Exchange" not in line, f"{name}: {line.strip()}"


def test_sim_rows_push_rank_limit(spark):
    """Every per-query top-k sim_* row plans its row_number <= k filter as
    a map-side WindowGroupLimit, so map tasks forward only partial top-k
    rows per query to the ranking shuffle. The builders share one
    rank-limit helper; a helper that lost the pushdown would still pass
    every oracle row, and fails here instead. The exempt rows never rank
    per query with a filtered row_number."""
    from sql_query_engine_spark.queries import queries

    exempt = {
        # per-modality top-50 and the fused top-k are orderBy+limit
        # (TakeOrderedAndProject); its rank windows are global ones over
        # those few rows
        "sim_hybrid_rrf",
        # greedy MMR picks one row per round with orderBy+limit(1)
        "sim_mmr_rerank",
    }
    qs = queries()
    checked = sorted(n for n in qs if n.startswith("sim_") and n not in exempt)
    assert len(checked) == 10, checked
    assert exempt <= set(qs)
    missing = [
        n for n in checked
        if "WindowGroupLimit"
        not in qs[n](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    ]
    assert missing == []


def test_tpch_suite_is_complete_and_dimension_joins_broadcast(spark):
    """All 22 TPC-H shapes are registered (Q1 lives under its round-1 name
    agg_pricing_summary), and the suite's dimension joins broadcast —
    lineitem/orders/customer are the only shuffle participants."""
    from sql_query_engine_spark.plans.inspect import join_strategies
    from sql_query_engine_spark.queries import queries

    qs = queries()
    tpch = {n for n in qs if n.startswith("tpch_")}
    assert len(tpch) == 21
    assert "agg_pricing_summary" in qs  # the Q1 shape

    # Q9: part (LIKE-filtered), supplier, nation all broadcast; the only
    # non-broadcast joins are the fact-fact lineitem⋈orders shuffle.
    strategies = join_strategies(qs["tpch_q9_product_type_profit"](spark, SF_DIR))
    assert strategies.count("BroadcastHashJoin") >= 3
    assert strategies.count("SortMergeJoin") + strategies.count("ShuffledHashJoin") <= 1

    # Q2: the per-part argmax is a partitioned window, never a global one.
    p = plan_of(qs["tpch_q2_min_cost_supplier"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_tpch_q21_joins_lineitem_orders_once(spark):
    """Q21 reads lineitem once: the per-order supplier and lateness
    counts are window aggregates over the one lineitem⋈orders pass, not
    a grouped aggregate rejoined to it (which scanned and joined twice
    and sort-merge joined the two fact-sized sides). Rows equal the
    DuckDB twin at two scales."""
    import re

    import duckdb

    from sql_query_engine_spark.catalog import TABLES, table_path
    from sql_query_engine_spark.plans.inspect import formatted_plan, join_strategies
    from sql_query_engine_spark.queries import oracle_sql, queries

    name = "tpch_q21_suppliers_kept_waiting"
    df = queries()[name](spark, SF_DIR)
    scans = re.findall(r"Location: \S+ \[[^\]]*/lineitem\.parquet\]", formatted_plan(df))
    assert len(scans) == 1, scans
    assert "SortMergeJoin" not in join_strategies(df)
    for sf_dir in (SF_DIR, SF_DIR.replace("sf0.001", "sf0.01")):
        got = sorted(tuple(r) for r in queries()[name](spark, sf_dir).collect())
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
        want = sorted(tuple(r) for r in con.sql(oracle_sql()[name]).fetchall())
        assert got and got == want, sf_dir


def test_mm_rows_run_one_python_stage(spark):
    """Every mm_* row runs its media work as exactly ONE Python stage
    (MapInPandas node) in the executed plan: synthesize→decode fuse into
    one stage, and feature/frame extraction is one stage of its own.
    mm_payload_dedup hashes in the JVM and has none. A refactor that
    silently splits the fusion doubles every row's Python stages and
    fails here."""
    from sql_query_engine_spark.queries import queries

    qs = queries()
    stages = {
        name: qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan()
        .toString().count("MapInPandas")
        for name in qs if name.startswith("mm_")
    }
    assert len(stages) == 42
    assert stages.pop("mm_payload_dedup") == 0
    assert {n: c for n, c in stages.items() if c != 1} == {}


def test_minhash_rows_sign_map_only(spark):
    """The MinHash dedup rows sign documents with the map-only array_min
    band table: no HashAggregate computes min( signatures, and the final
    executed plan holds no more Exchange/BroadcastExchange nodes than the
    ceilings below (a ReusedExchange does no work and is not counted).
    The explode + groupBy signature path these rows used to mix in gave
    3 / 7 / 3 exchanges here, with 4 min( aggregates in
    dedup_incremental; a refactor that brings it back fails here."""
    import re

    from sql_query_engine_spark.queries import queries

    ceilings = {
        "dedup_minhash_lsh": 2,
        "dedup_incremental": 3,
        "dedup_incremental_stateless": 3,
    }
    qs = queries()
    for name, ceiling in ceilings.items():
        df = qs[name](spark, SF_DIR)
        df.collect()  # AQE settles the final plan only once it runs
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the final plan alone
        tree = plan.toString()
        nodes = re.findall(r"^[\s:+-]*(\w+)", tree, re.M)
        exchanges = sum(n in ("Exchange", "BroadcastExchange") for n in nodes)
        min_aggs = [
            ln for ln in tree.splitlines()
            if "HashAggregate" in ln and re.search(r"\bmin\(", ln)
        ]
        assert min_aggs == [], (name, min_aggs)
        assert exchanges <= ceiling, (name, exchanges, tree)


def test_lsh_rows_skip_the_bucket_shuffle(spark):
    """The LSH rows join the broadcast query set to the corpus map-side
    on the bucket, so the final executed plan holds no hash exchange on
    the bucket and no more Exchange nodes than the ceilings below. The
    bucket repartition these rows used to add was meant to be reused by
    both branches, but Catalyst pushed the query filter below it, so
    nothing was reused (no ReusedExchange) and the corpus was shuffled
    once more: 5 / 6 exchanges here."""
    import re

    from sql_query_engine_spark.queries import queries

    ceilings = {"sim_lsh_ann_topk": 3, "sim_lsh_multiprobe_topk": 4}
    qs = queries()
    for name, ceiling in ceilings.items():
        df = qs[name](spark, SF_DIR)
        df.collect()  # AQE settles the final plan only once it runs
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the final plan alone
        tree = plan.toString()
        nodes = re.findall(r"^[\s:+-]*(\w+)", tree, re.M)
        assert "hashpartitioning(bucket" not in tree, (name, tree)
        assert nodes.count("Exchange") <= ceiling, (name, tree)
        assert nodes.count("BroadcastExchange") == 1, (name, tree)


def test_curation_plan_shapes(spark):
    """Plan pins for the curation operators: the mixture filter is
    map-only (zero exchanges), the global shuffle's window is partitioned
    (never a one-task global sort), and decontamination's gram join is a
    real equi-join (no nested-loop / cartesian fallback)."""
    from sql_query_engine_spark.plans.inspect import formatted_plan, join_strategies
    from sql_query_engine_spark.queries import queries

    reg = queries()

    mix = formatted_plan(reg["pipeline_dataset_mixture"](spark, SF_DIR))
    assert "Exchange" not in mix  # pure scan→filter→project

    shuf = formatted_plan(reg["pipeline_global_shuffle"](spark, SF_DIR))
    assert "Window" in shuf
    # every Window node must carry a partition spec (shard key)
    for line in shuf.splitlines():
        if line.strip().startswith("Arguments") and "windowspecdefinition" in line:
            assert "hkey" in line  # partitioned by (hkey % shards)

    decon = reg["pipeline_decontaminate"](spark, SF_DIR)
    strategies = join_strategies(decon)
    assert strategies, "expected a join in the decontamination plan"
    assert all(
        s in {"SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"}
        for s in strategies
    ), strategies

    piv = formatted_plan(reg["agg_native_pivot"](spark, SF_DIR))
    assert "CartesianProduct" not in piv and "BroadcastNestedLoopJoin" not in piv


def test_join_strategy_hints_are_respected(spark):
    """Planner control: strategy hints must override the size heuristics —
    the manual override lever when Catalyst's stats mislead at scale
    (stale statistics, exploding intermediate results)."""
    from sql_query_engine_spark.plans.inspect import join_strategies

    li = load_table(spark, SF_DIR, "lineitem")
    n = load_table(spark, SF_DIR, "nation")
    o = load_table(spark, SF_DIR, "orders")

    # nation is broadcast-sized; the merge hint must force SMJ anyway
    merged = li.join(
        n.hint("merge"), li["l_suppkey"] % 25 == n["n_nationkey"]
    )
    assert "SortMergeJoin" in join_strategies(merged)

    hashed = li.join(o.hint("shuffle_hash"), li["l_orderkey"] == o["o_orderkey"])
    assert "ShuffledHashJoin" in join_strategies(hashed)

    bcast = li.join(o.hint("broadcast"), li["l_orderkey"] == o["o_orderkey"])
    assert "BroadcastHashJoin" in join_strategies(bcast)
