"""Round-trip tests for the reference wire formats (S1/S2) and sinks.

No dependency on the reference repo: our writers produce the formats, our
readers consume them, and the pizza corpus provides the data — typing is
asserted against the dd the same way the reference's pizza_set.json
declares it."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_query_engine_spark.sources import legacy, sinks

PIZZA_DD = {
    "Person": {"name": "string", "age": "integer", "gender": "string"},
    "Serves": {"pizzeria": "string", "pizza": "string", "price": "float"},
}


def test_qualified_csv_roundtrip(spark, pizza, tmp_path):
    path = str(tmp_path / "person_csv")
    legacy.write_qualified_csv(pizza["Person"], path, "Person")
    back = legacy.read_qualified_csv(spark, path, "Person", PIZZA_DD["Person"])
    assert back.columns == ["name", "age", "gender"]
    assert dict(back.dtypes)["age"] == "bigint"  # dd 'integer' is ENFORCED
    assert back.count() == 9
    # qualified access after alias — the reference's row model
    assert back.filter(F.col("Person.age") == 16).count() == 1
    # content equality
    orig = {tuple(r) for r in pizza["Person"].collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == orig


def test_qualified_csv_header_is_qualified(spark, pizza, tmp_path):
    path = tmp_path / "serves_csv"
    legacy.write_qualified_csv(pizza["Serves"], str(path), "Serves")
    header = next(
        line
        for f in sorted(path.glob("part-*.csv"))
        for line in f.read_text().splitlines()[:1]
    )
    assert header == "Serves.pizzeria,Serves.pizza,Serves.price"


def test_tagged_jsonl_roundtrip(spark, pizza, tmp_path):
    path = str(tmp_path / "serves_jsonl")
    legacy.write_tagged_jsonl(pizza["Serves"], path, "Serves")
    back = legacy.read_tagged_jsonl(spark, path, "Serves", PIZZA_DD["Serves"])
    assert back.columns == ["pizzeria", "pizza", "price"]
    assert dict(back.dtypes)["price"] == "double"
    orig = {tuple(r) for r in pizza["Serves"].collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == orig


def test_tagged_jsonl_tag_filtering(spark, pizza, tmp_path):
    """Two relations in one file — the tag selects the right rows, as in
    the reference's mapper tag dispatch."""
    p1 = tmp_path / "mixed" / "person"
    p2 = tmp_path / "mixed" / "serves"
    legacy.write_tagged_jsonl(pizza["Person"], str(p1), "Person")
    legacy.write_tagged_jsonl(pizza["Serves"], str(p2), "Serves")
    mixed = str(tmp_path / "mixed" / "*" / "part-*")
    person = legacy.read_tagged_jsonl(spark, mixed, "Person", PIZZA_DD["Person"])
    serves = legacy.read_tagged_jsonl(spark, mixed, "Serves", PIZZA_DD["Serves"])
    assert person.count() == 9
    assert serves.count() == 18


def test_tagged_jsonl_wire_format(spark, pizza, tmp_path):
    path = tmp_path / "person_jsonl"
    legacy.write_tagged_jsonl(pizza["Person"], str(path), "Person")
    line = next(
        line
        for f in sorted(path.glob("part-*.txt"))
        for line in f.read_text().splitlines()[:1]
    )
    tag, payload = line.split("\t", 1)
    assert tag == "Person"
    import json

    row = json.loads(payload)
    assert set(row) == {"Person.name", "Person.age", "Person.gender"}


def test_tagged_jsonl_drops_malformed_payloads(spark, tmp_path):
    p = tmp_path / "bad.txt"
    p.write_text(
        'Person\t{"Person.name": "Zed", "Person.age": 9, "Person.gender": "male"}\n'
        "Person\tnot-json-at-all\n"
    )
    back = legacy.read_tagged_jsonl(
        spark, str(p), "Person", PIZZA_DD["Person"]
    )
    assert [(r.name, r.age) for r in back.collect()] == [("Zed", 9)]


def test_dd_unknown_type_rejected():
    import pytest

    with pytest.raises(ValueError, match="unknown dd type"):
        legacy.dd_to_schema({"x": "blob"})


def test_partitioned_parquet_sink_prunes(spark, pizza, tmp_path):
    path = str(tmp_path / "serves_part")
    sinks.write_parquet(pizza["Serves"], path, partition_by=["pizzeria"])
    back = spark.read.parquet(path)
    assert back.count() == 18
    # partition pruning: filtering on the partition column reads 1 dir
    import io
    from contextlib import redirect_stdout

    df = back.filter(F.col("pizzeria") == "Dominos")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    assert df.count() == 2


def test_bucketed_tables_join_without_shuffle(spark):
    """Two tables bucketed on the same key must join with NO Exchange in
    the plan — the pre-shuffled co-located layout that makes repeated
    100 TB fact-fact joins shuffle-free."""
    from sql_query_engine_spark.catalog import load_table
    from sql_query_engine_spark.plans.inspect import formatted_plan
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    sinks.write_bucketed_table(li, "b_lineitem", ["l_orderkey"], n_buckets=8)
    sinks.write_bucketed_table(o, "b_orders", ["o_orderkey"], n_buckets=8)

    bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
    joined = bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"]).select(
        "l_orderkey", "l_linenumber", "o_custkey"
    )
    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(joined)
        assert "Exchange" not in plan  # bucket co-location: zero shuffles
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        for t in ("b_lineitem", "b_orders"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sorted_parquet_layout_enables_skipping(spark, tmp_path):
    """Row-group min/max stats of the sorted layout must be narrow,
    near-disjoint ranges (that is what lets readers skip); an unsorted
    write leaves every row group spanning ~the full value range."""
    import pyarrow.parquet as pq

    from sql_query_engine_spark.catalog import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    lo, hi = orders.agg(
        {"o_totalprice": "min"}
    ).first()[0], orders.agg({"o_totalprice": "max"}).first()[0]
    global_span = hi - lo

    def rowgroup_spans(path):
        spans = []
        for f in sorted(path.glob("part-*.parquet")):
            meta = pq.ParquetFile(str(f)).metadata
            idx = next(
                i
                for i in range(meta.num_columns)
                if meta.row_group(0).column(i).path_in_schema == "o_totalprice"
            )
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                spans.append(st.max - st.min)
        return spans

    sorted_path = tmp_path / "orders_sorted"
    sinks.write_sorted_parquet(orders, str(sorted_path), ["o_totalprice"], n_files=8)
    plain_path = tmp_path / "orders_plain"
    orders.repartition(8).write.parquet(str(plain_path))

    sorted_spans = rowgroup_spans(sorted_path)
    plain_spans = rowgroup_spans(plain_path)
    assert len(sorted_spans) >= 8
    # sorted layout: each row group covers a narrow slice of the range
    assert max(sorted_spans) < 0.35 * global_span
    # unsorted: row groups span nearly everything
    assert min(plain_spans) > 0.8 * global_span
    # and the data round-trips
    assert spark.read.parquet(str(sorted_path)).count() == orders.count()


def test_show_sample_returns_count(spark, pizza, capsys):
    n = sinks.show_sample(pizza["Person"], 3)
    assert n == 9
    out = capsys.readouterr().out
    assert "Amy" in out or "name" in out


def test_training_shard_sink_layout(spark, tmp_path):
    """write_training_shards: fixed shard count, every pack in its
    pack_id%n shard directory, files internally ordered by pack_id."""
    from sql_query_engine_spark.functions import chunking, packing
    from sql_query_engine_spark.catalog import load_table
    from tests.conftest import SF_DIR

    chunks = chunking.chunk_documents_sql(load_table(spark, SF_DIR, "documents"))
    packed = packing.pack_chunks(chunks, seq_len=512)
    out = tmp_path / "shards"
    sinks.write_training_shards(packed, str(out), n_shards=4)

    dirs = sorted(p.name for p in out.iterdir() if p.name.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]

    back = spark.read.parquet(str(out))
    assert back.count() == packed.count()
    bad = back.filter(F.pmod(F.col("pack_id"), F.lit(4)) != F.col("shard")).count()
    assert bad == 0


def test_zorder_layout_skips_on_both_columns(spark, tmp_path):
    """Z-ordered lineitem: row-group min/max spans must shrink on BOTH
    z dimensions relative to an unordered write — the property that lets
    a filter on either column skip row groups."""
    import pyarrow.parquet as pq

    from sql_query_engine_spark.catalog import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")

    def spans(path, col):
        out = []
        for f in sorted(path.glob("part-*.parquet")):
            meta = pq.ParquetFile(str(f)).metadata
            idx = next(
                i
                for i in range(meta.num_columns)
                if meta.row_group(0).column(i).path_in_schema == col
            )
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                out.append(st.max - st.min)
        return out

    z_path = tmp_path / "li_z"
    sinks.write_zorder_parquet(li, str(z_path), "l_orderkey", "l_partkey", n_files=8)
    plain_path = tmp_path / "li_plain"
    li.repartition(8).write.parquet(str(plain_path))

    for col in ("l_orderkey", "l_partkey"):
        lo, hi = li.agg(F.min(col), F.max(col)).first()
        g = hi - lo
        z_mean = sum(spans(z_path, col)) / len(spans(z_path, col))
        plain_mean = sum(spans(plain_path, col)) / len(spans(plain_path, col))
        # every z file covers a strict subrange on average; plain spans ~all
        assert z_mean < 0.75 * g, col
        assert z_mean < plain_mean, col

    assert spark.read.parquet(str(z_path)).count() == li.count()


def test_compact_parquet_reduces_files(spark, tmp_path):
    """64 tiny files → compaction to a byte-budgeted handful, same rows."""
    from sql_query_engine_spark.catalog import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    src = tmp_path / "small_files"
    li.repartition(64).write.parquet(str(src))
    assert len(list(src.glob("part-*.parquet"))) == 64

    dst = tmp_path / "compacted"
    n = sinks.compact_parquet(spark, str(src), str(dst), target_file_bytes=10 * 1024 * 1024)
    files = list(dst.glob("part-*.parquet"))
    assert len(files) == n
    assert n < 8
    assert spark.read.parquet(str(dst)).count() == li.count()


def test_read_tbl_dbgen_format(spark, tmp_path):
    """TPC-H dbgen .tbl ingestion (reference utils/tbl_to_csv.py:6):
    pipe-separated, no header, trailing '|' per line — schema enforced at
    the scan, trailing empty token dropped."""
    p = tmp_path / "NATION.tbl"
    p.write_text(
        "0|ALGERIA|0|haggle. carefully final deposits|\n"
        "1|ARGENTINA|1|al foxes promise slyly|\n"
    )
    dd = {
        "n_nationkey": "int",
        "n_name": "string",
        "n_regionkey": "int",
        "n_comment": "string",
    }
    df = legacy.read_tbl(spark, str(p), "NATION", dd)
    rows = df.orderBy("n_nationkey").collect()
    assert len(rows) == 2
    assert rows[0].n_nationkey == 0 and rows[0].n_name == "ALGERIA"
    assert rows[1].n_comment == "al foxes promise slyly"
    assert dict(df.dtypes)["n_regionkey"] == "bigint"  # dd 'int' → LongType
    # qualified access works like every other legacy reader
    assert df.select(F.col("NATION.n_name")).count() == 2


def test_orc_roundtrip_pushdown_and_pruning(spark, tmp_path):
    """ORC sink/scan parity with the parquet path: values round-trip
    exactly, a data-column filter reaches the ORC scan as PushedFilters,
    and a partition-column filter prunes directories."""
    from sql_query_engine_spark.catalog import load_table
    from sql_query_engine_spark.plans.inspect import formatted_plan
    from tests.conftest import SF_DIR

    n = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_orc")
    sinks.write_orc(n, path, partition_by=["n_regionkey"])
    back = spark.read.orc(path)
    orig = sorted(tuple(r) for r in n.select("n_nationkey", "n_name").collect())
    got = sorted(tuple(r) for r in back.select("n_nationkey", "n_name").collect())
    assert got == orig

    pruned = back.filter(F.col("n_regionkey") == 1)
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan and "n_regionkey" in plan

    pushed = back.filter(F.col("n_nationkey") < 5)
    plan2 = formatted_plan(pushed)
    assert "PushedFilters" in plan2 and "n_nationkey" in plan2
    assert pushed.count() == n.filter("n_nationkey < 5").count()


# -------------------------------------------------------------------------
# Python DataSource API: registered tagged_jsonl format (sources/pyds.py)
# -------------------------------------------------------------------------

def _registered_read(spark, path, relation):
    import json as _json

    from sql_query_engine_spark.sources.pyds import register_tagged_jsonl

    register_tagged_jsonl(spark)
    return (
        spark.read.format("tagged_jsonl")
        .option("relation", relation)
        .option("dd", _json.dumps(PIZZA_DD[relation]))
        .load(path)
    )


def test_pyds_tagged_jsonl_equals_legacy_reader(spark, pizza, tmp_path):
    path = str(tmp_path / "serves_pyds")
    legacy.write_tagged_jsonl(pizza["Serves"], path, "Serves")
    via_ds = _registered_read(spark, path, "Serves")
    via_legacy = legacy.read_tagged_jsonl(spark, path, "Serves", PIZZA_DD["Serves"])
    assert via_ds.schema == via_legacy.schema
    a = sorted(tuple(r) for r in via_ds.collect())
    b = sorted(tuple(r) for r in via_legacy.collect())
    assert a == b and len(a) == 18


def test_pyds_partitions_one_per_file(spark, pizza, tmp_path):
    """A sharded directory must scan with file-level parallelism."""
    path = tmp_path / "serves_shards"
    path.mkdir()
    rows = pizza["Serves"].collect()
    import json as _json

    for i in range(3):
        with open(path / f"shard{i}.jsonl", "w") as fh:
            for r in rows[i::3]:
                payload = {f"Serves.{k}": r[k] for k in ("pizzeria", "pizza", "price")}
                fh.write("Serves\t" + _json.dumps(payload) + "\n")
    df = _registered_read(spark, str(path), "Serves")
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 18


def test_pyds_filter_pushdown_matches_post_filter(spark, pizza, tmp_path):
    """Pushed predicates are evaluated INSIDE the source — results must
    equal the unpushed scan + DataFrame filter for every supported shape,
    including the null-rejecting Not semantics."""
    path = str(tmp_path / "serves_push")
    legacy.write_tagged_jsonl(pizza["Serves"], path, "Serves")
    full = _registered_read(spark, path, "Serves")
    baseline = sorted(tuple(r) for r in full.collect())

    cases = [
        F.col("pizzeria") == "Dominos",
        F.col("price") > 8.0,
        F.col("price") <= 6.5,
        F.col("pizza").isin("cheese", "sausage"),
        F.col("pizzeria").startswith("Pizza"),
        F.col("pizzeria").contains("o"),
        F.col("pizzeria") != "Dominos",
        F.col("price").isNotNull(),
    ]
    for cond in cases:
        pushed = sorted(
            tuple(r) for r in _registered_read(spark, path, "Serves").filter(cond).collect()
        )
        # reference semantics: filter applied AFTER a plain full scan
        expect = sorted(
            tuple(r)
            for r in spark.createDataFrame(
                [list(t) for t in baseline], full.schema
            ).filter(cond).collect()
        )
        assert pushed == expect, str(cond)


def test_pyds_malformed_lines_dropped(spark, tmp_path):
    p = tmp_path / "broken.jsonl"
    p.write_text(
        'Person\t{"Person.name": "amy", "Person.age": 16, "Person.gender": "f"}\n'
        "Person\tnot json at all\n"
        'Other\t{"Other.x": 1}\n'
        'Person\t{"Person.name": "ben", "Person.age": "NaNish", "Person.gender": "m"}\n'
    )
    df = _registered_read(spark, str(p), "Person")
    rows = {r["name"]: (r["age"], r["gender"]) for r in df.collect()}
    # malformed JSON dropped; uncastable field nulled; other tags skipped
    assert rows == {"amy": (16, "f"), "ben": (None, "m")}


def test_pyds_stream_reader_incremental_tail(spark, tmp_path):
    """The registered format is also a STREAMING source: two availableNow
    runs against one checkpoint must consume each line exactly once —
    batch 2 sees only the lines (and files) appended after batch 1."""
    import json as _json

    from sql_query_engine_spark.sources.pyds import register_tagged_jsonl

    register_tagged_jsonl(spark)
    src = tmp_path / "person_stream"
    src.mkdir()

    def person_line(name, age):
        return "Person\t" + _json.dumps(
            {"Person.name": name, "Person.age": age, "Person.gender": "x"}
        ) + "\n"

    (src / "a.jsonl").write_text(person_line("amy", 16) + person_line("ben", 21))

    out_dir = str(tmp_path / "pyds_out")

    def run_once():
        stream = (
            spark.readStream.format("tagged_jsonl")
            .option("relation", "Person")
            .option("dd", _json.dumps(PIZZA_DD["Person"]))
            .load(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt_pyds"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["name"], r["age"]) for r in spark.read.parquet(out_dir).collect()
        }

    got1 = run_once()
    assert got1 == {("amy", 16), ("ben", 21)}

    # append to an existing file AND add a new file — both must be tailed
    with open(src / "a.jsonl", "a") as fh:
        fh.write(person_line("cal", 33))
    (src / "b.jsonl").write_text(person_line("dot", 40))
    got2 = run_once()
    assert got2 == {("amy", 16), ("ben", 21), ("cal", 33), ("dot", 40)}


def test_register_dir_discovers_tagged_jsonl(spark, pizza, tmp_path):
    """--data-dir discovery extends to the tagged wire format: a
    <name>.jsonl file with a dd entry registers as a queryable view."""
    from sql_query_engine_spark.catalog import register_dir

    legacy.write_tagged_jsonl(pizza["Serves"], str(tmp_path / "Serves.jsonl"), "Serves")
    pizza["Person"].write.mode("overwrite").parquet(str(tmp_path / "Person.parquet"))
    out = register_dir(spark, str(tmp_path), PIZZA_DD)
    assert set(out) >= {"Serves", "Person"}
    got = spark.sql(
        "SELECT count(*) AS n, round(sum(price), 2) AS total FROM Serves"
    ).collect()[0]
    assert got["n"] == 18
    exp = pizza["Serves"].agg(
        F.round(F.sum("price"), 2).alias("t")
    ).collect()[0]["t"]
    assert got["total"] == exp
    # a jsonl with NO dd entry is skipped, not crashed on
    (tmp_path / "Mystery.jsonl").write_text("Mystery\t{}\n")
    out2 = register_dir(spark, str(tmp_path), PIZZA_DD)
    assert "Mystery" not in out2
    # ORC directories register too
    sinks.write_orc(pizza["Serves"], str(tmp_path / "ServesOrc.orc"))
    out3 = register_dir(spark, str(tmp_path), PIZZA_DD)
    assert spark.sql("SELECT count(*) FROM ServesOrc").collect()[0][0] == 18
    assert "ServesOrc" in out3


def test_schema_evolution_merge_read(spark, tmp_path):
    """A dataset whose later shards added a column must read as the
    unified schema under mergeSchema, with NULLs where the old shards
    have no value — the 100 TB reality of append-only corpora whose
    schema grows over time."""
    base = str(tmp_path / "evolving")
    spark.sql(
        "SELECT id AS doc_id, concat('t', id) AS text FROM range(5)"
    ).write.parquet(base + "/gen=1")
    spark.sql(
        "SELECT id + 10 AS doc_id, concat('t', id + 10) AS text, "
        "cast(id as double) / 10 AS quality FROM range(5)"
    ).write.parquet(base + "/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=1", base + "/gen=2"
    )
    assert set(merged.columns) == {"doc_id", "text", "quality"}
    assert merged.count() == 10
    old = merged.filter(F.col("doc_id") < 10)
    assert old.filter(F.col("quality").isNull()).count() == 5
    new = merged.filter(F.col("doc_id") >= 10)
    assert new.filter(F.col("quality").isNotNull()).count() == 5
    # filters on the evolved column still push down to the scan
    from sql_query_engine_spark.plans.inspect import formatted_plan

    plan = formatted_plan(merged.filter(F.col("quality") > 0.2))
    assert "PushedFilters" in plan and "quality" in plan


def test_load_table_sees_a_table_rewritten_in_place(spark, tmp_path):
    """load_table caches each table's inferred schema, keyed on the file
    itself: a table rewritten in place with new rows and a new column is
    read with its new schema, not the one cached for the old file."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from sql_query_engine_spark.catalog import load_table

    path = str(tmp_path / "shards.parquet")
    papq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "shards").count() == 2
    papq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()), "v": ["a", "b", "c"]}),
        path,
    )
    df = load_table(spark, str(tmp_path), "shards")
    assert df.columns == ["k", "v"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b"), (3, "c")]


def test_csv_quarantine_routes_bad_lines(spark, tmp_path):
    """Malformed lines (wrong arity, bad types) land in the quarantine
    split as raw text; clean lines parse fully; nothing is lost."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sql_query_engine_spark.sources.legacy import read_csv_with_quarantine

    p = tmp_path / "mixed.csv"
    p.write_text(
        "id,name,score\n"
        "1,alice,10\n"
        "2,bob,notanumber\n"      # type failure
        "3,carol,30\n"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", LongType()),
        ]
    )
    good, bad, cached = read_csv_with_quarantine(spark, str(p), schema)
    good_rows = {(r.id, r.name, r.score) for r in good.collect()}
    assert good_rows == {(1, "alice", 10), (3, "carol", 30)}
    bad_lines = sorted(r.raw_line for r in bad.collect())
    assert bad_lines == ["2,bob,notanumber"]
    # conservation: every data line is in exactly one split
    assert good.count() + bad.count() == 3
    # the cache handle lets a long-lived session release the scan
    assert cached.is_cached
    cached.unpersist()
    assert not cached.is_cached


def test_ref_scan_registry_entries_roundtrip(spark):
    """The driver-checkable S1/S2 rows (ref_csv_scan / ref_jsonl_scan)
    reproduce the parquet source exactly through the legacy wire formats."""
    import sys

    import sql_query_engine_spark.queries  # noqa: F401 — populate sys.modules
    q = sys.modules["sql_query_engine_spark.queries"]

    sf_dir = "/root/testdata/sf0.001"
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    got_csv = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in q.ref_csv_scan(spark, sf_dir).collect()
    }
    exp_csv = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in nation.filter("n_regionkey <= 2").collect()
    }
    assert got_csv == exp_csv and got_csv

    got_jsonl = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in q.ref_jsonl_scan(spark, sf_dir).collect()
    }
    exp_jsonl = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in nation.filter("n_regionkey >= 3").collect()
    }
    assert got_jsonl == exp_jsonl and got_jsonl


def test_avro_roundtrip_and_corruption(spark, tmp_path):
    """From-spec Avro OCF: byte-level write→read round-trip preserves
    longs (incl. negative zigzag), IEEE doubles, and UTF-8 strings;
    corrupt magic/sync/codec raise with the path."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.avro import (
        decode_avro_bytes,
        read_avro,
        write_avro_bytes,
        write_avro_dataset,
    )

    fields = [("k", "long"), ("x", "double"), ("s", "string")]
    rows = [(-(2 ** 40), 3.141592653589793, "héllo"),
            (0, -0.0, ""), (2 ** 40, 1e300, "x" * 100)]
    data = write_avro_bytes("t", fields, rows, block_rows=2)  # 2 blocks
    got_fields, got_rows = decode_avro_bytes(data)
    assert got_fields == fields
    assert got_rows == rows
    assert struct_eq(got_rows[1][1], -0.0)

    with _pytest.raises(ValueError):
        decode_avro_bytes(b"XXXX" + data[4:])
    bad = bytearray(data)
    bad[-1] ^= 0xFF  # final sync marker
    with _pytest.raises(ValueError):
        decode_avro_bytes(bytes(bad))

    df = spark.createDataFrame(rows, "k long, x double, s string")
    out = str(tmp_path / "avro_ds")
    write_avro_dataset(df, out, "t", fields, n_files=2)
    back = sorted(map(tuple, read_avro(spark, f"{out}/*.avro", fields).collect()))
    assert back == sorted(rows)


def test_warc_roundtrip_and_framing_defects(spark, tmp_path):
    """WARC record walk: multi-record, multi-byte-UTF-8 round-trip
    preserves doc ids, URIs, byte lengths and payload text; framing
    defects (bad version, truncation, broken terminator, missing
    Content-Length) raise with the path."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        build_warc_record,
        decode_warc_bytes,
        read_warc,
        write_warc_bytes,
        write_warc_dataset,
    )

    docs = [(1, "hello world"), (2, "héllo — ünïcode ☃"), (3, "")]
    data = write_warc_bytes(docs)
    recs = decode_warc_bytes(data)
    assert [(d, u, n) for d, u, n, _ in recs] == [
        (1, "http://example.com/doc/1", 11),
        (2, "http://example.com/doc/2",
         len("héllo — ünïcode ☃".encode())),
        (3, "http://example.com/doc/3", 0),
    ]
    assert [b.decode() for *_, b in recs] == [t for _, t in docs]

    with _pytest.raises(ValueError):
        decode_warc_bytes(b"HTTP/1.0\r\n" + data[10:])   # bad version
    with _pytest.raises(ValueError):
        decode_warc_bytes(data[:-6])                      # truncated
    bad = bytearray(data)
    bad[-2] ^= 0xFF                                       # terminator
    with _pytest.raises(ValueError):
        decode_warc_bytes(bytes(bad))
    no_len = build_warc_record(7, "x").replace(b"Content-Length: 1\r\n",
                                               b"")
    with _pytest.raises(ValueError):
        decode_warc_bytes(no_len)
    # ISO 28500 allows zero whitespace after the colon — still parses
    tight = build_warc_record(7, "x").replace(b"Content-Length: 1",
                                              b"Content-Length:1")
    assert [r[0] for r in decode_warc_bytes(tight)] == [7]
    # duplicate header names reject instead of silently last-winning
    dup = build_warc_record(7, "x").replace(
        b"Content-Length: 1\r\n",
        b"Content-Length: 1\r\nContent-Length: 1\r\n")
    with _pytest.raises(ValueError):
        decode_warc_bytes(dup)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_ds")
    write_warc_dataset(df, out, n_files=2)
    back = sorted(
        (r.doc_id, r.target_uri, r.content_length, r.text)
        for r in read_warc(spark, f"{out}/*.warc").collect()
    )
    assert back == [
        (d, f"http://example.com/doc/{d}", len(t.encode()), t)
        for d, t in docs
    ]


def _gz_members(b, path="<bytes>", chunk=256 * 1024):
    """Every member of a byte buffer, through the one streaming walker."""
    import io

    from sql_query_engine_spark.sources.warc import iter_gzip_members_stream

    return list(iter_gzip_members_stream(io.BytesIO(b), path, chunk=chunk))


def _gz_responses(b, path="<bytes>"):
    """The file-scope response walk (segment reassembly included) of a
    .warc.gz byte buffer: the record walk every reader runs."""
    import io

    from sql_query_engine_spark.sources.warc import (
        _shard_records,
        _walk_response_records,
    )

    return list(_walk_response_records(
        _shard_records(io.BytesIO(b), path), path))


def test_gzip_member_walk_and_foreign_twins():
    """Multi-member gzip: roundtrip across flag combinations, BOTH
    foreign-twin directions against the stdlib writer/reader, and one
    reject per RFC 1952 MUST (magic, CM, reserved FLG, header CRC16,
    DEFLATE truncation, trailer CRC32/ISIZE, trailing garbage)."""
    import gzip as stdgzip

    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import gzip_member

    p1, p2, p3 = b"hello world" * 10, b"", bytes(range(256)) * 5
    stream = (gzip_member(p1) + gzip_member(p2, fname=b"a.txt")
              + gzip_member(p3, fname=b"b", fhcrc=True))
    assert _gz_members(stream) == [p1, p2, p3]
    # foreign twins: stdlib-written member parses; our member inflates
    # with the stdlib reader (which also concatenates multi-member)
    assert _gz_members(stdgzip.compress(p1, mtime=0)) == [p1]
    assert stdgzip.decompress(gzip_member(p3)) == p3
    assert stdgzip.decompress(stream) == p1 + p2 + p3

    m = gzip_member(p1)
    cases = {
        "empty": b"",
        "bad magic": b"XX" + m[2:],
        "bad CM": m[:2] + b"\x07" + m[3:],
        "reserved FLG": m[:3] + bytes([m[3] | 0xE0]) + m[4:],
        "truncated deflate": m[: len(m) // 2],
        "truncated trailer": m[:-3],
        "crc32 flip": m[:-6] + bytes([m[-6] ^ 0xFF]) + m[-5:],
        "isize flip": m[:-1] + bytes([m[-1] ^ 0xFF]),
        "trailing garbage": m + b"not a member",
    }
    fh = gzip_member(p1, fhcrc=True)
    cases["header crc16 flip"] = fh[:10] + bytes([fh[10] ^ 1]) + fh[11:]
    for tag, b in cases.items():
        with _pytest.raises(ValueError):
            _gz_members(b), tag


def test_http_response_framing():
    """HTTP/1.1 response parse: chunked and Content-Length framings
    roundtrip for every builder branch; framing defects (bad status,
    non-hex chunk size, truncated chunk, missing trailer terminator,
    post-trailer garbage, Content-Length mismatch) reject."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        build_http_response,
        parse_http_response,
    )

    bodies = (b"", b"x", "héllo — ünïcode ☃".encode(),
              b"The quick brown fox jumps over the lazy dog" * 7)
    for doc_id in range(12):
        for body in bodies:
            st, got, k = parse_http_response(
                build_http_response(body, doc_id))
            assert (st, got) == (404 if doc_id % 11 == 0 else 200, body)
            assert k == (0 if doc_id % 3 == 0
                         else min(doc_id % 4 + 1, len(body)))

    h = build_http_response(b"abcdef", 1)          # chunked, 2 chunks
    assert b"3;x=1\r\n" in h and b"X-Len: 6" in h  # extension + trailer
    for bad in (
        h[:-3],                                     # truncated trailer
        h.replace(b"3;x=1", b"Z;x=1"),              # non-hex size
        h.replace(b"HTTP/1.1 200 OK", b"ICY 200 OK"),
        h + b"junk",                                # garbage after end
        h.replace(b"abc\r\n", b"abcXX"),            # chunk not CRLF-ended
    ):
        with _pytest.raises(ValueError):
            parse_http_response(bad)
    cl = build_http_response(b"abcdef", 6)          # plain CL leg
    with _pytest.raises(ValueError):
        parse_http_response(cl.replace(b"Content-Length: 6",
                                       b"Content-Length: 9"))

    # Content-Encoding: gzip — half the CL branch ships compressed
    # entities through the same verified member walk
    import gzip as _stdgzip

    enc = build_http_response(b"abcdef" * 40, 3)
    assert b"Content-Encoding: gzip" in enc
    st, got, k = parse_http_response(enc)
    assert (st, got, k) == (200, b"abcdef" * 40, 0)
    assert len(enc) < 240 + 120                     # actually compressed
    # a foreign (stdlib) gzip entity decodes too
    fb = _stdgzip.compress(b"foreign body", mtime=0)
    foreign = (b"HTTP/1.1 200 OK\r\nContent-Encoding: GZIP\r\n"
               b"Content-Length: " + str(len(fb)).encode()
               + b"\r\n\r\n" + fb)
    assert parse_http_response(foreign)[1] == b"foreign body"
    # corrupted entity CRC and unsupported codings reject attributably
    bad = bytearray(enc)
    bad[-6] ^= 0xFF
    with _pytest.raises(ValueError):
        parse_http_response(bytes(bad))
    with _pytest.raises(ValueError):
        parse_http_response(enc.replace(b"Content-Encoding: gzip",
                                        b"Content-Encoding: brr\x20"))


def test_warc_gz_end_to_end(spark, tmp_path):
    """.warc.gz dataset: one gzip member per record, HTTP payloads with
    both framings, multi-byte UTF-8 — write executor-side, read back
    through all three framing layers; one corrupted member byte makes
    the read raise with the offending path."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(0, "content-length leg"), (1, "héllo — ünïcode ☃"),
            (5, "fname member"), (7, "fhcrc member"), (9, ""),
            (2, "chunked three ways body")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_gz_ds")
    write_warc_gz_dataset(df, out, n_files=2)
    back = sorted(
        (r.doc_id, r.target_uri, r.http_status, r.n_chunks,
         r.content_length, r.text)
        for r in read_warc_gz(spark, f"{out}/*.warc.gz").collect()
    )
    want = sorted(
        (d, f"http://example.com/doc/{d}", 404 if d % 11 == 0 else 200,
         0 if d % 3 == 0 else min(d % 4 + 1, len(t.encode())),
         len(t.encode()), t)
        for d, t in docs
    )
    assert back == want

    # non-UTF-8 entity bytes: charset variety is DATA, not a framing
    # defect — text is NULL, content_length keeps the byte truth
    from sql_query_engine_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        gzip_member,
    )

    latin = "café".encode("latin-1")
    http = build_http_response(latin, 2)  # declares charset=utf-8
    rec = build_warc_record(
        2, payload=http,
        content_type=b"application/http;msgtype=response")
    bad_dir = tmp_path / "warc_gz_latin"
    bad_dir.mkdir()
    (bad_dir / "l.warc.gz").write_bytes(gzip_member(rec))
    row = read_warc_gz(spark, str(bad_dir) + "/*.warc.gz").collect()[0]
    assert row.text is None and row.content_length == len(latin)

    # flip one byte inside the first member's deflate body → the read
    # fails loudly with the path, never returns silently-wrong rows
    import glob as _glob
    import os as _os

    victim = sorted(_glob.glob(_os.path.join(out, "*.warc.gz")))[0]
    raw = bytearray(open(victim, "rb").read())
    raw[14] ^= 0xFF
    open(victim, "wb").write(bytes(raw))
    with _pytest.raises(Exception):
        read_warc_gz(spark, f"{out}/*.warc.gz").collect()


def test_warc_digests_and_trailers(spark, tmp_path):
    """ISO 28500 labelled digests + RFC 7230 declared trailers: the
    writer emits sha256 block/payload digests and an X-Payload-SHA256
    trailer on chunked responses; every verification layer catches its
    own corruption class attributably, and the meta reader surfaces
    the verified payload digest."""
    import hashlib

    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        decode_warc_bytes,
        gzip_member,
        parse_http_response,
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(d, f"digest doc {d} ☃") for d in range(1, 13)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_digests")
    write_warc_gz_dataset(df, out, n_files=2)
    rows = {r.doc_id: r for r in
            read_warc_gz(spark, f"{out}/*.warc.gz", plane="meta").collect()}
    assert set(rows) == {d for d, _ in docs}
    for d, t in docs:
        r = rows[d]
        assert r.payload_sha256 == hashlib.sha256(
            t.encode("utf-8")).hexdigest()
        assert r.digest_verified is True
        assert r.charset == "utf-8" and r.text == t

    # block-digest mismatch raises in the record walk
    rec = build_warc_record(3, "hello")
    assert decode_warc_bytes(rec)[0][3] == b"hello"
    with _pytest.raises(ValueError, match="Block-Digest"):
        decode_warc_bytes(rec.replace(b"hello", b"jello"))
    # unknown digest label passes through unverified (open label set)
    loose = build_warc_record(3, "hello").replace(
        b"WARC-Block-Digest: sha256:",
        b"WARC-Block-Digest: xxh3:00")
    assert decode_warc_bytes(loose)[0][3] == b"hello"
    # ISO 28500 field names are case-insensitive: a legally-cased
    # external record must still VERIFY (and still catch corruption)
    cased = build_warc_record(3, "hello") \
        .replace(b"WARC-Block-Digest:", b"wArC-bLoCk-DiGeSt:") \
        .replace(b"Content-Length:", b"CONTENT-LENGTH:")
    assert decode_warc_bytes(cased)[0][3] == b"hello"
    with _pytest.raises(ValueError, match="Block-Digest"):
        decode_warc_bytes(cased.replace(b"hello", b"jello"))

    # chunked trailer digest: flip a byte INSIDE a chunk — the gzip
    # and WARC layers can't see it (digests recomputed over the new
    # block), the HTTP trailer check must
    body = b"trailer guarded body"
    http = build_http_response(body, 1)  # doc 1 → chunked
    assert b"X-Payload-SHA256" in http
    assert parse_http_response(http)[1] == body
    broken = http.replace(b"trailer g", b"trailEr g")  # inside chunk 1
    assert broken != http
    with _pytest.raises(ValueError, match="X-Payload-SHA256|X-Len"):
        parse_http_response(broken)

    # payload-digest mismatch: the digest is a provenance CLAIM, so a
    # mismatching record becomes a digest_verified=FALSE row (a
    # filterable data verdict), not a scan abort — the column carries
    # the verdict its name advertises (TRUE/FALSE/NULL)
    entity = b"declared wrong"
    http = build_http_response(entity, 6)  # CL framing, no trailer
    rec = build_warc_record(
        6, payload=http,
        content_type=b"application/http;msgtype=response",
        payload_digest=hashlib.sha256(b"other bytes").hexdigest())
    bad_dir = tmp_path / "warc_badpd"
    bad_dir.mkdir()
    (bad_dir / "b.warc.gz").write_bytes(gzip_member(rec))
    (bad,) = read_warc_gz(
        spark, str(bad_dir) + "/*.warc.gz", plane="meta").collect()
    assert bad.digest_verified is False
    assert bad.payload_sha256 == hashlib.sha256(b"other bytes").hexdigest()
    assert bad.text == entity.decode()  # row data intact, only the verdict

    # a MALFORMED digest value for a known algorithm still raises —
    # garbled is a defect, not license to skip the check
    garbled = build_warc_record(
        7, payload=build_http_response(b"x", 6),
        content_type=b"application/http;msgtype=response")
    garbled = garbled.replace(
        b"Content-Length:",
        b"WARC-Payload-Digest: sha256:zz-not-a-digest\r\nContent-Length:", 1)
    mal_dir = tmp_path / "warc_malpd"
    mal_dir.mkdir()
    (mal_dir / "m.warc.gz").write_bytes(gzip_member(garbled))
    with _pytest.raises(Exception, match="malformed WARC-Payload-Digest"):
        read_warc_gz(
            spark, str(mal_dir) + "/*.warc.gz", plane="meta").collect()


def test_warc_base32_digests(spark, tmp_path):
    """Digest-value encoding detection (ISO 28500 leaves it open):
    Common Crawl and the spec's own examples encode sha1 digests in
    RFC 4648 Base32, so the verifier must accept BOTH encodings — and
    still catch corruption in either — instead of rejecting every
    authentic external WARC as corrupt."""
    import base64
    import hashlib

    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        decode_warc_bytes,
        gzip_member,
        read_warc_gz,
    )

    # hand-build a record with a Common-Crawl-style Base32 sha1 block
    # digest (the builder emits sha256 hex; externals differ)
    block = b"external crawl payload"
    b32 = base64.b32encode(hashlib.sha1(block).digest()).decode()
    rec = (b"WARC/1.0\r\n"
           b"WARC-Type: response\r\n"
           b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-"
           b"000000000005>\r\n"
           b"WARC-Target-URI: http://example.org/x\r\n"
           b"WARC-Block-Digest: sha1:" + b32.encode() + b"\r\n"
           b"Content-Length: " + str(len(block)).encode() + b"\r\n"
           b"\r\n" + block + b"\r\n\r\n")
    assert decode_warc_bytes(rec)[0][3] == block
    # flip a bit inside the block: the Base32 sha1 check must catch it
    with _pytest.raises(ValueError, match="Block-Digest"):
        decode_warc_bytes(rec.replace(b"external", b"externaL"))
    # hex sha1 also verifies (both encodings of the same label)
    hexd = hashlib.sha1(block).hexdigest().encode()
    rec_hex = rec.replace(b"sha1:" + b32.encode(), b"sha1:" + hexd)
    assert decode_warc_bytes(rec_hex)[0][3] == block
    # malformed value for a known algorithm raises
    with _pytest.raises(ValueError, match="malformed WARC-Block-Digest"):
        decode_warc_bytes(rec.replace(
            b"sha1:" + b32.encode(), b"sha1:tooshort"))

    # meta reader: a Base32 sha1 PAYLOAD digest verifies (TRUE verdict)
    # while payload_sha256 stays NULL — the column surfaces only the
    # sha256 value its name promises
    entity = b"sha1-attested entity"
    http = build_http_response(entity, 6)  # CL framing
    rec2 = build_warc_record(
        6, payload=http, content_type=b"application/http;msgtype=response")
    pd32 = base64.b32encode(hashlib.sha1(entity).digest())
    rec2 = rec2.replace(
        b"Content-Length:",
        b"WARC-Payload-Digest: sha1:" + pd32 + b"\r\nContent-Length:", 1)
    d = tmp_path / "warc_b32pd"
    d.mkdir()
    (d / "p.warc.gz").write_bytes(gzip_member(rec2))
    (row,) = read_warc_gz(
        spark, str(d) + "/*.warc.gz", plane="meta").collect()
    assert row.digest_verified is True
    assert row.payload_sha256 is None


def test_warc_revisit_records(spark, tmp_path):
    """revisits=True: every 10th doc's response is followed by a
    body-less revisit record (identical-payload-digest profile). The
    resolution plane surfaces each revisit's reference and digest; the
    response readers skip revisits entirely; CDX offsets stay exact
    with the un-indexed revisit members interleaved."""
    import hashlib

    from sql_query_engine_spark.sources.warc import (
        fetch_warc_members,
        read_cdx,
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(d, f"revisit doc {d} ☃") for d in range(1, 21)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_revisits")
    write_warc_gz_dataset(df, out, n_files=2, revisits=True)

    revs = {r.doc_id: r for r in
            read_warc_gz(spark, f"{out}/*.warc.gz", plane="resolution")
            .filter("wtype = 'revisit'").collect()}
    assert set(revs) == {10, 20}
    for d, t in docs:
        if d not in revs:
            continue
        r = revs[d]
        assert r.target_uri == f"http://mirror.example.com/doc/{d}"
        assert r.refers_to_uri == f"http://example.com/doc/{d}"
        assert r.payload_sha256 == hashlib.sha256(
            t.encode("utf-8")).hexdigest()

    # the response walk sees exactly the 20 responses, no revisits
    got = read_warc_gz(spark, f"{out}/*.warc.gz")
    assert sorted(r.doc_id for r in got.collect()) == list(range(1, 21))

    # CDX extents remain exact around the un-indexed revisit members
    idx = read_cdx(spark, f"{out}/*.cdx")
    assert idx.count() == 20
    fetched = fetch_warc_members(idx, out)
    assert sorted(r.doc_id for r in fetched.collect()) == list(range(1, 21))


def test_warc_revisit_resolution_fused_walk(spark, tmp_path):
    """The r16 fused resolution plane must emit exactly the union of
    the revisit references the writer planted and what the meta
    plane's digest column sees: same revisit rows, same response (uri,
    declared-digest) rows, from ONE walk."""
    import hashlib

    from sql_query_engine_spark.sources.warc import (
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(d, f"fused revisit doc {d} ☃") for d in range(1, 31)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_fused_revisits")
    write_warc_gz_dataset(df, out, n_files=2, revisits=True)

    fused = read_warc_gz(spark, f"{out}/*.warc.gz", plane="resolution")
    got_rev = sorted(
        (r.doc_id, r.target_uri, r.refers_to_uri, r.payload_sha256)
        for r in fused.filter("wtype = 'revisit'").collect()
    )
    want_rev = sorted(
        (d, f"http://mirror.example.com/doc/{d}",
         f"http://example.com/doc/{d}",
         hashlib.sha256(t.encode("utf-8")).hexdigest())
        for d, t in docs if d % 10 == 0
    )
    assert got_rev == want_rev and len(got_rev) == 3

    got_resp = sorted(
        (r.doc_id, r.target_uri, r.payload_sha256)
        for r in fused.filter("wtype = 'response'").collect()
    )
    want_resp = sorted(
        (r.doc_id, r.target_uri, r.payload_sha256)
        for r in read_warc_gz(
            spark, f"{out}/*.warc.gz", plane="meta").collect()
    )
    assert got_resp == want_resp and len(got_resp) == 30


def test_warc_segment_reassembly(spark, tmp_path):
    """segments=k: every k-th doc ships as a 3-record segmented chain
    (ISO 28500 §5.18-5.20), one gzip member per record. The shared
    response walk reassembles the chain back into one logical record —
    text, framing counts, and payload-digest verdicts identical to the
    unsegmented write — and every reassembly defect raises
    attributably."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        read_cdx,
        read_warc_gz,
        write_warc_gz_dataset,
        gzip_member,
    )

    docs = [(d, f"segmented doc {d} — body {'x' * d}") for d in range(1, 13)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_segs")
    write_warc_gz_dataset(df, out, n_files=2, segments=4)

    rows = {r.doc_id: r for r in
            read_warc_gz(spark, f"{out}/*.warc.gz").collect()}
    assert set(rows) == {d for d, _ in docs}
    for d, t in docs:
        assert rows[d].text == t, f"doc {d} text mangled by reassembly"
    meta = {r.doc_id: r for r in
            read_warc_gz(spark, f"{out}/*.warc.gz", plane="meta").collect()}
    for d in (4, 8, 12):
        assert meta[d].digest_verified is True

    # EVERY doc is CDX-indexed — segmented chains as one extent — and
    # indexed fetch reassembles chains in-extent, so random access
    # serves the largest (segmented) docs too
    from sql_query_engine_spark.sources.warc import fetch_warc_members

    idx = read_cdx(spark, f"{out}/*.cdx")
    assert sorted(r.doc_id for r in idx.collect()) == [d for d, _ in docs]
    fetched = {r.doc_id: r for r in
               fetch_warc_members(idx, out).collect()}
    assert set(fetched) == {d for d, _ in docs}
    for d, t in docs:
        assert fetched[d].text == t

    # --- defect drills over a hand-assembled single-doc chain -------
    from sql_query_engine_spark.sources.warc import (
        _segment_members,
        build_http_response,
    )
    import hashlib

    ent = b"defect drill entity"
    http = build_http_response(ent, 6)  # CL framing
    orig = b"<urn:uuid:00000000-0000-0000-0000-000000000006>"
    members = _segment_members(
        6, http, orig, hashlib.sha256(ent).hexdigest())
    ok = b"".join(members)
    got = _gz_responses(ok, "<ok>")
    assert len(got) == 1 and got[0][3] == http

    # stream ends mid-chain → truncated
    with _pytest.raises(ValueError, match="ends inside segmented"):
        _gz_responses(b"".join(members[:2]), "<trunc>")
    # a continuation with no open segment
    with _pytest.raises(ValueError, match="without an open"):
        _gz_responses(members[1] + members[2], "<orphan>")
    # out-of-order: segments 1,3 (2 missing)
    with _pytest.raises(ValueError, match="out of order"):
        _gz_responses(members[0] + members[2], "<gap>")
    # interleaving record inside an open chain
    from sql_query_engine_spark.sources.warc import build_warc_record

    plain = gzip_member(build_warc_record(7, "interloper"))
    with _pytest.raises(ValueError, match="interleaves"):
        _gz_responses(
            members[0] + plain + members[1] + members[2], "<mix>")
    # total-length lie: shave a byte off the last segment's declaration
    bad_last = _gz_members(members[2], "<m>")[0]
    lied = bad_last.replace(
        b"WARC-Segment-Total-Length: " + str(len(http)).encode(),
        b"WARC-Segment-Total-Length: " + str(len(http) - 1).encode())
    assert lied != bad_last
    with _pytest.raises(ValueError, match="Total-Length"):
        _gz_responses(
            members[0] + members[1] + gzip_member(lied), "<lie>")


def test_warc_charset_east_asian(spark, tmp_path):
    """charsets='east-asian' writer: shift_jis / gbk / euc-kr entities
    declared in the Content-Type parameter, each suffix NATIVE to its
    codepage — strict decode by the label round-trips exactly, and the
    bytes genuinely differ from UTF-8 (multi-byte legacy encodings,
    not relabeled ASCII)."""
    from sql_query_engine_spark.sources.warc import (
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(d, f"east asian doc {d} ünïcode") for d in range(1, 14)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_ea")
    write_warc_gz_dataset(df, out, n_files=1, charsets="east-asian")
    rows = {r.doc_id: r for r in
            read_warc_gz(spark, f"{out}/*.warc.gz", plane="meta").collect()}
    assert set(rows) == {d for d, _ in docs}
    import re

    suffix = {0: None, 1: " テスト", 2: " 中文测试", 3: " 한글",
              4: " 繁體中文", 5: " 简体文本"}
    label = {0: "utf-8", 1: "shift_jis", 2: "gbk", 3: "euc-kr",
             4: "big5", 5: "gb2312"}
    for d, t in docs:
        r = rows[d]
        assert r.charset == label[d % 6]
        assert r.digest_verified is True
        if suffix[d % 6] is None:
            assert r.text == t
        else:
            folded = re.sub(r"[^\x00-\x7f]", "", t) + suffix[d % 6]
            assert r.text == folded, f"doc {d} ({label[d % 6]})"
            # the wire bytes are NOT the UTF-8 encoding: a reader that
            # ignores the label and assumes UTF-8 would not see this
            # text (multi-byte legacy codepages, the mojibake class)
            codec = {"shift_jis": "shift_jis", "gbk": "gbk",
                     "euc-kr": "euc_kr", "big5": "big5",
                     "gb2312": "gb2312"}[label[d % 6]]
            assert folded.encode(codec) != folded.encode("utf-8")
            assert r.content_length == len(folded.encode(codec))


def test_warc_charset_mislabel(spark, tmp_path):
    """mislabel=True: odd docs declare utf-8 over bytes that cannot
    decode as it — the strict reader surfaces NULL text while every
    framing/integrity column stays intact (the mislabeled page is
    data to quarantine, not a scan abort)."""
    from sql_query_engine_spark.sources.warc import (
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(d, f"mislabel doc {d}") for d in range(1, 7)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_mislabels")
    write_warc_gz_dataset(df, out, n_files=1, mislabel=True)
    rows = {r.doc_id: r for r in
            read_warc_gz(spark, f"{out}/*.warc.gz", plane="meta").collect()}
    assert set(rows) == {d for d, _ in docs}
    for d, t in docs:
        r = rows[d]
        assert r.digest_verified is True  # digest is over the BYTES
        assert r.charset == "utf-8"
        if d % 2 == 1:
            assert r.text is None, f"doc {d} should not decode"
            assert r.content_length == len(t) + 7  # ' caf' + 3 bad bytes
        else:
            assert r.text == t


def test_gzip_member_stream_walk_equivalence(tmp_path):
    """iter_gzip_members_stream must produce exactly the builder's
    member payloads at ANY read-chunk size (including sizes that split
    every header field, the DEFLATE body, and the trailer across
    reads) — stdlib gzip agreeing on the concatenated inflate — and
    reject every defect class at any chunk size: results must not
    depend on how the stream is read (the memory contract of the
    100 TB scan path)."""
    import gzip as stdgzip
    import io

    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        gzip_member,
        iter_gzip_members_stream,
    )

    payloads = [b"alpha", "strö☃m two".encode(), b"x" * 70000, b""]
    stream = (
        gzip_member(payloads[0], fname=b"a.warc")
        + gzip_member(payloads[1], fhcrc=True)
        + gzip_member(payloads[2], fname=b"c.warc", fhcrc=True)
        + gzip_member(payloads[3])
    )
    assert stdgzip.decompress(stream) == b"".join(payloads)
    for chunk in (1, 2, 7, 64, 1 << 20):
        got = list(iter_gzip_members_stream(
            io.BytesIO(stream), "<s>", chunk=chunk))
        assert got == payloads, f"chunk={chunk}"

    # every defect class rejects, at a small and a large chunk size
    for mutate, msg in [
        (lambda b: b[:-4], "truncated gzip trailer"),
        (lambda b: b[:len(b) // 2], "DEFLATE|trailer|truncated"),
        (lambda b: b"\x1f\x8c" + b[2:], "bad gzip magic"),
        (lambda b: b"", "empty gzip stream"),
    ]:
        bad = mutate(stream)
        for chunk in (3, 1 << 20):
            with _pytest.raises(ValueError, match=msg):
                list(iter_gzip_members_stream(
                    io.BytesIO(bad), "<s>", chunk=chunk))
    # CRC32 flip in the first member's trailer
    m0 = gzip_member(b"crc target")
    bad = bytearray(m0)
    bad[-6] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC32|DEFLATE"):
        list(iter_gzip_members_stream(io.BytesIO(bytes(bad)), "<s>"))


def test_gzip_stream_walk_header_field_ceiling():
    """The O(member) memory contract covers the HEADER side too: an
    adversarial FNAME with a NUL-free run must raise at the 64 KiB
    field ceiling instead of buffering toward shard size."""
    import io

    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        iter_gzip_members_stream,
    )

    # gzip header with FNAME flag set, then 1 MiB with no NUL
    hdr = b"\x1f\x8b\x08\x08" + b"\x00" * 6
    evil = hdr + b"A" * (1 << 20)
    with _pytest.raises(ValueError, match="FNAME field exceeds"):
        list(iter_gzip_members_stream(io.BytesIO(evil), "<evil>"))


def test_warc_revisit_malformed_digest_raises(spark, tmp_path):
    """A revisit record with a garbled known-label digest value must
    raise — the digest is dedup's JOIN KEY, and a silently-NULL
    garbled key would drop the re-crawl observation without a trace
    (same contract as the block/response-payload digest layers)."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        build_warc_record,
        gzip_member,
        read_warc_gz,
        try_scan_warc_gz,
    )

    rev = build_warc_record(
        5, payload=b"HTTP/1.1 200 OK\r\n\r\n",
        warc_type=b"revisit",
        payload_digest="zz-not-a-digest",
        extra_headers=[(b"WARC-Refers-To-Target-URI",
                        b"http://example.com/doc/5")])
    d = tmp_path / "warc_badrev"
    d.mkdir()
    (d / "r.warc.gz").write_bytes(gzip_member(rev))
    with _pytest.raises(Exception, match="malformed WARC-Payload-Digest"):
        read_warc_gz(
            spark, str(d) + "/*.warc.gz", plane="resolution").collect()
    # the fuzz wrapper rejects (None), never a silently-NULL row
    assert try_scan_warc_gz(gzip_member(rev), "resolution") is None


def test_warc_unknown_plane_raises(spark, tmp_path):
    """A plane name outside response/meta/request/resolution is a
    caller error on every entry point — never an empty scan, and never
    a None the fuzz contract would read as a rejected payload."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        gzip_member,
        read_warc_gz,
        try_scan_warc_gz,
    )

    (tmp_path / "p.warc.gz").write_bytes(gzip_member(b"x"))
    with _pytest.raises(ValueError, match="unknown .warc.gz plane"):
        read_warc_gz(spark, str(tmp_path) + "/*.warc.gz", plane="revisit")
    with _pytest.raises(ValueError, match="unknown .warc.gz plane"):
        try_scan_warc_gz(gzip_member(b"x"), "revisit")


def test_warc_gz_writer_layout_deterministic(spark, tmp_path):
    """Shard bytes are a pure function of the data: hash-partitioned
    by doc_id + sorted within shard, so two writes — even from
    differently-partitioned inputs — produce byte-identical shards.
    This is what makes the cached-fixture digest assert meaningful
    across sessions and environments."""
    import hashlib
    import os

    from sql_query_engine_spark.sources.warc import write_warc_gz_dataset

    docs = [(d, f"det doc {d} ☃") for d in range(1, 40)]

    def digests(out):
        return {
            f: hashlib.sha256(
                open(os.path.join(out, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(out))
        }

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    write_warc_gz_dataset(
        spark.createDataFrame(docs, "doc_id long, text string"),
        a, n_files=3)
    # same rows, different input partitioning and arrival order
    write_warc_gz_dataset(
        spark.createDataFrame(list(reversed(docs)),
                              "doc_id long, text string").repartition(7),
        b, n_files=3)
    assert digests(a) == digests(b)


def test_cached_fixture_reuse_and_drift(tmp_path):
    """_cached_fixture builds once per (dir, version), skips the build
    on reuse after re-asserting byte-identity, and raises attributably
    on drift — the determinism claim is checked every sweep, never
    assumed."""
    import pytest as _pytest

    from sql_query_engine_spark.queries import _cached_fixture

    d = str(tmp_path / "fx")
    calls = []

    def build():
        import os

        os.makedirs(d, exist_ok=True)
        (tmp_path / "fx" / "a.bin").write_bytes(b"deterministic")
        calls.append(1)

    _cached_fixture(d, build)
    _cached_fixture(d, build)
    assert len(calls) == 1, "second call must reuse, not rebuild"
    (tmp_path / "fx" / "a.bin").write_bytes(b"DETERMINISTIC")
    with _pytest.raises(RuntimeError, match="drifted"):
        _cached_fixture(d, build)
    # a corrupt/missing sentinel is a cold start, not an error
    (tmp_path / "fx" / "_FIXTURE_OK.json").write_text("{not json")
    _cached_fixture(d, build)
    assert len(calls) == 2


def test_fixture_not_shared_between_same_basename_datasets(
        spark, tmp_path, monkeypatch):
    """Two datasets in dirs with the same basename get their own cached
    fixtures: keyed on the basename alone, the second run of
    src_warc_gz_scan returned the first dataset's rows without error."""
    import os
    import shutil
    import tempfile

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from sql_query_engine_spark.catalog import table_path
    from sql_query_engine_spark.queries import oracle_sql, queries
    from tests.conftest import SF_DIR

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    a, b = (str(tmp_path / side / "sf0.001") for side in "ab")
    for d in (a, b):  # plain copies: the source files may be read-only
        os.makedirs(d)
        for f in os.listdir(SF_DIR):
            shutil.copyfile(os.path.join(SF_DIR, f), os.path.join(d, f))
    docs = pq.read_table(table_path(b, "documents"))
    docs = docs.set_column(
        docs.schema.get_field_index("text"), "text",
        pc.binary_join_element_wise(docs["text"], " (b)", ""))
    pq.write_table(docs, table_path(b, "documents"))

    name = "src_warc_gz_scan"
    for sf_dir in (a, b):
        df = queries()[name](spark, sf_dir)
        got = sorted(tuple(r[c] for c in sorted(df.columns)) for r in df.collect())
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{table_path(sf_dir, 'documents')}'")
        rel = con.sql(oracle_sql()[name])
        order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
        want = sorted(tuple(r[i] for i in order) for r in rel.fetchall())
        assert got and got == want, sf_dir


def test_wat_sidecar_percent_encoded_dir(spark, tmp_path):
    """binaryFile paths are URIs: a shard directory containing a space
    arrives percent-encoded, and the sidecar must land next to the
    shard (decoded path), not at a literal-%20 path."""
    from sql_query_engine_spark.sources.warc import (
        read_wat,
        write_warc_gz_dataset,
        write_wat_sidecar,
    )

    out = str(tmp_path / "with space")
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string")
    write_warc_gz_dataset(df, out, n_files=1)
    write_wat_sidecar(spark, out)
    import os

    wats = [f for f in os.listdir(out) if f.endswith(".wat.jsonl")]
    assert len(wats) == 1
    got = read_wat(spark, f"{out}/*.wat.jsonl")
    assert {r.doc_id for r in got.collect()} == {1, 2}


def test_warc_charset_rotation(spark, tmp_path):
    """charsets=True writer: per-doc charset rotation declared in the
    Content-Type parameter, strict decode by the label on read; an
    unknown label or mislabeled bytes become NULL text (data, not a
    reject)."""
    from sql_query_engine_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        gzip_member,
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(d, f"chärsét doc {d} — ünïcode ☃") for d in range(1, 17)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_charsets")
    write_warc_gz_dataset(df, out, n_files=2, charsets=True)
    rows = {r.doc_id: r for r in
            read_warc_gz(spark, f"{out}/*.warc.gz", plane="meta").collect()}
    import re as _re
    labels = ["utf-8", "windows-1252", "iso-8859-1", "us-ascii"]
    sufs = [None, " €—™", " caf\xe9 \xa3\xb1\xb0", ""]
    for d, t in docs:
        r = rows[d]
        assert r.charset == labels[d % 4]
        want = (t if d % 4 == 0
                else _re.sub(r"[^\x00-\x7f]", "", t) + sufs[d % 4])
        assert r.text == want, (d, r.text, want)
        assert r.digest_verified is True

    # NO declared charset → the HTML5 prescan essentials kick in:
    # BOM wins outright; else <meta charset> within the first 1024
    # bytes; else the strict UTF-8 default. Detection of in-band
    # declarations only — never statistical guessing.
    from sql_query_engine_spark.sources.warc import (
        parse_http_response_ex,
        sniff_charset,
    )

    assert sniff_charset(b"\xef\xbb\xbfplain") == "utf-8-sig"
    assert sniff_charset("ünï".encode("utf-16-le")) is None  # no BOM
    assert sniff_charset("ünï".encode("utf-16")) == "utf-16"  # BOM
    assert sniff_charset(
        b'<html><META CharSet="windows-1252"><p>x') == "windows-1252"
    assert sniff_charset(
        b'<meta http-equiv="content-type" '
        b'content="text/html; charset=iso-8859-1">') == "iso-8859-1"
    assert sniff_charset(b"<meta name=viewport>" + b"x" * 2000
                         + b"<meta charset=utf-8>") is None  # past 1024
    assert sniff_charset(b"no declarations here") is None

    def _nocs(ent, meta=b""):
        body = meta + ent
        msg = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
               b"Content-Length: " + str(len(body)).encode()
               + b"\r\n\r\n" + body)
        return parse_http_response_ex(msg)

    st, hh, body, _ = _nocs("snöw ☃".encode("utf-8"))
    from sql_query_engine_spark.sources.warc import _entity_text
    assert _entity_text(body, hh) == "snöw ☃"  # default utf-8
    st, hh, body, _ = _nocs(
        " caf\xe9".encode("cp1252"), meta=b"<meta charset=windows-1252>")
    assert _entity_text(body, hh) == "<meta charset=windows-1252> caf\xe9"
    st, hh, body, _ = _nocs(b"\xef\xbb\xbfbom text")
    assert _entity_text(body, hh) == "bom text"  # BOM stripped
    # declared header charset still wins over a conflicting meta tag
    http = build_http_response(
        b"<meta charset=windows-1252>ascii", 6, charset="us-ascii")
    st, hh, body, _ = parse_http_response_ex(http)
    assert _entity_text(body, hh) == "<meta charset=windows-1252>ascii"

    # unknown charset label → NULL text, content_length keeps bytes
    ent = "σ".encode("utf-8")
    http = build_http_response(ent, 2, charset="shift_jis")
    rec = build_warc_record(
        2, payload=http,
        content_type=b"application/http;msgtype=response")
    d2 = tmp_path / "warc_cs_unknown"
    d2.mkdir()
    (d2 / "u.warc.gz").write_bytes(gzip_member(rec))
    row = read_warc_gz(
        spark, str(d2) + "/*.warc.gz", plane="meta").collect()[0]
    assert row.text is None and row.charset == "shift_jis"
    assert row.content_length == len(ent)


def test_warc_mixed_record_types(spark, tmp_path):
    """Real crawl WARCs interleave warcinfo / request / metadata
    records with the responses; only responses carry an HTTP message,
    so every HTTP-parsing reader must SKIP the rest (case-insensitive
    WARC-Type) instead of rejecting the whole file."""
    import hashlib

    from sql_query_engine_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        gzip_member,
        read_warc_gz,
        try_scan_warc_gz,
    )

    def resp(d, t):
        ent = t.encode()
        return build_warc_record(
            d, payload=build_http_response(ent, d),
            content_type=b"application/http;msgtype=response",
            payload_digest=hashlib.sha256(ent).hexdigest())

    members = [
        gzip_member(build_warc_record(
            900, "software: graft-fixture/1.0",
            content_type=b"application/warc-fields",
            warc_type=b"warcinfo")),
        gzip_member(resp(1, "first page")),
        gzip_member(build_warc_record(
            901, "GET /doc/1 HTTP/1.1\r\nHost: example.com\r\n\r\n",
            content_type=b"application/http;msgtype=request",
            warc_type=b"request")),
        # case-insensitive type value on a metadata record
        gzip_member(build_warc_record(
            902, "fetchTimeMs: 12", warc_type=b"Metadata")),
        gzip_member(resp(2, "second — pägé ☃")),
    ]
    d = tmp_path / "warc_mixed"
    d.mkdir()
    (d / "m.warc.gz").write_bytes(b"".join(members))

    rows = sorted((r.doc_id, r.text) for r in
                  read_warc_gz(spark, str(d) + "/*.warc.gz").collect())
    assert rows == [(1, "first page"), (2, "second — pägé ☃")]
    meta = sorted((r.doc_id, r.digest_verified) for r in
                  read_warc_gz(spark, str(d) + "/*.warc.gz",
                               plane="meta").collect())
    assert meta == [(1, True), (2, True)]
    scan = try_scan_warc_gz(b"".join(members))
    assert scan is not None and sorted(r[0] for r in scan) == [1, 2]

    # the plain .warc reader skips non-responses the same way
    from sql_query_engine_spark.sources.warc import read_warc
    plain = tmp_path / "warc_mixed_plain"
    plain.mkdir()
    (plain / "m.warc").write_bytes(
        build_warc_record(903, "software: x/1.0", warc_type=b"warcinfo")
        + build_warc_record(3, "plain doc"))
    prow = read_warc(spark, str(plain) + "/*.warc").collect()
    assert [(r.doc_id, r.text) for r in prow] == [(3, "plain doc")]

    # WAT emission writes one line per RESPONSE record only
    from sql_query_engine_spark.sources.warc import read_wat, write_wat_sidecar
    write_wat_sidecar(spark, str(d))
    wat = sorted(r.doc_id for r in
                 read_wat(spark, str(d) + "/*.wat.jsonl").collect())
    assert wat == [1, 2]

    # the streaming tail shares the skip (same decode loop, one batch)
    from sql_query_engine_spark.sources.warc import read_warc_gz_stream
    stream = read_warc_gz_stream(spark, str(d) + "/*.warc.gz")
    q = (stream.writeStream.format("memory")
         .queryName("mixed_types_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    srows = sorted(r.doc_id for r in
                   spark.sql("select * from mixed_types_stream").collect())
    assert srows == [1, 2]

    # indexed random access PROMISES the record: a CDX row pointing at
    # a non-response member is an attributable contract violation
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import fetch_warc_members
    req_member = members[2]  # the request record's member
    off = len(members[0]) + len(members[1])
    idx = spark.createDataFrame(
        [("http://example.com/doc/1", 901, "m.warc.gz", off,
          len(req_member))],
        "target_uri string, doc_id long, shard string, offset long, "
        "length long")
    with _pytest.raises(Exception, match="non-response"):
        fetch_warc_members(idx, str(d)).collect()


def test_wat_sidecar_emission(spark, tmp_path):
    """WAT-style metadata sidecars: one .wat.jsonl per shard with one
    JSON metadata record per WARC record; the thin scan reproduces the
    censuses of a full extraction without inflating any shard."""
    import hashlib

    from sql_query_engine_spark.functions.html import synthesize_html_pages
    from sql_query_engine_spark.sources.warc import (
        read_wat,
        write_warc_gz_dataset,
        write_wat_sidecar,
    )

    docs = [(d, f"wat doc {d} & <tag> 'quoted'") for d in range(1, 15)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pages = synthesize_html_pages(df).select(
        "doc_id", F.col("html").alias("text"))
    out = str(tmp_path / "warc_wat")
    write_warc_gz_dataset(pages, out, n_files=3)
    write_wat_sidecar(spark, out)

    import glob as _glob
    shards = _glob.glob(f"{out}/*.warc.gz")
    sidecars = _glob.glob(f"{out}/*.wat.jsonl")
    assert len(sidecars) == len(shards) > 0

    rows = {r.doc_id: r for r in
            read_wat(spark, f"{out}/*.wat.jsonl").collect()}
    assert set(rows) == {d for d, _ in docs}
    for d, t in docs:
        r = rows[d]
        assert r.title == f"doc & {d}"
        assert r.n_links == d % 7
        # extracted text round-trips to the original document text
        assert r.text_md5 == hashlib.md5(t.encode("utf-8")).hexdigest()
        assert r.http_status == (404 if d % 11 == 0 else 200)


def test_fixed_width_roundtrip_and_overflow(spark, tmp_path):
    """Fixed-width write→read preserves ints, strings (trailing-space
    stripped), and doubles via shortest repr; an overflowing value
    raises instead of silently truncating."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.legacy import (
        read_fixed_width,
        write_fixed_width,
    )

    layout = [("k", 1, 6, "int"), ("s", 7, 10, "string"),
              ("x", 17, 22, "double")]
    rows = [(1, "alpha", 1.5), (22, "beta gamma", -0.0),
            (333, "z", 4032.6799999999998)]
    path = str(tmp_path / "t.fw")
    write_fixed_width(rows, layout, path)
    got = sorted(map(tuple, read_fixed_width(spark, path, "T",
                                             layout).collect()))
    assert got == sorted(rows)
    assert struct_eq(got[1][2], -0.0)  # the (22, 'beta gamma') row

    with _pytest.raises(ValueError):
        write_fixed_width([(1, "way too long for field", 0.0)], layout,
                          str(tmp_path / "bad.fw"))


def test_fixed_width_duplicate_columns_reject(spark, tmp_path):
    """A layout with a repeated column name raises instead of silently
    collapsing to the last duplicate's type."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.legacy import read_fixed_width

    p = str(tmp_path / "dup.fw")
    open(p, "w").write("  1abc\n")
    layout = [("a", 1, 3, "integer"), ("a", 4, 3, "string")]
    with _pytest.raises(ValueError, match="duplicate"):
        read_fixed_width(spark, p, "t", layout)


def test_avro_deflate_codec_roundtrip_and_corruption():
    """avro.codec=deflate (raw DEFLATE block bodies, the spec's framing
    without zlib header/checksum) round-trips losslessly, compresses,
    and raises with the path on a corrupt compressed block."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.avro import (
        decode_avro_bytes,
        write_avro_bytes,
    )

    fields = [("k", "long"), ("x", "double"), ("s", "string")]
    rows = [(i, i * 1.5, f"row-{i}" * 10) for i in range(200)]
    plain = write_avro_bytes("t", fields, rows, codec="null")
    packed = write_avro_bytes("t", fields, rows, codec="deflate")
    assert len(packed) < len(plain) // 2  # repetitive strings compress
    got_fields, got_rows = decode_avro_bytes(packed)
    assert got_fields == fields and got_rows == rows

    bad = bytearray(packed)
    bad[60] ^= 0xFF  # inside the compressed block body
    with _pytest.raises(ValueError):
        decode_avro_bytes(bytes(bad), "p")
    with _pytest.raises(ValueError):
        write_avro_bytes("t", fields, rows, codec="snappy")


def test_avro_negative_metadata_block_count():
    """Spec-valid third-party OCFs may write the file-metadata map with a
    NEGATIVE block count followed by the block's byte size (Avro 1.11
    spec, 'Data Serialization': complex-type blocks); the decoder must
    read and discard that size long instead of misparsing it as the
    first key length."""
    from sql_query_engine_spark.sources.avro import (
        _zigzag_encode,
        decode_avro_bytes,
        write_avro_bytes,
    )

    fields = [("k", "long"), ("s", "string")]
    rows = [(1, "a"), (2, "b")]
    data = write_avro_bytes("t", fields, rows)

    # rewrite the metadata map header: positive count N → (-N, bytesize)
    pos = 4
    body = data[pos:]
    # our writer emits count=2 (one block of two entries) first
    assert body[0] == _zigzag_encode(2)[0]
    entries_start = 1
    # find where the two entries end: walk two (klen,k,vlen,v) pairs
    from sql_query_engine_spark.sources.avro import _zigzag_decode

    p = entries_start
    for _ in range(2):
        kl, p = _zigzag_decode(body, p)
        p += kl
        vl, p = _zigzag_decode(body, p)
        p += vl
    entries = body[entries_start:p]
    rest = body[p:]
    rebuilt = (
        data[:4]
        + _zigzag_encode(-2)
        + _zigzag_encode(len(entries))
        + entries
        + rest
    )
    got_fields, got_rows = decode_avro_bytes(rebuilt)
    assert got_fields == fields and got_rows == rows


def struct_eq(a: float, b: float) -> bool:
    import struct as _s

    return _s.pack("<d", a) == _s.pack("<d", b)


def test_hilbert_layout_skips_and_beats_nothing_lost(spark, tmp_path):
    """Hilbert-ordered lineitem: same both-column row-group shrink
    property as z-order (the data-skipping contract), all rows kept."""
    import pyarrow.parquet as pq

    from sql_query_engine_spark.catalog import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")

    def spans(path, col):
        out = []
        for f in sorted(path.glob("part-*.parquet")):
            meta = pq.ParquetFile(str(f)).metadata
            idx = next(
                i
                for i in range(meta.num_columns)
                if meta.row_group(0).column(i).path_in_schema == col
            )
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                out.append(st.max - st.min)
        return out

    h_path = tmp_path / "li_h"
    sinks.write_hilbert_parquet(
        li, str(h_path), "l_orderkey", "l_partkey", n_files=8
    )
    for col in ("l_orderkey", "l_partkey"):
        lo, hi = li.agg(F.min(col), F.max(col)).first()
        g = hi - lo
        h_spans = spans(h_path, col)
        assert sum(h_spans) / len(h_spans) < 0.75 * g, col
    assert spark.read.parquet(str(h_path)).count() == li.count()


def test_warc_cdx_random_access(spark, tmp_path):
    """CDX sidecar: one index row per member with the exact byte
    extent; range-fetching through the index returns records identical
    to the full scan, and a corrupted extent raises with
    shard@offset+length."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        fetch_warc_members,
        read_cdx,
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(d, f"cdx doc {d} — ünïcode ☃") for d in range(9)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_cdx")
    write_warc_gz_dataset(df, out, n_files=3)

    idx = read_cdx(spark, f"{out}/*.cdx")
    assert idx.count() == 9
    # extents tile each shard exactly: per shard, offsets sorted are
    # cumulative sums of lengths
    import os as _os

    for r in idx.groupBy("shard").agg(
            F.sum("length").alias("total")).collect():
        assert _os.path.getsize(_os.path.join(out, r.shard)) == r.total

    picked = idx.filter(F.col("doc_id") % 2 == 0)
    got = sorted(
        (r.doc_id, r.target_uri, r.http_status, r.content_length, r.text)
        for r in fetch_warc_members(picked, out).collect())
    full = sorted(
        (r.doc_id, r.target_uri, r.http_status, r.content_length, r.text)
        for r in read_warc_gz(spark, f"{out}/*.warc.gz").collect()
        if r.doc_id % 2 == 0)
    assert got == full and len(got) == 5

    # off-by-one extent: the member walk fails attributably
    shifted = picked.withColumn("offset", F.col("offset") + 1)
    with _pytest.raises(Exception):
        fetch_warc_members(shifted, out).collect()


def test_warc_writer_skips_empty_partitions(spark, tmp_path):
    """rows < n_files: empty partitions must leave NO files behind —
    the gzip member walker rejects an empty stream, so a 0-byte .warc.gz
    would make the writer's own output unreadable for any consumer
    that walks shards directly instead of relying on a listing that
    skips zero-length files."""
    import glob as _glob
    import os as _os

    from sql_query_engine_spark.sources.warc import (
        read_warc_gz,
        write_warc_gz_dataset,
    )

    df = spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id long, text string")
    out = str(tmp_path / "warc_sparse")
    write_warc_gz_dataset(df, out, n_files=8)

    shards = sorted(_glob.glob(f"{out}/*.warc.gz"))
    cdxes = sorted(_glob.glob(f"{out}/*.cdx"))
    assert 1 <= len(shards) <= 2 and len(cdxes) == len(shards)
    # every emitted file is non-empty AND directly walkable
    for p in shards:
        assert _os.path.getsize(p) > 0
        assert _gz_members(open(p, "rb").read(), p)
    for p in cdxes:
        assert _os.path.getsize(p) > 0
    got = sorted(r.doc_id for r in
                 read_warc_gz(spark, f"{out}/*.warc.gz").collect())
    assert got == [1, 2]


def test_warc_cdx_extent_fuzz(spark, tmp_path):
    """Arbitrary (offset, length) extents against real shards: the
    fetcher must either return correct rows (when the extent happens to
    be exact) or raise ValueError carrying shard@offset+length — never
    an unattributable IndexError/struct crash, and never silently-wrong
    rows. Runs the extent walk row-level (no Spark job per case)."""
    import random

    from sql_query_engine_spark.sources.warc import (
        decode_warc_bytes,
        parse_http_response,
        read_cdx,
        write_warc_gz_dataset,
    )

    docs = [(d, f"extent doc {d}") for d in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_extent")
    write_warc_gz_dataset(df, out, n_files=2)

    idx = [(r.shard, r.offset, r.length)
           for r in read_cdx(spark, f"{out}/*.cdx").collect()]
    import os as _os

    shards = {s: open(_os.path.join(out, s), "rb").read()
              for s, _, _ in idx}
    rng = random.Random(0xCD)
    exact = {(s, o, ln) for s, o, ln in idx}

    def fetch_one(shard, off, ln):
        raw = shards[shard][off : off + ln]
        if len(raw) != ln:
            raise ValueError("extent past end of shard")
        members = _gz_members(raw, "fuzz")
        if len(members) != 1:
            raise ValueError("extent holds != 1 member")
        for _d, _u, _n, block in decode_warc_bytes(members[0], "fuzz"):
            parse_http_response(block, "fuzz")
        return True

    ok = bad = 0
    for _ in range(3000):
        shard, off, ln = idx[rng.randrange(len(idx))]
        mode = rng.random()
        if mode < 0.3:
            off += rng.randrange(-8, 9)
        elif mode < 0.6:
            ln += rng.randrange(-8, 9)
        else:
            off = rng.randrange(0, len(shards[shard]) + 8)
            ln = rng.randrange(0, 4096)
        if off < 0 or ln < 0:
            continue
        try:
            fetch_one(shard, off, ln)
            ok += 1
            # a successful walk from a mutated extent must mean the
            # mutation landed back on a true member boundary
            assert (shard, off, ln) in exact, (shard, off, ln)
        except ValueError:
            bad += 1
    assert ok + bad > 2500 and bad > 0


def test_gzip_header_field_ceiling_walker_parity():
    """The FNAME/FCOMMENT ceiling is deterministic (ADVICE r13): a
    TERMINATED 100 KiB FNAME must be rejected by the walker regardless
    of the caller's chunk size (before r14, chunk=256 KiB accepted
    what chunk=1 KiB rejected — acceptance depended on whether the NUL
    was already buffered; a second, in-memory walker had no ceiling at
    all). Byte buffers go through the same walker, so one chunk-size
    sweep covers every caller."""
    import io

    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        gzip_member,
        iter_gzip_members_stream,
    )

    fat = gzip_member(b"payload", fname=b"A" * 100_000)
    for chunk in (1024, 256 * 1024, 1 << 20):
        with _pytest.raises(ValueError, match="FNAME field exceeds"):
            list(iter_gzip_members_stream(io.BytesIO(fat), "<fat>",
                                          chunk=chunk))
    # a legal FNAME passes at every chunk size identically
    ok = gzip_member(b"payload", fname=b"n" * 1024)
    for chunk in (7, 256 * 1024):
        assert list(iter_gzip_members_stream(
            io.BytesIO(ok), "<ok>", chunk=chunk)) == [b"payload"]


def test_warc_single_segment_chain_closes(spark):
    """A FIRST segment that itself declares WARC-Segment-Total-Length
    is a complete single-segment chain (ADVICE r13): it must close and
    yield immediately — before r14 the chain could never close, and
    the NEXT unrelated record raised 'interleaves an open segmented
    record', blaming the wrong record. A total that disagrees with the
    block still raises, on the RIGHT record."""
    import pytest as _pytest

    from sql_query_engine_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        gzip_member,
    )

    ent = "single-segment body — ☃".encode()
    http = build_http_response(ent, 7)
    single = build_warc_record(
        7, payload=http,
        content_type=b"application/http;msgtype=response",
        extra_headers=[
            (b"WARC-Segment-Number", b"1"),
            (b"WARC-Segment-Total-Length", str(len(http)).encode()),
        ])
    plain = build_warc_record(
        8, payload=build_http_response(b"plain follower", 8),
        content_type=b"application/http;msgtype=response")
    stream = gzip_member(single) + gzip_member(plain)
    got = {d: block for d, _u, _n, block, _wh in
           _gz_responses(stream, "<single-seg>")}
    assert set(got) == {7, 8}, "follower must not be blamed for a chain"
    assert got[7] == http

    bad = build_warc_record(
        7, payload=http,
        content_type=b"application/http;msgtype=response",
        extra_headers=[
            (b"WARC-Segment-Number", b"1"),
            (b"WARC-Segment-Total-Length",
             str(len(http) + 3).encode()),
        ])
    with _pytest.raises(ValueError,
                        match="WARC-Segment-Total-Length"):
        _gz_responses(gzip_member(bad), "<single-seg>")


def test_cached_fixture_writer_edit_rebuilds(tmp_path):
    """A sentinel recorded by a DIFFERENT writer-module fingerprint
    must REBUILD on reuse, not silently certify (ADVICE r13 medium:
    before r14 the sentinel's digests came from the old writer's
    bytes, so recomputation still matched and a writer change under an
    un-bumped _FIXTURE_VERSION was undetectable)."""
    import json
    import os

    from sql_query_engine_spark.queries import (
        _cached_fixture,
        _writer_fingerprint,
    )

    d = str(tmp_path / "fx")
    calls = []

    def build():
        os.makedirs(d, exist_ok=True)
        (tmp_path / "fx" / "a.bin").write_bytes(b"deterministic")
        calls.append(1)

    _cached_fixture(d, build)
    sentinel = os.path.join(d, "_FIXTURE_OK.json")
    meta = json.load(open(sentinel))
    assert meta["writer_sha"] == _writer_fingerprint()
    # simulate "writer edited, version not bumped": stale fingerprint
    meta["writer_sha"] = "0" * 16
    json.dump(meta, open(sentinel, "w"))
    _cached_fixture(d, build)
    assert len(calls) == 2, "stale writer fingerprint must rebuild"
    assert (json.load(open(sentinel))["writer_sha"]
            == _writer_fingerprint())
    _cached_fixture(d, build)
    assert len(calls) == 2, "fresh sentinel must reuse again"


def test_fetch_extent_contract(spark, tmp_path):
    """try_fetch_extent (the CDX fetch decode the r14 soak hammers):
    an exact chain extent yields exactly the control row; a truncated
    extent (partial chain) and an over-long extent (two logical
    responses) reject — NEVER a short row silently serving a prefix of
    a segmented document."""
    import hashlib

    from sql_query_engine_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        gzip_member,
        try_fetch_extent,
        _segment_members,
    )

    ent = "chain-extent body — ünïcode ☃ ".encode() * 40
    http = build_http_response(ent, 5)
    orig = b"<urn:uuid:00000000-0000-0000-0000-000000000005>"
    chain = b"".join(_segment_members(
        5, http, orig, hashlib.sha256(ent).hexdigest()))
    plain = gzip_member(build_warc_record(
        9, payload=build_http_response(b"next", 9),
        content_type=b"application/http;msgtype=response"))

    control = try_fetch_extent(chain)
    assert control is not None and control[0] == 5
    assert control[3] == len(ent), "entity length must be the FULL chain"
    assert try_fetch_extent(chain[: len(chain) - len(plain) // 2]) is None
    assert try_fetch_extent(chain[:100]) is None
    assert try_fetch_extent(chain + plain) is None, \
        "two logical responses in one extent must reject"


def test_http_request_roundtrip_all_framings():
    """build_http_request/parse_http_request_ex: the GET majority is
    bodyless with NO framing header (RFC 7230 §3.3.3's request-side
    rule), every 5th doc POSTs with Content-Length, every 10th POSTs
    CHUNKED with verified X-Len / X-Payload-SHA256 trailers."""
    from sql_query_engine_spark.sources.warc import (
        _request_body,
        build_http_request,
        parse_http_request_ex,
    )

    for d in [0, 1, 3, 5, 7, 10, 15, 20, 25, 30, 97, 100, 1234567]:
        m, t, v, hh, body, k = parse_http_request_ex(
            build_http_request(d), f"doc{d}")
        assert body == _request_body(d)
        assert m == ("POST" if d % 5 == 0 else "GET")
        assert t == f"/doc/{d}" and v == "HTTP/1.1"
        assert hh[b"user-agent"] == f"sqes-crawler/{d % 3}".encode()
        exp_k = min(d % 3 + 1, len(body)) if d % 10 == 0 else 0
        assert k == exp_k
        if d % 10 == 0:
            # the trailer section actually rode the wire and merged
            assert int(hh[b"x-len"]) == len(body)


def test_http_request_defects_reject():
    """Request-line and framing MUSTs: every defect is an attributable
    ValueError, never a silently-empty or truncated parse."""
    import pytest

    from sql_query_engine_spark.sources.warc import parse_http_request_ex

    bads = [
        b"GET /x HTTP/1.1",                    # unterminated line
        b"GET /x\r\n\r\n",                     # two-part request line
        b"GET a b HTTP/1.1\r\n\r\n",           # four parts
        b"GET /x HTTP/2.0\r\n\r\n",            # unknown version
        b"g{}t /x HTTP/1.1\r\n\r\n",           # non-tchar method
        b"GET  HTTP/1.1\r\n\r\n",              # empty target
        b"GET /x HTTP/1.1\r\nHost example\r\n\r\n",   # colonless header
        b"GET /x HTTP/1.1\r\n\r\ngarbage",     # no-framing body bytes
        b"POST /x HTTP/1.1\r\nContent-Length: 5\r\n\r\nabc",  # short CL
        b"POST /x HTTP/1.1\r\nContent-Length: 3\r\n\r\nabcd",  # long CL
        (b"POST /x HTTP/1.1\r\nTransfer-Encoding: chunked\r\n\r\n"
         b"3\r\nabc\r\n"),                     # missing last-chunk
        (b"POST /x HTTP/1.1\r\nTransfer-Encoding: chunked\r\n\r\n"
         b"3\r\nabc\r\n0\r\nX-Len: 4\r\n\r\n"),  # lying X-Len trailer
    ]
    for b in bads:
        with pytest.raises(ValueError):
            parse_http_request_ex(b)


def test_warc_request_records(spark, tmp_path):
    """requests=True: every capture's request record precedes its
    response (WARC-Concurrent-To linking them id-exactly). The request
    reader surfaces method/target/agent/body columns; the response,
    revisit, and CDX planes are unperturbed by the interleaved request
    members (extents stay exact)."""
    from sql_query_engine_spark.sources.warc import (
        fetch_warc_members,
        read_cdx,
        read_warc_gz,
        write_warc_gz_dataset,
    )

    docs = [(d, f"request-plane doc {d} ☃") for d in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = str(tmp_path / "warc_requests")
    write_warc_gz_dataset(df, out, n_files=2, requests=True, segments=8)

    reqs = {r.doc_id: r for r in
            read_warc_gz(spark, f"{out}/*.warc.gz", plane="request")
            .collect()}
    assert set(reqs) == set(range(40))
    for d in range(40):
        r = reqs[d]
        assert r.target_uri == f"http://example.com/doc/{d}"
        assert r.request_target == f"/doc/{d}"
        assert r.http_version == "HTTP/1.1"
        assert r.user_agent == f"sqes-crawler/{d % 3}"
        assert r.concurrent_to == (
            f"<urn:uuid:00000000-0000-0000-0000-{d:012d}>")
        if d % 5 == 0:
            assert r.method == "POST"
            assert r.body_len == len(f"q={d}&page={d % 7}")
            assert r.n_chunks == (min(d % 3 + 1, r.body_len)
                                  if d % 10 == 0 else 0)
        else:
            assert r.method == "GET"
            assert r.body_len == 0 and r.n_chunks == 0

    # the response walk (incl. segment reassembly) skips requests
    got = read_warc_gz(spark, f"{out}/*.warc.gz")
    assert sorted(r.doc_id for r in got.collect()) == list(range(40))

    # CDX extents stay exact around the un-indexed request members
    idx = read_cdx(spark, f"{out}/*.cdx")
    assert idx.count() == 40
    fetched = {r.doc_id: r for r in fetch_warc_members(idx, out).collect()}
    assert set(fetched) == set(range(40))
    for d, t in docs:
        assert fetched[d].content_length == len(t.encode("utf-8"))


def test_warc_request_malformed_raises(spark, tmp_path):
    """A request record whose block is not a legal HTTP request must
    raise with the shard path (provenance, not droppable data), and
    the fuzz wrapper must reject it — never a half-parsed row."""
    import pytest

    from sql_query_engine_spark.sources.warc import (
        build_warc_record,
        gzip_member,
        read_warc_gz,
        try_scan_warc_gz,
    )

    bad = build_warc_record(
        3, payload=b"GET /x\r\nHost: x\r\n\r\n",  # two-part request line
        warc_type=b"request",
        content_type=b"application/http;msgtype=request")
    d = tmp_path / "warc_badreq"
    d.mkdir()
    (d / "part-00000.warc.gz").write_bytes(gzip_member(bad))
    with pytest.raises(Exception, match="request line"):
        read_warc_gz(
            spark, str(d) + "/*.warc.gz", plane="request").collect()
    assert try_scan_warc_gz(gzip_member(bad), "request") is None


def test_http_framing_ambiguity_rejects():
    """RFC 7230 §3.3.3's request-smuggling ambiguity class rejects on
    BOTH message sides: duplicate Content-Length / Transfer-Encoding
    fields, and Content-Length combined with chunked Transfer-Encoding
    — a parser that silently picks one interpretation misattributes
    what was actually transferred."""
    import pytest

    from sql_query_engine_spark.sources.warc import (
        parse_http_request_ex,
        parse_http_response_ex,
    )

    req_bads = [
        (b"POST /x HTTP/1.1\r\nContent-Length: 3\r\n"
         b"Content-Length: 4\r\n\r\nabcd"),          # duplicate CL
        (b"POST /x HTTP/1.1\r\nTransfer-Encoding: chunked\r\n"
         b"Transfer-Encoding: chunked\r\n\r\n0\r\n\r\n"),  # duplicate TE
        (b"POST /x HTTP/1.1\r\nContent-Length: 999\r\n"
         b"Transfer-Encoding: chunked\r\n\r\n0\r\n\r\n"),  # CL + chunked
    ]
    for b in req_bads:
        with pytest.raises(ValueError, match="ambiguity"):
            parse_http_request_ex(b)

    resp_bads = [
        (b"HTTP/1.1 200 OK\r\nContent-Length: 3\r\n"
         b"Content-Length: 4\r\n\r\nabcd"),
        (b"HTTP/1.1 200 OK\r\nContent-Length: 999\r\n"
         b"Transfer-Encoding: chunked\r\n\r\n0\r\n\r\n"),
        # ADVICE r14: a TE value that is NOT exactly 'chunked' plus CL
        # must still be the ambiguity error, never CL framing
        (b"HTTP/1.1 200 OK\r\nContent-Length: 3\r\n"
         b"Transfer-Encoding: gzip, chunked\r\n\r\nabc"),
    ]
    for b in resp_bads:
        with pytest.raises(ValueError, match="ambiguity"):
            parse_http_response_ex(b)
    with pytest.raises(ValueError, match="ambiguity"):
        parse_http_request_ex(
            b"POST /x HTTP/1.1\r\nContent-Length: 3\r\n"
            b"Transfer-Encoding: gzip, chunked\r\n\r\nabc")

    # an unsupported transfer coding WITHOUT Content-Length rejects
    # outright (this decoder only dechunks 'chunked')
    for msg, parse in (
        (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip\r\n\r\nabc",
         parse_http_response_ex),
        (b"POST /x HTTP/1.1\r\nTransfer-Encoding: gzip, chunked\r\n"
         b"\r\n0\r\n\r\n", parse_http_request_ex),
    ):
        with pytest.raises(ValueError, match="unsupported Transfer-Encoding"):
            parse(msg)


def test_http_framing_token_strictness():
    """ADVICE r14: chunk sizes must be HEXDIG-only and Content-Length /
    X-Len DIGIT-only — python's int() laxities ('0x2', '+2', '1_0',
    whitespace, negatives) are framing defects, not alternate
    spellings. A '-2' size line would otherwise re-match its own CRLF
    and plant a phantom empty chunk."""
    import pytest

    from sql_query_engine_spark.sources.warc import (
        parse_http_request_ex,
        parse_http_response_ex,
    )

    def chunked(size_line: bytes) -> bytes:
        return (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                + size_line + b"\r\nab\r\n0\r\n\r\n")

    # (surrounding whitespace is normalized by the long-standing
    # token strip — the laxities below are VALUE spellings int() would
    # otherwise accept)
    for tok in (b"0x2", b"+2", b"-2", b"1_0", b""):
        with pytest.raises(ValueError, match="chunk size|chunk-size"):
            parse_http_response_ex(chunked(tok))
    # the valid spelling still parses (regression guard)
    st, _hh, body, k = parse_http_response_ex(chunked(b"2"))
    assert (st, body, k) == (200, b"ab", 1)
    # extensions after ';' stay legal
    st, _hh, body, k = parse_http_response_ex(chunked(b"2;ext=1"))
    assert (st, body, k) == (200, b"ab", 1)

    for cl in (b"+3", b"3_", b"", b"0x3"):
        with pytest.raises(ValueError, match="Content-Length"):
            parse_http_response_ex(
                b"HTTP/1.1 200 OK\r\nContent-Length: " + cl + b"\r\n\r\nabc")
        with pytest.raises(ValueError, match="Content-Length"):
            parse_http_request_ex(
                b"POST /x HTTP/1.1\r\nContent-Length: " + cl + b"\r\n\r\nabc")
