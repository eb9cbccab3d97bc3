"""Structured Streaming equivalence: the windowed operators must produce
the same results under the real streaming engine as in batch.

Runs ``readStream`` over the events parquet with an availableNow trigger
into a memory sink and compares against the batch twin — the capability
the reference entirely lacks (SURVEY.md §2.3 'Streaming: nothing')."""

from __future__ import annotations

import pytest

from sql_query_engine_spark.catalog import load_table, normalize_events, raw_schema
from sql_query_engine_spark.streaming import events as EV
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF_DIR, "events")


def _event_stream(spark, path):
    """readStream over staged events parquet: declare the *physical* file
    schema, then normalize to the engine contract (ts nanos + ts_utc) —
    exactly what load_table does on the batch side."""
    raw = spark.readStream.schema(raw_schema(spark, SF_DIR, "events")).parquet(path)
    return normalize_events(raw)


def test_stream_tumbling_equals_batch(spark, batch_events, tmp_path):
    # FileStreamSource wants a *directory* of files — stage the single
    # parquet file into one (symlink; testdata is read-only)
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{SF_DIR}/events.parquet")

    stream_df = EV.stream_tumbling_counts(
        spark, str(stream_dir), raw_schema(spark, SF_DIR, "events")
    )
    assert stream_df.isStreaming

    q = (
        stream_df.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start_ns, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    expected = {
        (r.window_start_ns, r.event_type): r.n_events
        for r in EV.tumbling_counts(batch_events).collect()
    }
    assert got == expected


def test_session_window_operator_batch(spark, batch_events):
    """session_window() — the native Spark operator — must agree with our
    lag/cumsum sessionization on session count and event totals."""
    from pyspark.sql import functions as F

    ours = EV.session_stats(batch_events)
    native = (
        batch_events.groupBy(
            F.session_window(F.col("ts_utc"), "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
    )
    assert ours.count() == native.count()
    assert (
        ours.agg(F.sum("n_events")).collect()[0][0]
        == native.agg(F.sum("n_events")).collect()[0][0]
    )


def test_stateful_profile_stream_equals_batch(spark, batch_events, tmp_path):
    """applyInPandasWithState (real streaming, availableNow) must produce
    the same per-user profiles as the batch applyInPandas twin —
    including the float running sum (identical fold order)."""
    from sql_query_engine_spark.streaming import stateful

    stream_dir = tmp_path / "events_stateful"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{SF_DIR}/events.parquet")

    raw = _event_stream(spark, str(stream_dir))
    q = (
        stateful.profile_stream(raw)
        .writeStream.format("memory")
        .queryName("profile_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.user_id: (r.n_events, r.sum_value, r.last_ts_us, r.n_bursts)
        for r in spark.sql("SELECT * FROM profile_test").collect()
    }
    expected = {
        r.user_id: (r.n_events, r.sum_value, r.last_ts_us, r.n_bursts)
        for r in stateful.profile_batch(batch_events).collect()
    }
    assert got == expected
    assert len(got) > 0
    # bursts must actually occur in this corpus (60s gaps at ~4min mean
    # inter-arrival per user happen regularly)
    assert sum(v[3] for v in got.values()) > 0


def test_stream_stream_interval_join(spark, batch_events, tmp_path):
    """Stream-stream join with event-time bounds and watermarks: clicks
    joined to purchases of the same user within the preceding hour. The
    streaming row set must equal the batch interval join."""
    from pyspark.sql import functions as F

    stream_dir = tmp_path / "events_ssj"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{SF_DIR}/events.parquet")

    def stream_side(event_type, alias_prefix):
        raw = _event_stream(spark, str(stream_dir))
        return (
            raw.filter(F.col("event_type") == event_type)
            .withWatermark("ts_utc", "2 hours")
            .select(
                F.col("event_id").alias(f"{alias_prefix}_id"),
                F.col("user_id").alias(f"{alias_prefix}_user"),
                F.col("ts_utc").alias(f"{alias_prefix}_ts"),
            )
        )

    clicks = stream_side("click", "c")
    purchases = stream_side("purchase", "p")
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt5"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.p_id, r.c_id)
        for r in spark.sql("SELECT p_id, c_id FROM ssj_test").collect()
    }

    # batch twin over the same file
    e = batch_events.select(
        "event_id", "user_id", "event_type", F.expr("ts DIV 1000").alias("t")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"), F.col("t").alias("c_t")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("t").alias("p_t")
    )
    expected = {
        (r.p_id, r.c_id)
        for r in p.join(
            c,
            (p["user_id"] == c["c_user"])
            & (c["c_t"] > p["p_t"] - 3_600_000_000)
            & (c["c_t"] <= p["p_t"]),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stream_static_join(spark, batch_events, tmp_path):
    """Stream-static join: the streaming events enrich against the static
    customer dim (broadcast per micro-batch); result equals the batch
    join."""
    from pyspark.sql import functions as F

    from sql_query_engine_spark.catalog import load_table

    customer = load_table(spark, SF_DIR, "customer")

    stream_dir = tmp_path / "events_ss"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{SF_DIR}/events.parquet")
    raw = _event_stream(spark, str(stream_dir))
    enriched = (
        raw.join(customer, raw["user_id"] == customer["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.c_mktsegment: r.n for r in spark.sql("SELECT * FROM ss_join_test").collect()
    }
    expected = {
        r.c_mktsegment: r.n
        for r in (
            batch_events.join(customer, batch_events["user_id"] == customer["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    assert got == expected and len(got) > 0


def test_drop_duplicates_within_watermark(spark, batch_events, tmp_path):
    """Streaming dedup with bounded state: duplicate event_ids arriving
    within the watermark are suppressed; state older than the watermark
    is eligible for eviction (bounded memory at 100 TB/day rates)."""
    from pyspark.sql import functions as F

    # stage the same file TWICE so every event arrives twice
    stream_dir = tmp_path / "events_dup"
    stream_dir.mkdir()
    (stream_dir / "a.parquet").symlink_to(f"{SF_DIR}/events.parquet")
    (stream_dir / "b.parquet").symlink_to(f"{SF_DIR}/events.parquet")

    raw = _event_stream(spark, str(stream_dir))
    deduped = (
        raw.withWatermark("ts_utc", "90 days")  # bounded corpus: keep all state
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS c, count(DISTINCT event_id) AS d FROM dedup_wm_test").first()
    expected = batch_events.count()
    assert got.c == expected  # doubled input, deduped output
    assert got.d == expected


def test_sliding_each_event_in_two_windows(spark, batch_events):
    total_events = batch_events.count()
    from pyspark.sql import functions as F

    windowed = EV.sliding_counts(batch_events)
    assert windowed.agg(F.sum("n_events")).collect()[0][0] == 2 * total_events


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    """incremental_neardup on a REAL document stream (readStream →
    stream-static band join → append memory sink) must emit exactly the
    DuckDB oracle's near-dup pairs for the same split — the streaming
    ingest-dedup story end-to-end: arriving docs probe the known corpus's
    index with zero stateful operators (no watermark, bounded memory by
    construction).
    """
    import duckdb
    from pyspark.sql import functions as F

    from sql_query_engine_spark.catalog import table_path
    from sql_query_engine_spark.functions import dedup

    docs = load_table(spark, SF_DIR, "documents")
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    known = docs.filter(F.col("doc_id") % 2 == 0)

    # stage the arriving batch as a parquet directory for FileStreamSource
    stream_dir = tmp_path / "docs_stream"
    new_batch.coalesce(1).write.parquet(str(stream_dir))

    new_stream = spark.readStream.schema(docs.schema).parquet(str(stream_dir))
    out = dedup.incremental_neardup(new_stream, known)
    assert out.isStreaming

    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.new_doc, r.known_doc, r.jaccard)
        for r in spark.sql("SELECT * FROM dedup_stream_test").collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{table_path(SF_DIR, 'documents')}'"
    )
    expected = set(
        con.sql(dedup.incremental_neardup_oracle("% 2 = 1", "% 2 = 0")).fetchall()
    )
    assert got == expected
    assert len(expected) > 0


def test_incremental_sessionization_across_microbatches(spark, batch_events, tmp_path):
    """Native session_window under REAL incremental execution: events
    arrive in 3 chronological micro-batches (maxFilesPerTrigger=1) with a
    30-minute watermark, and the appended (finalized) sessions must equal
    the batch session_window result.

    Semantics this pins down, incrementally:

    * a session only EMITS once the event-time watermark passes its close
      (session end + gap) — append mode emits no provisional rows;
    * a user session that spans a micro-batch boundary is held as state
      and merged, not split — the cross-batch session counts match batch;
    * a final sentinel event (user −1, far future) advances the global
      watermark past every real session so the append sink flushes all of
      them; the sentinel's own still-open session is the only one absent.
    """
    from pyspark.sql import functions as F

    ev = batch_events.select("user_id", "ts", "ts_utc", "value")
    # 3 chronological thirds by event time (quantiles on the int64-nanos
    # column; approxQuantile rejects timestamps) — files written in order
    # so FileStreamSource (latestFirst=false) triggers them as 3 batches
    q1, q2 = ev.approxQuantile("ts", [0.33, 0.66], 0.001)
    stream_dir = tmp_path / "events_sessions"
    stream_dir.mkdir()
    thirds = [
        ev.filter(F.col("ts") <= F.lit(q1)),
        ev.filter((F.col("ts") > F.lit(q1)) & (F.col("ts") <= F.lit(q2))),
        ev.filter(F.col("ts") > F.lit(q2)),
    ]
    parts = [p.select("user_id", "ts_utc", "value") for p in thirds]
    ev = ev.select("user_id", "ts_utc", "value")
    sentinel = spark.sql(
        "SELECT cast(-1 as bigint) AS user_id, "
        "timestamp'2100-01-01 00:00:00' AS ts_utc, cast(0 as double) AS value"
    )
    import time as _time

    for i, part in enumerate(parts + [sentinel]):
        part.coalesce(1).write.parquet(str(stream_dir / f"b{i}"))
        _time.sleep(1.1)  # distinct mtimes => deterministic trigger order

    def sessionize(df):
        return (
            df.groupBy(
                F.session_window(F.col("ts_utc"), "30 minutes").alias("w"),
                "user_id",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
                "sum_value",
            )
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "b*"))
        .withWatermark("ts_utc", "30 minutes")
    )
    out = sessionize(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("session_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    # 3 data batches + sentinel arrived as separate triggers
    assert len(q.recentProgress) >= 4

    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT * FROM session_stream_test WHERE user_id >= 0"
        ).collect()
    }
    want = {tuple(r) for r in sessionize(ev).collect()}
    assert got == want and len(want) > 0


def test_streaming_text_pipeline_equals_batch(spark, tmp_path):
    """quality-gate → scrub → chunk on a REAL document stream: every
    stage is a stateless projection/generator, so the training-data prep
    front half runs as-is under Structured Streaming — the streamed chunk
    set must equal the batch run exactly."""
    from pyspark.sql import functions as F

    from sql_query_engine_spark.functions import chunking, text

    docs = load_table(spark, SF_DIR, "documents")

    def front_half(df):
        ntok = F.expr(text.ORACLE_EXPRS["n_tokens"][0])
        qual = F.expr(text.ORACLE_EXPRS["quality"][0])
        lang = F.expr(text.ORACLE_EXPRS["lang_id"][0])
        kept = df.filter(
            (ntok >= 20) & (ntok <= 1000) & (qual > 0.3) & (lang != "und")
        )
        scrubbed = kept.select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("text", "[0-9]+", "<NUM>"),
                "[a-z0-9._%+-]+@[a-z0-9.-]+",
                "<EMAIL>",
            ).alias("text"),
        )
        return chunking.chunk_documents_sql(scrubbed)

    stream_dir = tmp_path / "docs_pipe_stream"
    docs.coalesce(1).write.parquet(str(stream_dir))
    stream = spark.readStream.schema(docs.schema).parquet(str(stream_dir))

    out = front_half(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("pipe_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_pipe"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        tuple(r) for r in spark.sql("SELECT * FROM pipe_stream_test").collect()
    }
    want = {tuple(r) for r in front_half(docs).collect()}
    assert got == want and len(want) > 0


def test_stateful_quota_across_microbatches(spark, tmp_path):
    """Keyed-state quota under REAL incremental execution: documents
    arrive in 3 doc_id-ordered micro-batches and the per-source admission
    quota (cap 10) must admit exactly the same rows — with the same admit
    ranks — as the batch window twin. Cross-batch the counter lives in
    the state store: a source with 7 docs in batch 1 may only admit 3
    more afterwards."""
    from pyspark.sql import functions as F

    from sql_query_engine_spark.catalog import load_table
    from sql_query_engine_spark.streaming import quota

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "n_chars"
    )
    n = docs.count()
    q1, q2 = n // 3, 2 * n // 3
    stream_dir = tmp_path / "docs_quota"
    stream_dir.mkdir()
    import time as _time

    thirds = [
        docs.filter(F.col("doc_id") < q1),
        docs.filter((F.col("doc_id") >= q1) & (F.col("doc_id") < q2)),
        docs.filter(F.col("doc_id") >= q2),
    ]
    for i, part in enumerate(thirds):
        part.coalesce(1).write.parquet(str(stream_dir / f"b{i}"))
        _time.sleep(1.1)  # distinct mtimes => deterministic trigger order

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "b*"))
    )
    q = (
        quota.quota_stream(stream, cap=10)
        .writeStream.format("memory")
        .queryName("quota_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_quota"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.source, r.doc_id): (r.n_chars, r.admit_rank)
        for r in spark.sql("SELECT * FROM quota_test").collect()
    }
    expected = {
        (r.source, r.doc_id): (r.n_chars, r.admit_rank)
        for r in quota.quota_batch(docs, cap=10).collect()
    }
    assert got == expected
    assert len(got) == 10 * 20  # 20 sources, every one capped at exactly 10


def test_quota_tws_gates_on_protobuf(spark):
    """The Spark 4 transformWithState variant must either run (protobuf
    present) or refuse with a clear NotImplementedError — never crash a
    stream at runtime with an opaque worker death."""
    import pytest

    from sql_query_engine_spark.catalog import load_table
    from sql_query_engine_spark.streaming import quota

    docs = load_table(spark, SF_DIR, "documents")
    if quota.HAS_PROTOBUF:
        pytest.skip("protobuf available: covered by the streaming run")
    with pytest.raises(NotImplementedError, match="protobuf"):
        quota.quota_stream_tws(docs, cap=10)


def test_observed_gate_metrics_under_streaming(spark, tmp_path):
    """The quality gate's observe() accounting must keep working when the
    corpus arrives as a stream: per-micro-batch observed metrics from the
    progress events must total exactly the batch run's metrics."""
    from pyspark.sql import functions as F

    from sql_query_engine_spark.catalog import load_table
    from sql_query_engine_spark.functions.observe import (
        observed_quality_gate,
        observed_quality_gate_stream,
    )

    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    stream_dir = tmp_path / "docs_observe"
    stream_dir.mkdir()
    import time as _time

    halves = [
        docs.filter(F.col("doc_id") < n // 2),
        docs.filter(F.col("doc_id") >= n // 2),
    ]
    for i, part in enumerate(halves):
        part.coalesce(1).write.parquet(str(stream_dir / f"b{i}"))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "b*"))
    )
    gated = observed_quality_gate_stream(stream, name="gate_stream")
    q = (
        gated.writeStream.format("parquet")
        .option("path", str(tmp_path / "obs_out"))
        .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    totals: dict[str, int] = {}
    n_batches = 0
    for prog in q.recentProgress:
        om = (prog.get("observedMetrics") or {}).get("gate_stream")
        if om is None:
            continue
        n_batches += 1
        for k, v in om.asDict().items():
            totals[k] = totals.get(k, 0) + (v or 0)
    assert n_batches >= 2, "expected metrics from both micro-batches"

    gated_batch, obs = observed_quality_gate(docs)
    admitted = gated_batch.count()
    m = obs.get
    assert totals["n_seen"] == m["n_seen"] == n
    assert totals["n_admitted"] == m["n_admitted"] == admitted
    assert totals["sum_admitted_chars"] == m["sum_admitted_chars"]
    assert spark.read.parquet(str(tmp_path / "obs_out")).count() == admitted


def test_idempotent_sink_replay_and_restart_no_duplicates(spark, tmp_path):
    """Exactly-once by idempotence: (a) a manually REPLAYED micro-batch
    (same batch_id — the engine's at-least-once replay contract)
    overwrites instead of appending; (b) restarting the query from the
    same checkpoint over the same input adds nothing; (c) the delivered
    rows equal the input exactly."""
    from sql_query_engine_spark.streaming.sinks import idempotent_parquet_sink

    src = tmp_path / "src"
    src.mkdir()
    spark.range(0, 100).selectExpr("id", "id * 2 AS v").write.parquet(
        str(src / "p1")
    )
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    stream = spark.readStream.schema("id long, v long").parquet(str(src / "p1"))
    sink = idempotent_parquet_sink(str(out))

    def run():
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    delivered = spark.read.parquet(str(out))
    assert delivered.count() == 100

    # (a) simulate the crash-replay: same batch contents, same batch_id
    replay_df = spark.read.parquet(str(src / "p1"))
    sink(replay_df, 0)
    assert spark.read.parquet(str(out)).count() == 100

    # (b) restart from the same checkpoint: no new batches, no new rows
    run()
    after = spark.read.parquet(str(out))
    assert after.count() == 100
    # (c) content equality with the input
    assert after.select("id", "v").exceptAll(
        spark.read.parquet(str(src / "p1"))
    ).count() == 0


def test_streaming_cdc_across_microbatches_equals_batch(spark, batch_events, tmp_path):
    """Last-writer-wins CDC view maintenance under real incremental
    execution: the changelog arrives as 3 chronological micro-batches;
    the latest update per key (the maintained view) must equal the batch
    compaction AND queries.pipeline_cdc_upsert's relational form."""
    from pyspark.sql import functions as F

    from sql_query_engine_spark.streaming.cdc import cdc_batch, cdc_stream

    ev = batch_events.select("event_id", "user_id", "ts", "event_type", "value")
    q1, q2 = ev.approxQuantile("ts", [0.33, 0.66], 0.001)
    stream_dir = tmp_path / "cdc_stream"
    stream_dir.mkdir()
    thirds = [
        ev.filter(F.col("ts") <= F.lit(q1)),
        ev.filter((F.col("ts") > F.lit(q1)) & (F.col("ts") <= F.lit(q2))),
        ev.filter(F.col("ts") > F.lit(q2)),
    ]
    import time as _time

    for i, part in enumerate(thirds):
        part.coalesce(1).write.parquet(str(stream_dir / f"b{i}"))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "b*"))
    )
    out = cdc_stream(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("cdc_stream_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert len(q.recentProgress) >= 3  # three real triggers

    # the view = each key's LATEST update across triggers; the memory
    # sink appends updates in trigger order, so dedupe by max last_t_us
    # with deleted rows (last_t_us NULL) ranked by arrival via a
    # monotonically increasing row id
    updates = spark.sql(
        "SELECT *, monotonically_increasing_id() AS seq FROM cdc_stream_test"
    ).collect()
    view = {}
    for r in sorted(updates, key=lambda r: r.seq):
        view[r.user_id] = (r.last_event_type, r.last_value, r.last_t_us, r.deleted)

    want = {
        r.user_id: (r.last_event_type, r.last_value, r.last_t_us, r.deleted)
        for r in cdc_batch(ev).collect()
    }
    assert view == want

    # and the surviving (non-deleted) keys equal the relational batch query
    from sql_query_engine_spark.queries import pipeline_cdc_upsert
    from tests.conftest import SF_DIR

    rel = {
        r.user_id: (r.last_event_type, r.last_value, r.last_t_us)
        for r in pipeline_cdc_upsert(spark, SF_DIR).collect()
    }
    stream_alive = {
        u: (et, v, t) for u, (et, v, t, d) in view.items() if not d
    }
    assert stream_alive == rel


def test_stream_countmin_partials_equal_batch(spark, batch_events, tmp_path):
    """The hourly CM grid fragments produced under the real streaming
    engine equal the batch partials cell-for-cell, and merging them
    cell-wise reproduces the whole-corpus sketch exactly — incremental
    sketch maintenance loses nothing."""
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{SF_DIR}/events.parquet")

    stream_df = EV.stream_countmin_partials(
        spark, str(stream_dir), raw_schema(spark, SF_DIR, "events")
    )
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("cm_partials_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_cm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.hour_start_ns, r.row_id, r.bucket): r.cnt
        for r in spark.sql("SELECT * FROM cm_partials_test").collect()
    }
    expected = {
        (r.hour_start_ns, r.row_id, r.bucket): r.cnt
        for r in EV.countmin_partials(batch_events).collect()
    }
    assert got == expected and len(expected) > 0

    # cell-wise merge of hourly fragments == one-pass whole sketch
    merged: dict = {}
    for (h, row_id, bucket), cnt in got.items():
        merged[(row_id, bucket)] = merged.get((row_id, bucket), 0) + cnt
    from pyspark.sql import functions as F

    whole = {
        (r.row_id, r.bucket): r.cnt
        for r in EV.countmin_partials(batch_events)
        .groupBy("row_id", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == whole


def test_stateful_token_bucket_stream_equals_batch(spark, batch_events, tmp_path):
    """The streaming token bucket (applyInPandasWithState) must equal the
    batch recursive-transition query across MULTIPLE triggers: the corpus
    is split at the median event time into two files processed one per
    micro-batch (maxFilesPerTrigger=1), so bucket levels and last-seen
    times genuinely carry through the state store."""
    import os
    import sys
    import time as _time

    import sql_query_engine_spark.queries  # noqa: F401
    from sql_query_engine_spark.streaming import stateful

    qmod = sys.modules["sql_query_engine_spark.queries"]

    from pyspark.sql import functions as F

    median_ts = batch_events.approxQuantile("ts", [0.5], 0.0)[0]
    stream_dir = tmp_path / "events_tb"
    early = str(stream_dir / "a")
    late = str(stream_dir / "b")
    batch_events.filter(F.col("ts") <= median_ts).write.parquet(early)
    _time.sleep(1.1)  # file-source ordering is by modification time
    batch_events.filter(F.col("ts") > median_ts).write.parquet(late)
    for sub in (late,):
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f))

    # staged files carry the NORMALIZED schema (ts = int64 nanos), so
    # read them with it directly — no second normalization pass
    raw = spark.readStream.schema(batch_events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{stream_dir}/*")
    q = (
        stateful.token_bucket_stream(raw)
        .writeStream.format("memory")
        .queryName("tb_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r.event_id: (bool(r.admitted), r.tokens_after)
        for r in spark.sql("SELECT * FROM tb_test").collect()
    }
    expected = {
        r.event_id: (r.admitted, r.tokens_after)
        for r in qmod.stream_token_bucket(spark, SF_DIR).collect()
    }
    assert len(got) == len(expected) > 0
    assert got == expected


def test_stateful_state_survives_query_restart(spark, tmp_path):
    """Crash-recovery semantics: the keyed quota state must survive a
    FULL QUERY RESTART, not just multiple triggers of one run. Phase 1
    processes the first half of the corpus and stops; phase 2 is a NEW
    query object on the same checkpoint seeing only newly-arrived files,
    so every per-source admission counter must be REHYDRATED from the
    state store on disk. Output goes through the fault-tolerant file
    sink; the union of both phases must equal the batch twin over the
    whole corpus — any lost state would over-admit in phase 2."""
    import time as _time

    from pyspark.sql import functions as F

    from sql_query_engine_spark.catalog import load_table
    from sql_query_engine_spark.streaming import quota

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "n_chars"
    )
    n = docs.count()
    half = n // 2
    stream_dir = tmp_path / "docs_restart"
    stream_dir.mkdir()
    out = str(tmp_path / "out_restart")
    ckpt = str(tmp_path / "ckpt_restart")

    def run_available_now():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir / "b*"))
        )
        q = (
            quota.quota_stream(stream, cap=10)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(
        str(stream_dir / "b0")
    )
    run_available_now()
    phase1 = spark.read.parquet(out).count()
    assert 0 < phase1 <= 10 * 20

    _time.sleep(1.1)
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(
        str(stream_dir / "b1")
    )
    run_available_now()  # new query instance, same checkpoint

    got = {
        (r.source, r.doc_id): (r.n_chars, r.admit_rank)
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r.source, r.doc_id): (r.n_chars, r.admit_rank)
        for r in quota.quota_batch(docs, cap=10).collect()
    }
    assert got == expected
    assert len(got) == 10 * 20


def test_stateful_quota_state_stays_bounded(spark, tmp_path):
    """The production claim behind every keyed-state operator here is
    O(1) state PER KEY — not per event. Run the quota over six
    micro-batches and read the engine's own state-store metrics
    (stateOperators.numRowsTotal from query progress): the row count
    must equal the number of distinct sources ever seen, never grow
    with the thousands of processed documents."""
    import time as _time

    from pyspark.sql import functions as F

    from sql_query_engine_spark.catalog import load_table
    from sql_query_engine_spark.streaming import quota

    docs = load_table(spark, SF_DIR, "documents").select(
        "source", "doc_id", "n_chars"
    )
    n = docs.count()
    n_sources = docs.select("source").distinct().count()
    stream_dir = tmp_path / "docs_bounded"
    stream_dir.mkdir()
    step = n // 6 + 1
    for i in range(6):
        docs.filter(
            (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
        ).coalesce(1).write.parquet(str(stream_dir / f"b{i}"))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "b*"))
    )
    q = (
        quota.quota_stream(stream, cap=10)
        .writeStream.format("memory")
        .queryName("quota_bounded")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bounded"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert len(progresses) >= 4  # genuinely multiple micro-batches
    state_rows = [p["stateOperators"][0]["numRowsTotal"]
                  for p in progresses]
    n_rows_in = sum(p["numInputRows"] for p in q.recentProgress)
    assert n_rows_in == n
    # state is keyed: bounded by the source count at every batch, and
    # ends exactly at one row per source — NEVER proportional to events
    assert all(0 < s <= n_sources for s in state_rows), state_rows
    assert state_rows[-1] == n_sources
    assert max(state_rows) < n / 10


def test_streaming_survives_task_failure(tmp_path):
    """Fault-injection soak (r7 verdict #7): a Structured Streaming
    aggregation must survive a transient task failure — retry the task,
    complete the query, and produce results identical to the batch twin.
    Runs in a subprocess because task retries need a maxFailures>1
    master (local[4,3]); the shared test session's local[*] fails the
    whole job on the first task failure."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    flag = tmp_path / "failed_once"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tests", "streaming_retry_script.py"),
            SF_DIR,
            str(tmp_path / "ckpt"),
            str(flag),
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["failure_injected"] is True
    assert report["streamed_equals_batch"] is True


def test_streaming_kill_restart_recovery(tmp_path):
    """Checkpoint-recovery soak (r9 verdict #6): a stateful streaming
    query (dropDuplicatesWithinWatermark → session_window aggregation,
    two chained stateful operators) is HARD-KILLED mid-stream
    (os._exit — no graceful stop, checkpoint left mid-flight), then
    restarted from the same checkpoint; the resumed run's file-sink
    contents must equal an uninterrupted run's row for row. One
    subprocess per phase — a kill must take a whole JVM with it."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(repo, "tests", "streaming_recovery_script.py")

    def run(mode, expect_rc=0):
        proc = subprocess.run(
            [sys.executable, script, mode, SF_DIR, str(tmp_path)],
            capture_output=True,
            text=True,
            cwd=repo,
            timeout=400,
        )
        assert proc.returncode == expect_rc, (
            mode, proc.returncode, proc.stderr[-3000:],
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])

    victim = run("victim", expect_rc=137)
    assert victim["killed_after"] >= 3
    resumed = run("resume")
    clean = run("clean")
    assert resumed["n_rows"] > 0
    assert resumed["rows"] == clean["rows"], (
        resumed["n_rows"], clean["n_rows"],
    )


def test_warc_gz_streaming_tail_equals_batch(spark, tmp_path):
    """Continuous crawl ingest: .warc.gz shards landing over time are
    tailed by read_warc_gz_stream (binaryFile streaming source +
    the same three-layer record walk as batch) — each shard arrives in
    its own micro-batch, and the union of all micro-batches equals the
    batch read of the same directory."""
    import time as _time

    from sql_query_engine_spark.sources.warc import (
        read_warc_gz,
        read_warc_gz_stream,
        write_warc_gz_dataset,
    )

    land = tmp_path / "warc_land"
    land.mkdir()
    docs = [(d, f"shard doc {d} — ünïcode ☃ & <tag>") for d in range(12)]
    # three shards written with distinct mtimes => deterministic
    # per-file trigger order under maxFilesPerTrigger=1
    for i in range(3):
        sub = tmp_path / f"stage{i}"
        df = spark.createDataFrame(docs[i * 4 : (i + 1) * 4],
                                   "doc_id long, text string")
        write_warc_gz_dataset(df, str(sub), n_files=1)
        import glob as _glob
        import shutil as _shutil

        src = _glob.glob(str(sub / "*.warc.gz"))[0]
        _shutil.move(src, str(land / f"shard-{i}.warc.gz"))
        _time.sleep(1.1)

    stream = read_warc_gz_stream(spark, str(land) + "/*.warc.gz",
                                 maxFilesPerTrigger=1)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("warc_gz_tail_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_warc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    # one micro-batch per shard (maxFilesPerTrigger=1 on the SOURCE)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
    got = sorted(
        (r.doc_id, r.target_uri, r.n_chunks, r.content_length, r.text)
        for r in spark.sql("SELECT * FROM warc_gz_tail_test").collect()
    )
    want = sorted(
        (r.doc_id, r.target_uri, r.n_chunks, r.content_length, r.text)
        for r in read_warc_gz(spark, str(land) + "/*.warc.gz").collect()
    )
    assert got == want and len(got) == 12
