"""Schema registry / catalog — the Spark-native replacement for the
reference's external "data dictionary" JSON.

The reference ships table schemas out-of-band (``--dd_path``; pizza default
at ra2spark/ra2spark.py:122-125, TPC-H dd at tpc-h.json:1-10) and uses them
*only* for optimizer attribute-provenance — execution never enforces types
(SURVEY.md §1.2). Here the catalog is strict: every table is registered as a
temp view with the schema the parquet files actually carry, so Catalyst's
analyzer owns name resolution and typing end-to-end.

Design notes for scale:

* Registration is by *path*, not by materialized data — ``spark.read
  .parquet`` is lazy; partition discovery / predicate pushdown / column
  pruning all happen at the scan.
* ``events.ts`` has shipped as both TIMESTAMP(NANOS) (read as ``bigint``
  under ``spark.sql.legacy.parquet.nanosAsLong``, see session.py) and
  TIMESTAMP(MICROS); :func:`normalize_events` folds either into the
  engine contract — raw ``ts`` int64 nanos (cheap, exact, great for range
  pruning) plus a derived ``ts_utc TIMESTAMP`` for windowing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "TABLES",
    "load_table",
    "normalize_events",
    "raw_schema",
    "register_all",
    "register_dir",
    "table_path",
]

# All driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables a planner should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_semantics(spark: SparkSession) -> None:
    """Engine-owned session semantics, enforced at every catalog access.

    The engine may be handed a session it didn't build (the round driver
    constructs its own). Two settings are load-bearing and runtime-settable:

    * ``nanosAsLong`` — without it, reading events.parquet
      (TIMESTAMP(NANOS)) throws PARQUET_TYPE_ILLEGAL outright;
    * UTC session timezone — ntz→timestamp casts (e.g. the as-of join's
      epoch derivation) follow the session zone; UTC keeps them equal to
      the oracle's naive-as-UTC epoch on any host.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover - conf locked down: keep going
        pass


# (sf_dir, name, mtime_ns, size) → inferred StructType. ``spark.read.parquet``
# runs a footer-reading schema-inference job on EVERY invocation (it is not
# cached per path); the registry builds hundreds of scans per gate run,
# so caching the schema and passing it back via ``.schema(...)`` removes
# one Spark job per table reference and makes query CONSTRUCTION
# genuinely job-free (pinned by test_plans.py::test_query_construction_is_lazy).
# The stat fields key the entry on the file itself: a table rewritten in
# place is inferred again instead of being read with its old schema.
_SCHEMA_CACHE: dict[tuple[str, str, int, int], "object"] = {}


def _schema_key(sf_dir: str, name: str) -> tuple[str, str, int, int]:
    try:
        st = os.stat(table_path(sf_dir, name))
    except OSError:
        # an object-store URI or a missing table: key on the path alone,
        # and a missing table fails in spark.read as before
        return (sf_dir, name, 0, 0)
    return (sf_dir, name, st.st_mtime_ns, st.st_size)


def normalize_events(df: DataFrame) -> DataFrame:
    """Enforce the engine's events contract on any physical layout.

    Contract downstream operators rely on: ``ts`` is int64 epoch
    *nanoseconds* (exact integer window arithmetic, reproducible in DuckDB
    via ``epoch_ns``) and ``ts_utc`` is a genuine timestamp for the
    event-time APIs (window / session_window / watermarks).

    The driver's parquet has shipped two generations of ``events.ts``:
    TIMESTAMP(NANOS), which Spark reads as bigint nanos under the
    ``nanosAsLong`` legacy flag, and TIMESTAMP(MICROS), which reads as
    timestamp_ntz. Both normalize to the same two columns, so every
    query/oracle pair is layout-independent. Works on streaming frames
    too (pure projections).
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts_utc", F.timestamp_micros(F.expr("ts DIV 1000")))
    if dt in ("timestamp_ntz", "timestamp"):
        # session tz is UTC (enforced above), so the ntz→instant cast is
        # wall-clock identity and unix_micros equals DuckDB's epoch_us.
        # ts_utc is TIMESTAMP (ltz) — same type timestamp_micros() yields
        # on the nanos path, so downstream unix_micros() calls resolve.
        return df.withColumn(
            "ts_utc", F.col("ts").cast("timestamp")
        ).withColumn("ts", F.unix_micros(F.col("ts_utc")) * F.lit(1000))
    return df


def raw_schema(spark: SparkSession, sf_dir: str, name: str):
    """The *physical* (inferred) schema of a table — what ``readStream``
    must declare before :func:`normalize_events` is applied."""
    _ensure_session_semantics(spark)
    key = _schema_key(sf_dir, name)
    cached = _SCHEMA_CACHE.get(key)
    if cached is None:
        cached = spark.read.parquet(table_path(sf_dir, name)).schema
        _SCHEMA_CACHE[key] = cached
    return cached


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one table; normalizes the events timestamp.

    ``events`` is exposed with both raw nanos ``ts`` (exact arithmetic,
    used by the window bucketers so Spark and the DuckDB oracle agree
    bit-for-bit) and a derived ``ts_utc`` timestamp for
    Structured-Streaming-style operators (see :func:`normalize_events`).
    """
    _ensure_session_semantics(spark)
    key = _schema_key(sf_dir, name)
    cached = _SCHEMA_CACHE.get(key)
    if cached is None:
        df = spark.read.parquet(table_path(sf_dir, name))
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(cached).parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_events(df)
    return df


def register_dir(
    spark: SparkSession,
    data_dir: str,
    dd: dict[str, dict[str, str]] | None = None,
) -> dict[str, DataFrame]:
    """Register every ``<name>.parquet`` / ``<name>.csv`` / ``<name>.orc``
    / ``<name>.jsonl`` (tagged wire format, dd required) under a directory.

    The discovery-based twin of :func:`register_all` for arbitrary corpora
    (e.g. the reference's pizza CSVs) — the CLI entry point uses this so a
    reference user can point ``--data-dir`` at any layout, with an optional
    reference-style data dictionary (``{relation: {attr: type}}``) enforcing
    CSV scan schemas exactly the way ``--dd_path`` did there.
    """
    from .sources.legacy import read_qualified_csv, read_tagged_jsonl

    _ensure_session_semantics(spark)
    out: dict[str, DataFrame] = {}
    for entry in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, entry)
        if entry.endswith(".parquet"):
            name = entry[: -len(".parquet")]
            df = load_table(spark, data_dir, name)
        elif entry.endswith(".csv"):
            name = entry[: -len(".csv")]
            df = read_qualified_csv(
                spark, path, name, (dd or {}).get(name)
            )
        elif entry.endswith(".orc"):
            name = entry[: -len(".orc")]
            df = spark.read.orc(path)
        elif entry.endswith(".jsonl"):
            # the reference's tagged wire format; needs the dd for its
            # enforced schema (tag filtering means one file may carry
            # several relations — the file stem names the one to load)
            name = entry[: -len(".jsonl")]
            dd_rel = (dd or {}).get(name)
            if dd_rel is None:
                continue
            df = read_tagged_jsonl(spark, path, name, dd_rel)
        else:
            continue
        df.createOrReplaceTempView(name)
        out[name] = df
    if not out:
        raise FileNotFoundError(f"no .parquet/.csv tables under {data_dir}")
    return out


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view; returns name → DataFrame.

    This is the dd-equivalent entry point: after this, both the DataFrame
    API and ``spark.sql`` see the full star schema.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
