"""SparkSession factory for the engine.

The reference engine builds its Spark context ad-hoc inside
``run_sql_query_in_spark`` (reference: ra2spark/ra2spark.py:121-136) with no
tuning at all — default partitioning, RDD API, Python closures. Here the
session is the single tuned entry point for everything:

* **AQE on** — runtime re-planning (partition coalescing, skew-join
  splitting, dynamic broadcast) is the scale story for 100 TB inputs where
  static stats lie.
* **shuffle.partitions** sized from the available cores for local runs;
  on a real cluster this (and AQE advisory sizes) should be raised so that
  post-shuffle partitions land in the 64-256 MiB range.
* **Arrow enabled** — every Python-touching operator in this engine uses
  pandas UDFs / mapInPandas (Arrow-batched), never row-at-a-time UDFs.
* **nanosAsLong** — tolerates the TIMESTAMP(NANOS) generation of the
  driver's ``events.parquet`` (PySpark 4.x refuses it natively; the flag
  surfaces the column as ``bigint`` nanoseconds). Either physical
  generation — NANOS or MICROS — normalizes to the same engine contract
  in ``catalog.normalize_events``.
* **UTC session timezone** — keeps timestamp arithmetic reproducible and
  aligned with the DuckDB oracle.
* **The package ships itself** — when Python workers cannot import it
  (its parent is not on ``PYTHONPATH``, ``spark.executorEnv.PYTHONPATH``
  or site-packages), ``get_spark`` zips it once per process and passes
  it to ``addPyFile``, so every Python stage runs from any working
  directory and on executors without a checkout.
* **Python workers keep their zip directories** — PySpark's worker calls
  ``importlib.invalidate_caches()`` on every task, and on Python 3.10 and
  3.11 each of the worker's 16 ``zipimporter`` path entries then
  re-reads its archive's whole central directory (``pyspark.zip``, the
  py4j zip and the 15 MB spark-core jar): about 200 ms per task on a
  reused worker, the bulk of the per-Python-stage cost once booked as a
  fixed floor. :func:`install_worker_zip_cache`, run when the package is
  imported in a worker, re-reads an archive only when its stat changes;
  the call then takes 0.1 ms, and ``read_warc_gz`` over 4 shards on 4
  cores drops from 0.39–0.68 s to 0.22–0.35 s per warm run (Python
  3.11). Python 3.12 made the stock call lazy (gh-103200), so there the
  guard is not installed.
* **The codegen cache holds a query mix** — Spark keeps compiled
  whole-stage classes in a cache of ``spark.sql.codegen.cache.maxEntries``
  entries, 100 by default. One pass of the SQL/RA/TPC-H bench ops
  compiles about 105, so the LRU cycled: 49–58 classes were recompiled
  (Janino) on every warm pass, and started cold in the JIT. At 1000,
  warm passes compile 0 classes (4 vCPU, sf0.01, 4 warm passes; the
  curation ops compile 71 cold and 0 warm at either size). Cost: filling
  all 1000 entries with small single-stage classes took 3.4 MB more
  metaspace than the same run at 100; after 5 bench passes the driver
  held 154 MB metaspace and 1.6 GB RSS, against 156 MB and 1.8 GB at
  100. It is a static conf, so ``SPARK_GRAFT_CONF`` overrides it only
  for a new session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_parallelism", "local_df", "install_worker_zip_cache"]


def _zip_reads_eagerly() -> bool:
    """Whether ``zipimporter.invalidate_caches`` re-reads the archive and
    stores it in ``self._files``, as on Python 3.10 and 3.11."""
    import sys
    import zipimport

    return sys.version_info < (3, 12) and not hasattr(
        zipimport.zipimporter, "_get_files"
    )


def install_worker_zip_cache() -> None:
    """Stop a Python worker from re-reading unchanged zip archives on
    every task.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on Python 3.10 and 3.11 that makes every
    ``zipimporter`` on the worker's path re-read its archive's whole
    central directory at once. Python 3.12 made the method lazy (it only
    drops the shared directory cache; gh-103200), so there, and wherever
    the stock importer reads its directory through ``_get_files``, this
    installs nothing (:func:`_zip_reads_eagerly`).
    The replacement re-reads an archive only when its
    ``(st_mtime_ns, st_size)`` differs from its last read or the stat
    fails — the check CPython's ``FileFinder`` applies to directories —
    so a rewritten or newly shipped archive is still picked up. Importers
    of one archive (``pyspark.zip`` and its ``pyspark.zip/pyspark/...``
    prefixes) share one read, as the zipimport module's own cache does.

    Acts only in a Python worker, recognised by the authentication secret
    the JVM hands the workers it launches (never to the driver). Runs from
    the package ``__init__``; idempotent.
    """
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ or not _zip_reads_eagerly():
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_guarded", False):
        return
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            last_read.pop(self.archive, None)
            return reread(self)
        sig = (st.st_mtime_ns, st.st_size)
        last = last_read.get(self.archive)
        if last is not None and last[0] == sig:
            self._files = last[1]
            return
        reread(self)
        last_read[self.archive] = (sig, self._files)

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def local_df(spark: SparkSession, rows, schema: str):
    """Literal rows as an Arrow-backed LocalRelation.

    ``createDataFrame(list_of_tuples)`` parallelizes the rows into a
    Python RDD, so EVERY action that executes the plan re-runs a pickled
    Python scan (+ a round-robin exchange where repartitioned) — measured
    ~0.28 s of fixed overhead per action on a 32-core local session, paid
    by every query that joins a tiny literal table. Routing the same rows
    through pandas + Arrow yields a LocalRelation: embedded in the plan,
    ~free at execution, and eligible for broadcast without a job.

    Columns are matched to ``schema`` POSITIONALLY; rows must be
    NULL-free in numeric columns (pandas would coerce int+None to
    float). Use plain ``createDataFrame`` for anything data-sized.
    """
    import pandas as pd

    if not rows:
        return spark.createDataFrame([], schema)
    pdf = pd.DataFrame(rows)
    # cheap guard against silent positional/type coercion (pandas would
    # turn an int column with a None into float NaN, and numpy scalars
    # or out-of-range ints would coerce without the row-by-row
    # validation plain createDataFrame performs): literal tables are
    # small, so the full check costs microseconds
    if pdf.isna().any().any():
        raise ValueError(
            "local_df rows must be NULL-free (pandas coerces int+None to "
            "float); use plain createDataFrame for nullable literals"
        )
    return spark.createDataFrame(pdf, schema)


def default_parallelism() -> int:
    """Worker-thread count for local mode; honours SPARK_GRAFT_CPUS."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "sql-query-engine-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local-mode defaults; on a cluster, pass ``master`` / rely on
    spark-submit conf and these settings remain sensible (AQE, Arrow,
    broadcast threshold) or are overridden by the submitter.

    ``extra_conf`` entries are applied LAST, overriding the defaults —
    pre-launch settings (driver memory, UI) only take effect in a fresh
    process before the JVM starts (the spill rehearsal's use case).
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # --- planner / runtime adaptivity -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16: size post-shuffle partitions by DATA, not by core count.
        # parallelismFirst=true (Spark's default) kept every implicit
        # exchange at `cores` partitions, so a 600k-row local shuffle ran
        # 32 tasks of ~20 kB each — pure scheduling overhead (the r15
        # scaling block measured 8 of 55 queries FASTER at 8 cores than
        # 32). parallelismFirst=false is the setting Spark's own docs
        # recommend for efficient utilization; the advisory size is the
        # knob that scales: 16m keeps the local bench's shuffles at a
        # couple of right-sized partitions, a cluster submit should
        # raise it to 64-256m (SPARK_GRAFT_CONF or --conf, see below).
        # Stages whose cost is per-row interpreted compute (not bytes)
        # pin their parallelism with explicit repartition(par, key)
        # calls, which AQE never coalesces — byte-based advice cannot
        # see per-row cost (measured: dedup_ngram_jaccard's inverted
        # index +0.5 s when its window/self-join exchange coalesced).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.default.parallelism", str(max(cores, 8)))
        # dims like region/nation/supplier must broadcast, never shuffle.
        # r15 A/B'd 8 MB + preferSortMergeJoin=false (the "facts never
        # broadcast" shape) in-process against this config: the global
        # switch LOST locally (sim_lsh_ann_topk 0.8 -> 1.4 s,
        # stream_session_windows +0.15 s, TPC-H joins ~wash) because at
        # sf0.1 even fact-side broadcasts are cheap, while at real scale
        # TB-sized facts exceed ANY threshold and shuffle regardless —
        # so the 64 MB local default costs nothing at 100 TB. Joins where
        # a shuffle strategy measurably wins locally AND is the only
        # scale-viable shape carry explicit shuffle_hash hints instead
        # (ref_multikey_join's fact self-join, graph_pagerank's
        # degree/rank joins) — guide §3.1, deliberate per-join choice.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Python boundary: always Arrow ------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let registered Python data sources (sources/pyds.py) receive
        # scan filters through DataSourceReader.pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- whole-stage codegen ----------------------------------------
        # static conf; Spark's default of 100 compiled classes is below
        # one warm pass of the SQL/RA/TPC-H bench ops (~105), so every
        # pass recompiled about half of them (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # InferFiltersFromGenerate inserts `size(arr)>0` under every
        # explode(); when the generator input is an aliased *expression*
        # (our shingle arrays), predicate pushdown substitutes the whole
        # expression into the filter and re-evaluates it per row on the
        # interpreted (non-codegen) path — measured 30× slowdown on the
        # dedup pipelines. Our generators are pre-filtered to non-empty
        # upstream, so the inferred filter only costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # --- driver-data compatibility ----------------------------------
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode niceties
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Environment passthrough (SPARK_GRAFT_CONF="k=v;k=v"): lets a
    # submitter or an A/B harness override any default above without
    # editing source — the same parameterization a cluster submit would
    # use. Applied after the defaults, before caller extra_conf.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for item in env_conf.split(";"):
        item = item.strip()
        if not item:
            continue
        if "=" not in item:
            raise ValueError(f"SPARK_GRAFT_CONF item {item!r} is not key=value")
        k, _, v = item.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_package_zip: str | None = None
_shipped_apps: set[str] = set()


def _workers_can_import(spark: SparkSession) -> bool:
    """Whether Python workers find the package without shipping it: its
    parent directory is on ``PYTHONPATH``, on
    ``spark.executorEnv.PYTHONPATH`` or is a site-packages directory."""
    import site

    entries = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    entries += spark.sparkContext.getConf().get(
        "spark.executorEnv.PYTHONPATH", ""
    ).split(os.pathsep)
    entries += site.getsitepackages() + [site.getusersitepackages()]
    parent = os.path.realpath(os.path.dirname(_PACKAGE_DIR))
    return any(e and os.path.realpath(e) == parent for e in entries)


def _ship_package(spark: SparkSession) -> None:
    """``addPyFile`` the package, zipped once per process, unless workers
    can already import it — every Python stage (mapInPandas, UDFs, Python
    data sources, RDD closures) unpickles code from this package."""
    global _package_zip
    sc = spark.sparkContext
    if sc.applicationId in _shipped_apps or _workers_can_import(spark):
        return
    if _package_zip is None:
        import atexit
        import shutil
        import tempfile
        import zipfile

        out_dir = tempfile.mkdtemp(prefix="sql-query-engine-spark-")
        atexit.register(shutil.rmtree, out_dir, True)
        out = os.path.join(out_dir, "sql_query_engine_spark.zip")
        root = os.path.dirname(_PACKAGE_DIR)
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            for d, dirs, files in os.walk(_PACKAGE_DIR):
                dirs[:] = [x for x in dirs if x != "__pycache__"]
                for f in files:
                    if f.endswith(".py"):
                        path = os.path.join(d, f)
                        zf.write(path, os.path.relpath(path, root))
        _package_zip = out
    sc.addPyFile(_package_zip)
    _shipped_apps.add(sc.applicationId)
