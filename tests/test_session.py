"""Session factory: worker-side zip cache, package shipping, lazy package
import and loud config errors.

The subprocess cases run a fresh interpreter because each one needs a
process state the shared test session cannot have: a Python-worker
environment, a package that is not yet imported, or a working directory
and ``PYTHONPATH`` from which executors cannot see the repository.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from sql_query_engine_spark.session import _zip_reads_eagerly, get_spark, local_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_python(code: str, tmp_path, env_update=None, drop=()) -> str:
    env = {k: v for k, v in os.environ.items() if k not in drop}
    env.update(env_update or {})
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code), REPO],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


WORKER_ZIP_CHECK = """
    import importlib, os, sys, zipfile, zipimport

    sys.path.insert(0, sys.argv[1])
    import sql_query_engine_spark  # noqa: F401  (installs the guard)

    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    zipimport._read_directory = counting_read
    arc = os.path.abspath("mods.zip")
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zmod_a.py", "X = 1\\n")
    sys.path.insert(0, arc)
    import zmod_a  # noqa: F401

    importlib.invalidate_caches()  # first check records the archive's stat
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    print("unchanged_reads", reads.count(arc))

    with zipfile.ZipFile(arc, "a") as z:
        z.writestr("zmod_b.py", "Y = 2\\n")
    importlib.invalidate_caches()
    print("rewritten_reads", reads.count(arc))
    import zmod_b

    print("zmod_b", zmod_b.Y)
"""


@pytest.mark.skipif(
    not _zip_reads_eagerly(), reason="zipimporter.invalidate_caches is lazy here"
)
def test_worker_zip_cache_rereads_only_changed_archives(tmp_path):
    out = run_python(
        WORKER_ZIP_CHECK, tmp_path, env_update={"PYTHON_WORKER_FACTORY_SECRET": "s"}
    )
    assert "unchanged_reads 0" in out
    assert "rewritten_reads 1" in out
    assert "zmod_b 2" in out


def test_driver_keeps_stock_zipimporter(tmp_path):
    out = run_python(
        """
        import sys, zipimport

        sys.path.insert(0, sys.argv[1])
        stock = zipimport.zipimporter.invalidate_caches
        import sql_query_engine_spark  # noqa: F401

        print("stock", zipimport.zipimporter.invalidate_caches is stock)
        """,
        tmp_path,
        drop=("PYTHON_WORKER_FACTORY_SECRET",),
    )
    assert "stock True" in out


def test_zip_reads_eagerly_only_before_3_12(monkeypatch):
    import zipimport

    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    on_3_12 = _zip_reads_eagerly()
    monkeypatch.undo()
    monkeypatch.setattr(
        zipimport.zipimporter, "_get_files", lambda self: {}, raising=False
    )
    with_get_files = _zip_reads_eagerly()
    assert (on_3_12, with_get_files) == (False, False)


def test_worker_keeps_lazy_stock_zipimporter(tmp_path):
    """Python 3.12+ (gh-103200) reads a zip directory lazily through
    ``_get_files`` and never sets ``_files``: a guard there would break
    every task, so none is installed."""
    out = run_python(
        """
        import sys, zipimport

        sys.path.insert(0, sys.argv[1])
        stock = zipimport.zipimporter.invalidate_caches
        zipimport.zipimporter._get_files = lambda self: {}
        import sql_query_engine_spark  # noqa: F401

        print("stock", zipimport.zipimporter.invalidate_caches is stock)
        """,
        tmp_path,
        env_update={"PYTHON_WORKER_FACTORY_SECRET": "s"},
    )
    assert "stock True" in out


def test_guard_installed_in_real_workers(spark):
    def guard_state(_):
        import zipimport

        import sql_query_engine_spark  # noqa: F401

        yield getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)

    states = spark.sparkContext.parallelize([0, 1], 2).mapPartitions(guard_state).collect()
    assert states == [_zip_reads_eagerly()] * 2


def test_submodule_import_skips_query_registry(tmp_path):
    out = run_python(
        """
        import sys

        sys.path.insert(0, sys.argv[1])
        import sql_query_engine_spark.sources.warc  # noqa: F401

        print("registry", "sql_query_engine_spark.queries" in sys.modules)
        # importing the submodule first must not rebind the public name
        import sql_query_engine_spark.queries  # noqa: F401
        from sql_query_engine_spark import queries

        print("callable", callable(queries), len(queries()) > 0)
        """,
        tmp_path,
    )
    assert "registry False" in out
    assert "callable True True" in out


def test_python_stage_runs_from_foreign_cwd(tmp_path):
    """No PYTHONPATH and a working directory outside the repository: the
    executors can import the package only because get_spark ships it."""
    out = run_python(
        """
        import os, sys

        sys.path.insert(0, sys.argv[1])
        from sql_query_engine_spark import get_spark
        from sql_query_engine_spark.sources import warc

        spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("FATAL")
        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
        )
        warc.write_warc_gz_dataset(df, os.path.abspath("w"), n_files=2)
        rows = warc.read_warc_gz(spark, os.path.abspath("w") + "/*.warc.gz").collect()
        print("doc_ids", sorted(r.doc_id for r in rows) == list(range(20)))
        """,
        tmp_path,
        env_update={"SPARK_GRAFT_CPUS": "2"},
        drop=("PYTHONPATH",),
    )
    assert "doc_ids True" in out


def test_local_df_rejects_nulls(spark):
    with pytest.raises(ValueError, match="NULL-free"):
        local_df(spark, [(1, None)], "a int, b int")


def test_malformed_spark_graft_conf_raises(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CONF", "spark.sql.shuffle.partitions=4;oops")
    with pytest.raises(ValueError, match="'oops'"):
        get_spark("tests")


def test_codegen_cache_outlives_one_bench_pass(spark):
    """A query's compiled stage classes survive more than 100 other
    distinct shapes: rerunning it compiles nothing. Spark's default
    codegen cache (100 entries) evicts them, and one pass of the
    SQL/RA/TPC-H bench ops compiles about 105 classes."""
    from pyspark.sql import functions as F

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    def query_a():
        return (
            spark.range(1000)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("id").alias("s"))
            .collect()
        )

    want = query_a()
    for i in range(130):  # 130 single-stage shapes, one class each or more
        spark.range(4).select((F.col("id") * (i + 2) + 1).alias("x")).collect()
    before = compiled().getCount()
    assert sorted(query_a()) == sorted(want)
    assert compiled().getCount() - before == 0
