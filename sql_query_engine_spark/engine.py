"""Engine facade — the one-object entry point.

The reference's user surface is ``main.py``: pick a backend, hand it a dd
path and a SQL string (main.py:7-25 there). This facade is the equivalent
switch-over point for this engine: construct it on a data directory and
every entry point is a method —

    eng = Engine.local("/root/testdata/sf0.01")
    eng.sql("SELECT DISTINCT c_custkey FROM customer ...")   # SQL
    eng.ra(r"\\select_{c_custkey=42} customer;")             # RA text
    eng.table("lineitem").filter(...)                        # DataFrame
    eng.query("agg_pricing_summary")                         # named op
    eng.explain(df)                                          # plan text

No engine state lives outside the SparkSession: the facade is a thin,
re-entrant veneer over session.py / catalog.py / ra.py / queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import catalog as _catalog
from . import ra as _ra
from .plans.inspect import formatted_plan
from .session import get_spark

__all__ = ["Engine"]


class Engine:
    def __init__(self, spark: SparkSession, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.tables = _catalog.register_all(spark, data_dir)

    @classmethod
    def local(cls, data_dir: str, app_name: str = "sql-query-engine-spark") -> "Engine":
        """Engine on a tuned local session (cluster users pass their own
        SparkSession to the constructor)."""
        return cls(get_spark(app_name), data_dir)

    # -- entry points ----------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """ANSI SQL over the registered catalog (Spark SQL parser)."""
        return self.spark.sql(query)

    def ra(self, ra_text: str) -> DataFrame:
        """RA text (reference entry point 3; see ra.py)."""
        return _ra.run_ra(self.spark, ra_text)

    def table(self, name: str) -> DataFrame:
        """DataFrame entry point: a registered base table."""
        return self.tables[name]

    def query(self, name: str) -> DataFrame:
        """A named operator from the checked inventory (queries.py)."""
        from .queries import queries

        return queries()[name](self.spark, self.data_dir)

    def query_names(self) -> list[str]:
        from .queries import queries

        return sorted(queries())

    # -- introspection ---------------------------------------------------
    def explain(self, df: DataFrame, mode: str = "formatted") -> str:
        return formatted_plan(df, mode)
