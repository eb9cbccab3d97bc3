"""sql_query_engine_spark — a PySpark-native analytics engine.

From-scratch rebuild of the capabilities of ItachiEU/sql-query-engine
(reference surveyed in SURVEY.md) on idiomatic Spark SQL / DataFrame /
Catalyst, extended with the batch-analytics and LLM-data-pipeline operators
the reference lacks (aggregation, windows, set ops, dedup families,
similarity search, text analysis, streaming).

Public surface:

* :func:`get_spark`                — tuned session factory (session.py)
* :func:`register_all`             — schema-registry / catalog (catalog.py)
* :mod:`~.operators.relational`    — reference-parity operator library
* :mod:`~.functions`               — text / dedup / similarity / multimodal
* :mod:`~.streaming`               — windowed & sessionized event operators
* :func:`queries` / :func:`oracle_sql` — the full checked query inventory
"""

import importlib
import sys
import types

from .catalog import TABLES, load_table, register_all
from .engine import Engine
from .ra import run_ra
from .session import get_spark, install_worker_zip_cache

install_worker_zip_cache()

_REGISTRY = ("oracle_sql", "queries", "registry")


def __getattr__(name: str):
    # The query registry (queries.py and everything it imports) loads on
    # first use (PEP 562): a Python worker that unpickles a closure from
    # one submodule must not pay for it.
    if name not in _REGISTRY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(".queries", __name__), name)
    globals()[name] = value
    return value


class _Package(types.ModuleType):
    def __setattr__(self, name, value):
        # importing the ``queries`` submodule binds it on the package; the
        # public name stays the registry function, as with an eager import
        if name == "queries" and isinstance(value, types.ModuleType):
            return
        super().__setattr__(name, value)


sys.modules[__name__].__class__ = _Package

__all__ = [
    "Engine",
    "TABLES",
    "get_spark",
    "load_table",
    "register_all",
    "queries",
    "oracle_sql",
    "registry",
    "run_ra",
]
