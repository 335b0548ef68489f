"""linkml_store_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of linkml/linkml-store.

Architecture (Spark-first, not a port):
  Client      -> SparkSession + warehouse namespace registry
  Database    -> namespace of DataFrame-backed collections (parquet/temp views)
  Collection  -> CRUDSI operations over a DataFrame
  Query       -> declarative IR compiled to a DataFrame logical plan (Catalyst
                 does predicate pushdown / column pruning / join selection)

Reference semantics: linkml/linkml-store (see SURVEY.md; citations into
/root/reference/ appear in module docstrings).
"""

import importlib

# Exports resolve on first access (PEP 562), so importing a submodule, as
# the Python worker daemon (``python -m linkml_store_spark.worker_daemon``)
# does, loads only that submodule and not the whole package.
_EXPORTS = {
    "Client": "linkml_store_spark.client",
    "Database": "linkml_store_spark.database",
    "Collection": "linkml_store_spark.collection",
    "Query": "linkml_store_spark.query",
    "QueryResult": "linkml_store_spark.query",
    "compile_where": "linkml_store_spark.where",
    "path_col": "linkml_store_spark.where",
}

__all__ = list(_EXPORTS)


def __getattr__(name):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value


__version__ = "0.1.0"
