"""tiledb_mariadb_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of TileDB-Inc/TileDB-MariaDB ("MyTile").

The reference is a MariaDB storage-engine plugin exposing TileDB arrays as
SQL tables (see SURVEY.md).  This package re-expresses that capability
Spark-first:

- the *storage/table* layer (dimensions vs attributes, DDL, discovery,
  ``@metadata``, time travel, schema evolution) lives in
  :mod:`tiledb_mariadb_spark.catalog`;
- the *SQL surface* (scans, pushdown, aggregates, joins, windows, set ops)
  is declared with the DataFrame/SQL API so Catalyst plans it — the
  conformance suite in :mod:`tiledb_mariadb_spark.suite` pins semantics
  against a DuckDB oracle;
- large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal columns) live in
  :mod:`tiledb_mariadb_spark.functions`.

The top-level names are resolved LAZILY (PEP 562): importing any
submodule must not drag pyspark into the process.  The resident bridge
behind ``format("tiledb_agg")`` (tools/jvm_bridge.py) needs only the
numpy decoder tier — an eager ``from .catalog import …`` here would tax
every bridge start ~0.4 s of pyspark import and its memory for life.
"""

from __future__ import annotations

_EXPORTS = {
    "Attr": "tiledb_mariadb_spark.catalog",
    "Dim": "tiledb_mariadb_spark.catalog",
    "TileSchema": "tiledb_mariadb_spark.catalog",
    "TileTable": "tiledb_mariadb_spark.catalog",
    "discover_parquet": "tiledb_mariadb_spark.catalog",
    "open_uri": "tiledb_mariadb_spark.catalog",
    "get_spark": "tiledb_mariadb_spark.session",
    "tune_for_oracle": "tiledb_mariadb_spark.session",
    "tune_for_streaming": "tiledb_mariadb_spark.session",
    "TABLES": "tiledb_mariadb_spark.sources.registry",
    "load_table": "tiledb_mariadb_spark.sources.registry",
    "register_views": "tiledb_mariadb_spark.sources.registry",
    "copartitioned_asof_join": "tiledb_mariadb_spark.sources.tiledb_array",
    "copartitioned_join_arrays": "tiledb_mariadb_spark.sources.tiledb_array",
    "copartitioned_join_many": "tiledb_mariadb_spark.sources.tiledb_array",
    "diff_arrays": "tiledb_mariadb_spark.sources.tiledb_array",
    "merge_into_array": "tiledb_mariadb_spark.sources.tiledb_array",
    "read_array": "tiledb_mariadb_spark.sources.tiledb_array",
    "topk_array": "tiledb_mariadb_spark.sources.tiledb_array",
    "write_array": "tiledb_mariadb_spark.sources.tiledb_array",
}

__all__ = [*_EXPORTS, "__version__"]
__version__ = "0.1.0"

# a Spark Python worker imports this package when it unpickles one of
# its DataSources or mapInPandas functions; from then on the worker
# keeps pyspark.zip's directory between requests (see zipcache)
from tiledb_mariadb_spark import zipcache as _zipcache  # noqa: E402

_zipcache.install_on_spark_worker()


def __getattr__(name: str):
    import importlib  # noqa: PLC0415

    mod = _EXPORTS.get(name)
    if mod is None:
        # submodule access (tiledb_mariadb_spark.catalog.X) without an
        # explicit submodule import — resolve it like the eager
        # `from … import` used to
        try:
            return importlib.import_module(f"tiledb_mariadb_spark.{name}")
        except ModuleNotFoundError:
            raise AttributeError(
                f"module 'tiledb_mariadb_spark' has no attribute {name!r}"
            ) from None
    val = getattr(importlib.import_module(mod), name)
    globals()[name] = val  # cache: next access skips __getattr__
    return val


def __dir__():
    return sorted(__all__)
