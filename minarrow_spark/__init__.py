"""minarrow_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of pbower/minarrow, re-expressed Spark-first.

Quick start::

    import minarrow_spark as ms

    spark = ms.get_spark()                       # tuned session (AQE, Arrow)
    lineitem = ms.load_table(spark, sf_dir, "lineitem")
    qs = ms.all_queries()                        # ~50 oracle-checked queries
    df = qs["q01_pricing_summary"].fn(spark, sf_dir)

Module map:

* ``session``   — SparkSession factory with scale-appropriate defaults
* ``sources``   — parquet catalog, Arrow interop (``map_in_arrow`` escape
  hatch), the registrable ``arrow_ipc`` format
* ``functions`` — scalar kernels with reference-pinned semantics
  (arithmetic, strings, datetimes, text analysis)
* ``operators`` — distributed operators: dedup (5 families), similarity
  search, pandas-style projection/selection, skew salting, joins, multimodal
* ``queries``   — the registered query surface (each with a DuckDB oracle)
* ``streaming`` — Structured Streaming twins (watermarked windows, stateful
  ops, stream-stream joins)
* ``plans``     — physical-plan inspection (shuffle counts)
"""

from minarrow_spark.registry import all_queries
from minarrow_spark.session import get_spark
from minarrow_spark.table import MinTable
from minarrow_spark.sources.arrow_io import (
    arrow_batches,
    from_arrow,
    map_in_arrow,
    to_arrow,
    to_matrix,
)
from minarrow_spark.sources.catalog import load_table

__all__ = [
    "MinTable",
    "all_queries",
    "arrow_batches",
    "from_arrow",
    "get_spark",
    "load_table",
    "map_in_arrow",
    "to_arrow",
    "to_matrix",
]
