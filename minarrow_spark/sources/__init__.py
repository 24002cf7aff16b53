from minarrow_spark.sources.arrow_ipc import ArrowIPCDataSource
from minarrow_spark.sources.catalog import TABLES, load_table

__all__ = ["ArrowIPCDataSource", "TABLES", "load_table"]
