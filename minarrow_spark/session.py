"""SparkSession factory with scale-appropriate defaults.

The reference (pbower/minarrow) has no session concept — its "engine
configuration" is compile-time features (`/root/reference/Cargo.toml:140-215`).
Here the equivalent knobs are Spark confs, chosen for a 100 TB posture:

* AQE on (runtime re-planning, partition coalescing, skew-join splitting) —
  replaces the reference's `RechunkStrategy` (`src/structs/chunked/super_array.rs:51-60`)
  with Spark's adaptive equivalent.
* Arrow-enabled Python boundary — the Spark analog of the reference's
  Arrow C Data Interface FFI (`src/ffi/arrow_c_ffi.rs`).
* UTC session timezone so results are oracle-comparable.
* shuffle partitions sized from the local core count; on a real cluster this
  would be set to ~2-3x total executor cores (AQE coalesces the excess).
* a generated-code cache sized to the registry's working set. The reference
  compiles its kernels once and reuses them on every call; here the kernels
  are whole-stage-codegen classes, and Spark keeps compiled classes in an
  LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries (default
  100). The 9 headline queries need ~175 classes and the whole registry
  ~1,260, so at the default every query of a round-robin session evicted
  the next one's classes and recompiled them (~7.5 ms of Janino per class,
  then interpreted bytecode until the JIT caught up). 4096 is 2-3x the
  registry's measured working set. Measured at sf0.01, ``local[2]`` on a
  4-vCPU host: a steady pass over the headline queries compiled 131-151
  classes at 100 entries and 0 at 4096; a repeat pass over all 50
  queries compiled ~1,750 classes in 59-74 s at 100 entries and 0-4 in
  ~37 s with both codegen confs below, for ~8 MB more metaspace (~197 vs
  ~189 MB). The conf is static: it only takes effect when the session
  (and so the JVM's ``CodeGenerator`` cache) is created, which is why it
  is set here and not per query. A repeated plan only hits the cache if
  its generated source is identical, so query builders must not put
  per-build literals into expressions (e.g. unseeded ``rand()`` — see
  operators/skew.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # The events table stores TIMESTAMP(NANOS) which Spark has no native type
    # for; read as epoch-nanos long and convert at the catalog layer (µs).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python-boundary ops (mapInArrow/pandas_udf/mapInPandas) amortize the
    # JVM<->Python transfer per Arrow batch: 64k-row batches measured ~40%
    # faster than the 10k default on q53's kernel at sf0.1. Per-task memory
    # is one batch — pipelines with fat binary/media rows should LOWER this
    # (see operators/multimodal.py) rather than raise it.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Parquet scans: keep row-group pruning + dictionary filtering on.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Compiled-class LRU cache (static conf; see the module docstring).
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Keep the whole-stage-codegen stage id out of the generated class name:
    # AQE numbers stages in the order concurrent stages finish, so the same
    # pipeline got a different class name (a cache miss) from run to run.
    "spark.sql.codegen.useIdInClassName": "false",
    # Local runs: don't waste time on the UI or excessive logging.
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "minarrow_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    On a cluster you would drop ``master`` and let spark-submit decide;
    every other conf here is cluster-appropriate as-is.
    """
    cpus = cpus or cpu_count()
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Number of generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count). A delta of 0 over
    a query run means every class it needed came from the codegen cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
