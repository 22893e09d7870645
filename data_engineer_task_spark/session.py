"""SparkSession factory tuned for this engine.

Local mode for tests/bench (one JVM, N threads); the same settings are
what we'd ship to a real cluster except the master/memory lines:
 - AQE on (runtime coalesce, skew-join splitting) — the 100 TB story
 - shuffle partitions sized to cores locally; on a cluster this would
   be ~2-3× total executor cores, with AQE coalescing the tail
 - UTC session timezone so results compare bit-for-bit with the DuckDB
   oracle (duckdb timestamps are UTC-naive)
 - Arrow enabled for any pandas interchange (Pandas UDF fast path)
 - Python workers fork from ``pydaemon`` (no per-task re-read of the
   pyspark.zip directory), with the package root on their PYTHONPATH
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding the ``data_engineer_task_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "data_engineer_task_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Idempotent via getOrCreate."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen class cache (r10 optimization, guide §1
        # measurement): the default is 100 entries, keyed on generated
        # source — an application serving a diverse query inventory
        # (this engine declares 250) evicts, regenerates,
        # janino-recompiles and HotSpot-re-JITs every query's classes
        # on EVERY execution. Measured on the full bench: one pass
        # over the inventory burned 467 s of JIT compiler CPU and
        # inflated codegen-heavy entries 3-8x over their warm cost
        # (doc_bpe_phrase_merges 16.2 s -> 4.1 s steady-state after
        # the fix). Sized O(distinct plans), not per-core, so it is
        # scale-independent; Metaspace cost measured +~90 MiB for the
        # whole inventory. The larger code cache keeps the retained
        # classes' native code from flush churn (measured 130/232 MiB
        # used at default size with the cache fix in place).
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000"),
        )
    )
    # Env-overridable like the cache size (ADVICE r10), and APPENDED to
    # any caller-supplied extraJavaOptions instead of silently replaced.
    code_cache = os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m")
    jvm_opts = f"-XX:ReservedCodeCacheSize={code_cache}" if code_cache else ""
    extra_conf = dict(extra_conf or {})
    caller_opts = extra_conf.pop("spark.driver.extraJavaOptions", "")
    merged = " ".join(x for x in (jvm_opts, caller_opts) if x)
    if merged:
        builder = builder.config("spark.driver.extraJavaOptions", merged)
    # Python workers start from pydaemon (one zip-directory read per
    # importer, not one per task), so they must import this package
    # whatever the caller's cwd or PYTHONPATH: the package root goes
    # on the worker path ahead of any caller-supplied entries.
    caller_path = extra_conf.pop("spark.executorEnv.PYTHONPATH", "")
    builder = builder.config("spark.python.daemon.module", "data_engineer_task_spark.pydaemon")
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(x for x in (_PACKAGE_ROOT, caller_path) if x),
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A small driver-side constant frame (lookup table, ledger row,
    config stamp) that stays in the JVM. With Arrow on (as
    ``get_spark`` sets it) the pandas route plans as ``LocalTableScan``;
    ``createDataFrame(row list)`` plans as ``Scan ExistingRDD`` over a
    Python RDD, so every task that reads it starts a Python worker."""
    import pandas as pd

    if not rows:
        # pyspark takes the row route for an empty pandas frame; an
        # empty Arrow table still plans as ``LocalTableScan <empty>``
        from pyspark.sql.pandas.types import to_arrow_schema

        return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)
