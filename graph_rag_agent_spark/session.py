"""SparkSession factory and the one way to turn driver rows into a frame.

Defaults are measured from the host, not assumed: the master is
``local[<CPUs this process may run on>]`` and the driver heap is
min(½ ``MemTotal``, 16 GiB), so a long-lived session cannot grow past
physical RAM. ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override
them. Every other setting is the one you'd ship to a cluster: AQE +
skew-join on, Arrow on, shuffle partitions ~ cores (2-3x total cores on a
real cluster), UTC timezone pinned so DuckDB-oracle comparisons are stable.

Python tasks are expensive whatever their size: on a 4-core host each one
costs about 0.27 s of Python-worker CPU before it touches a row (the
worker re-reads the zip directories of ``pyspark.zip`` and the Spark jars
on every task), so the build's cost follows the number of Python tasks,
not rows. ``spark.createDataFrame(list_of_tuples, ddl)`` is a
``LogicalRDD`` over a ``PythonRDD`` that runs one Python task per slot each
time it is evaluated. Driver-built rows therefore become frames only
through :func:`local_frame`, an Arrow-built JVM ``LocalRelation`` that runs
no Python task at all.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DRIVER_HEAP_CAP_MB = 16 * 1024


def host_mem_total_mb() -> int:
    """Physical RAM from ``/proc/meminfo`` (``MemTotal``), in MiB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` or min(½ MemTotal, 16 GiB)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    return f"{min(host_mem_total_mb() // 2, DRIVER_HEAP_CAP_MB)}m"


def _master() -> str:
    """``local[$SPARK_GRAFT_CPUS]`` or ``local[<CPUs this process may use>]``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "graph_rag_agent_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or _master()
    # in local[N] shuffle partitions ~ N; on a cluster set 2-3x total cores
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # G1's concurrent cycles throttle allocation-heavy codegen at high
        # thread counts in local mode (measured 2x on sha/concat workloads);
        # throughput GC wins for batch ETL. On a cluster set the same via
        # spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable, ddl: str) -> DataFrame:
    """Driver rows (tuples or Rows, in ``ddl`` column order) → a DataFrame
    with the schema and rows ``spark.createDataFrame(rows, ddl)`` gives,
    built as an Arrow table so the plan leaf is a JVM ``LocalRelation``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
