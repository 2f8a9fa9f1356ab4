"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case: AQE on (runtime coalescing + skew-join
splitting), shuffle partitions sized by parallelism, Arrow enabled for
every pandas-UDF boundary. ``local_frame`` is the one way driver-built
tables enter a plan.
"""

from __future__ import annotations

import os

from contextlib import contextmanager
from functools import lru_cache
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


@lru_cache(maxsize=None)
def _ddl_struct(ddl: str) -> StructType:
    return _parse_datatype_string(ddl)


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                schema: str | StructType) -> DataFrame:
    """A small driver-built table as an in-JVM ``LocalRelation``.

    ``spark.createDataFrame(<python list>, schema)`` plans as a
    Python-RDD ``LogicalRDD``: every scan or broadcast of it runs its
    own job of ``defaultParallelism`` Python-worker tasks (~0.3 s each
    on a 4-vCPU host), however few rows it holds. Built from a
    ``pyarrow.Table`` typed by the exact schema, the same rows land in
    the JVM as a ``LocalRelation`` — scanned and broadcast in-process,
    no Python worker, no extra job.

    ``rows`` are positional (tuples, lists or ``Row``s); ``schema`` is
    a DDL string or a ``StructType`` and is the frame's schema
    verbatim. Columns go straight from Python values to Arrow — never
    through pandas, where a nullable int column turns float64 and
    longs above 2**53 round. Values are bound as data, never spliced
    into SQL text.
    """
    struct = schema if isinstance(schema, StructType) else _ddl_struct(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, struct)


@contextmanager
def query_mode(spark: SparkSession, shuffle_partitions: int | None = None):
    """Low-latency settings for short interactive queries.

    AQE's runtime re-planning adds per-query stages worth ~0.25 s each
    on sub-second queries (measured at sf0.1: 0.79 -> 0.53 s/query
    with AQE off). Index BUILDS should keep AQE on (skew-join
    splitting, partition coalescing); point queries should not pay for
    it. Restores previous settings on exit.
    """
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(shuffle_partitions))
        yield spark
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def get_spark(
    app_name: str = "prosearch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # one-ish partition per core locally; on a real cluster this is
        # overridden to ~2-3x total cores (AQE coalesces the excess).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: large batches (10k rows of wide/array
        # data) serialize GBs into concurrent Python workers and
        # anti-scale past ~8 cores; 2048 keeps the pipeline streaming
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
