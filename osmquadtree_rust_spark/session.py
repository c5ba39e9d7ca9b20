"""SparkSession construction with scale-appropriate defaults."""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_string


def get_spark(
    app_name: str = "osmquadtree-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    Defaults tuned for correctness-at-scale rather than tiny-local runs:
    AQE on (runtime coalescing + skew-join splitting), Arrow on (all our
    UDFs are pandas UDFs), and shuffle partitions sized from the env
    (SPARK_GRAFT_CPUS) so local runs don't over-partition.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        # every cross-engine gate relies on naive parquet timestamps
        # meaning UTC instants (DuckDB epoch()/epoch_us() semantics);
        # pin it instead of inheriting the container default
        .config("spark.sql.session.timeZone", "Etc/UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=false coalesces small shuffles to the
        # advisory byte target instead of stopping at default
        # parallelism (r6 setting).  r8 A/B'd BOTH full sf1.0 benches:
        # false 530 s vs true (the Spark default) 609 s — true's
        # per-stage task-count overhead compounds across many-stage
        # queries (rel_qt_fixpoint 3.1->6.1 s, road_speed_quantiles
        # 3.5->7.2 s, raster/route/pack families 2-3x) and outweighs its
        # wins on window/UDF-heavy queries.  Queries the byte target
        # genuinely under-parallelizes (exploding candidate joins,
        # CPU-heavy keyed windows) pin their own stage parallelism
        # instead (stages.py).  At 100 TB partitions exceed the advisory
        # size and both settings behave identically.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(cpus, 8)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-built frame as a JVM local relation.

    `rows` is a sequence of tuples (struct values as tuples or dicts, one
    form per column); `schema` is a DDL string or a StructType.  The rows
    are handed to the JVM as one column-wise `pyarrow.Table`, so the frame
    plans as a `LocalRelation` / `LocalTableScan`: no Python-RDD stage, and
    no Python worker deserializes it each time the frame is evaluated.

    The table is built from the Python values directly, not through
    pandas: pandas turns a NaN double into NULL and promotes an int64
    column holding a NULL to float64 (exact only up to 2**53).  Top-level
    timestamps go through `TimestampType.toInternal`, as the row path's do,
    so naive values keep meaning Python local time.  Every driver-built
    frame in the package goes through here.
    """
    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = [
        pa.array([f.dataType.toInternal(v) for v in col], pa.int64()).cast(a.type)
        if isinstance(f.dataType, TimestampType)
        else pa.array(col, a.type)
        for col, f, a in zip(columns, schema.fields, arrow)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow)
    return spark.createDataFrame(table, schema)
