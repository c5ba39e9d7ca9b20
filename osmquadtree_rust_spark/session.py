"""SparkSession construction with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
