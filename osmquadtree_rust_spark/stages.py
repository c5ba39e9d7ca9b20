"""Stage parallelism: the one place that decides how many tasks a stage
gets when the byte-based default would get it wrong.

Policy.  The session keeps AQE's post-shuffle coalescing with
``parallelismFirst=false`` (session.py): small shuffles are merged up to
the advisory byte size.  That is right for most stages, but a CPU-heavy
stage fed by a small shuffle (keyed windows, exploding candidate joins,
per-row Python/derivation projections) is collapsed onto 1-2 tasks once
the compressed shuffle is a few tens of MB (measured in the n-gram
verify chain: ~21 s wall on 2 cores).  Such stages take an explicit
partition count instead, which AQE does not coalesce:

- ``pin(df, *keys)`` repartitions by the key the downstream window,
  join or distinct requires anyway, so it adds no exchange beyond the
  one the plan already needed, only fixes its task count.  With no keys
  it is an unconditional round-robin spread, used to materialize a
  projection before a fan-out.
- ``spread(df)`` spreads a scan that has fewer splits than cores (the
  bench parquet is single-row-group, so the whole pipelined stage would
  run on one core); a scan that is already split pays nothing.

Why the core count.  The aim is one task per core for the stage, which
is the most the stage can use and, unlike a constant, follows the
cluster.  ``defaultParallelism`` is that count in local and cluster
mode alike.

Why inert at 100 TB.  There the shuffles exceed the advisory size, so
AQE would not coalesce below the core count anyway, and scans already
have far more splits than cores, so ``spread`` adds nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cores(df: DataFrame) -> int:
    """The cluster core count, as the stage task target."""
    return df.sparkSession.sparkContext.defaultParallelism


def pin(df: DataFrame, *keys) -> DataFrame:
    """Repartition to the core count by ``keys`` (round-robin if none)."""
    return df.repartition(cores(df), *keys)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin to the core count only if ``df`` has fewer partitions."""
    return pin(df) if df.rdd.getNumPartitions() < cores(df) else df
