"""Spark Column-level quadtree functions.

Two tiers, chosen by where the work is cheapest at 100 TB scale:

- **Pure-integer ops** (round / depth / common / LCA-aggregate / from_xyz)
  are emitted as native Spark SQL expressions (functions/qt_sql.py, SPARK
  dialect) so they run inside whole-stage codegen on the JVM — no Python in
  the hot path, and the LCA *aggregate* rides Spark's partial+final hash
  aggregation (map-side combine) because it reduces to
  ``common(min(qt), max(qt))``.

- **Floating-point encode** (bbox/point -> cell, the 18-level Mercator
  descent of reference quadtree.rs:558-672) runs as Arrow-batched pandas
  UDFs over the vectorized numpy core (qt_numpy) — zero per-row Python,
  and numerically identical to the DuckDB oracle (both use libm).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from . import qt_numpy as qtn
from . import qt_sql as qsql


# ---------------------------------------------------------------------------
# native (JVM codegen) integer ops
# ---------------------------------------------------------------------------

def qt_round(c: str, level: int) -> Column:
    return F.expr(qsql.qt_round_sql(c, level, qsql.SPARK))


def qt_common(a: str, b: str) -> Column:
    return F.expr(qsql.qt_common_sql(a, b, qsql.SPARK))


def agg_lca(
    df: DataFrame,
    group_cols: list[str],
    qt_col: str = "qt",
    alias: str = "qt",
    extra_aggs: tuple = (),
) -> DataFrame:
    """groupBy(group_cols) with an LCA(qt) aggregate, codegen-friendly:
    the min/max run as one hash aggregate, the common() bit math runs as a
    projection over the two simple result attributes."""
    valid = F.when(F.col(qt_col) >= 0, F.col(qt_col))
    out = df.groupBy(*group_cols).agg(
        F.min(valid).alias("__lca_mn"), F.max(valid).alias("__lca_mx"), *extra_aggs
    )
    return out.withColumn(alias, qt_common("__lca_mn", "__lca_mx")).drop(
        "__lca_mn", "__lca_mx"
    )


# ---------------------------------------------------------------------------
# Arrow-batched encode UDFs
# ---------------------------------------------------------------------------

def make_calculate_udf(maxlevel: int = qtn.QT_MAX_LEVEL, buffer: float = qtn.QT_BUFFER):
    """(minlon,minlat,maxlon,maxlat int cols) -> qt long col."""

    @F.pandas_udf(LongType())
    def qt_calculate(
        minlon: pd.Series, minlat: pd.Series, maxlon: pd.Series, maxlat: pd.Series
    ) -> pd.Series:
        out = qtn.calculate(
            minlon.to_numpy(np.int64),
            minlat.to_numpy(np.int64),
            maxlon.to_numpy(np.int64),
            maxlat.to_numpy(np.int64),
            maxlevel,
            buffer,
        )
        return pd.Series(out)

    return qt_calculate


def make_calculate_point_udf(
    maxlevel: int = qtn.QT_MAX_LEVEL, buffer: float = qtn.QT_BUFFER
):
    """(lon,lat int cols) -> qt long col."""

    @F.pandas_udf(LongType())
    def qt_calculate_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = qtn.calculate_point(
            lon.to_numpy(np.int64), lat.to_numpy(np.int64), maxlevel, buffer
        )
        return pd.Series(out)

    return qt_calculate_point


def with_point_qt(
    df: DataFrame,
    lon: str,
    lat: str,
    out: str = "qt",
    maxlevel: int = qtn.QT_MAX_LEVEL,
    buffer: float = qtn.QT_BUFFER,
) -> DataFrame:
    udf = make_calculate_point_udf(maxlevel, buffer)
    # int32 transport — see with_bbox_qt
    return df.withColumn(out, udf(F.col(lon).cast("int"), F.col(lat).cast("int")))


def with_bbox_qt(
    df: DataFrame,
    minlon: str,
    minlat: str,
    maxlon: str,
    maxlat: str,
    out: str = "qt",
    maxlevel: int = qtn.QT_MAX_LEVEL,
    buffer: float = qtn.QT_BUFFER,
) -> DataFrame:
    udf = make_calculate_udf(maxlevel, buffer)
    # int32 transport: reference coordinates are i32 nanodegrees
    # (quadtree.rs Bbox), so the cast is lossless for every valid input
    # (ANSI mode raises loudly on anything out of range) and halves the
    # Arrow bytes shipped into the Python worker — the encode is
    # memory-bandwidth-bound at data scale, not CPU-bound
    return df.withColumn(
        out,
        udf(
            F.col(minlon).cast("int"),
            F.col(minlat).cast("int"),
            F.col(maxlon).cast("int"),
            F.col(maxlat).cast("int"),
        ),
    )
