"""Count/statistics operators (reference src/count.rs:34-622).

The reference's mergeable accumulators (count, min/max id, min/max
timestamp, bbox expand, refs/members totals) are exactly Spark's
partial+final aggregates; `CountChange` is the same grouped by changetype.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def way_stats(ways: DataFrame) -> DataFrame:
    """adds refs totals / max len / ref range (count.rs WayCount)."""
    aggs = [
        F.count("*").alias("num"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.sum(F.size("refs")).alias("num_refs"),
        F.max(F.size("refs")).alias("max_refs_len"),
        F.min(F.array_min("refs")).alias("min_ref"),
        F.max(F.array_max("refs")).alias("max_ref"),
    ]
    if "timestamp" in ways.columns:
        aggs += [F.min("timestamp").alias("min_ts"), F.max("timestamp").alias("max_ts")]
    return ways.agg(*aggs)


def count_by_changetype(df: DataFrame) -> DataFrame:
    """CountChange (count.rs:518-622)."""
    return (
        df.groupBy("changetype")
        .agg(
            F.count("*").alias("num"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("changetype")
    )


def qt_rollup(
    df: DataFrame, qt_col: str = "qt", depths: tuple[int, ...] = (4, 8, 12, 17)
) -> DataFrame:
    """Multi-depth spatial rollup: row counts per quadtree ancestor cell
    at EACH requested depth — the tile-pyramid / hypertable-rollup
    aggregation over the qt index (parent cell count == sum of its
    children, so every pyramid level comes from the same pass).

    One map-side projection explodes each row into len(depths)
    (depth, ancestor-cell) pairs, then ONE keyed shuffle aggregates all
    levels together — instead of len(depths) separate scans+shuffles.
    The ancestor truncation is the shared qt_round bit math
    (functions/qt_sql.qt_round_sql, reference quadtree.rs:450-458), so
    the DuckDB oracle runs the identical expression text."""
    from ..functions import qt_sql as qsql

    ds = [int(d) for d in depths]
    if not ds or len(set(ds)) != len(ds):
        raise ValueError(f"depths={depths!r} must be non-empty and distinct")
    for d in ds:
        if not 0 <= d <= 18:
            raise ValueError(f"depth {d} outside [0, 18]")
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("depth"),
                F.expr(qsql.qt_round_sql(qt_col, d, qsql.SPARK))
                .cast("long")
                .alias("cell"),
            )
            for d in ds
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.depth").alias("depth"), F.col("p.cell").alias("cell"))
        .groupBy("depth", "cell")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def geohash_rollup(
    df: DataFrame, code_col: str = "gh", full_chars: int = 8,
    levels: tuple[int, ...] = (2, 4, 6),
) -> DataFrame:
    """Prefix pyramid over the geohash index: counts per `k`-char prefix
    for each requested k, from a single explode + one shuffle (the
    qt_rollup shape on the alternate index).  A k-char prefix is the top
    5k bits of the 5*full_chars-bit code — integer shift, no strings."""
    ls = [int(k) for k in levels]
    if not ls or len(set(ls)) != len(ls):
        raise ValueError(f"levels={levels!r} must be non-empty and distinct")
    for k in ls:
        if not 1 <= k <= full_chars:
            raise ValueError(f"level {k} outside [1, {full_chars}]")
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("chars"),
                F.expr(f"shiftright({code_col}, {5 * (full_chars - k)})")
                .cast("long")
                .alias("prefix"),
            )
            for k in ls
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.chars").alias("chars"), F.col("p.prefix").alias("prefix"))
        .groupBy("chars", "prefix")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def s2_rollup(
    df: DataFrame, cell_col: str = "s2", levels: tuple[int, ...] = (7, 10, 12)
) -> DataFrame:
    """Ancestor pyramid over the S2 index (signed leaf cell ids): counts
    per ancestor cell at each requested level from one explode + one
    shuffle — the qt_rollup shape on the S2 hierarchy (BASELINE's
    "res 7..12" band).  Parent is the shared two's-complement bit math
    (functions/s2_sql.s2_parent_sql), identical text on both engines."""
    from ..functions import s2_sql

    ls = [int(k) for k in levels]
    if not ls or len(set(ls)) != len(ls):
        raise ValueError(f"levels={levels!r} must be non-empty and distinct")
    for k in ls:
        if not 0 <= k <= 30:
            raise ValueError(f"level {k} outside [0, 30]")
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("level"),
                F.expr(s2_sql.s2_parent_sql(cell_col, k))
                .cast("long")
                .alias("cell"),
            )
            for k in ls
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.level").alias("level"), F.col("p.cell").alias("cell"))
        .groupBy("level", "cell")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def h3_rollup(
    df: DataFrame,
    cell_col: str = "h3",
    from_res: int = 12,
    levels: tuple[int, ...] = (7, 9, 11),
) -> DataFrame:
    """Ancestor pyramid over the H3 aperture-7 hierarchy: counts per
    parent cell at each requested resolution from one explode + one
    shuffle.  Parent is the shared digit-truncation bit math
    (functions/h3_sql.h3_parent_sql), identical text on both engines."""
    from ..functions import h3_sql

    ls = [int(k) for k in levels]
    if not ls or len(set(ls)) != len(ls):
        raise ValueError(f"levels={levels!r} must be non-empty and distinct")
    for k in ls:
        if not 0 <= k < from_res:
            raise ValueError(f"level {k} outside [0, {from_res})")
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("res"),
                F.expr(h3_sql.h3_parent_sql(cell_col, k, from_res))
                .cast("long")
                .alias("cell"),
            )
            for k in ls
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.res").alias("res"), F.col("p.cell").alias("cell"))
        .groupBy("res", "cell")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
