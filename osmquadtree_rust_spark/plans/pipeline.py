"""End-to-end tiling pipeline (reference calcqts + sortblocks, Spark-first).

Stages, and where each runs:

1. footprint -> cell (data-scale): pure Column exprs + Arrow pandas UDF
2. cell histogram at the group level (data-scale): groupBy + sum, rounds
   cells with native bit math (prep_block, reference prepgraph.rs:53-101)
3. weight-balanced grouping (metadata-scale): collect histogram, run the
   exact find_tree_groups port on the driver (quadtreetree.rs:357-397)
4. routing (data-scale): broadcast the sorted group-cell array, route each
   element cell to its deepest group ancestor in a vectorized pandas UDF
   (make_route_udf, QuadtreeTree::find, quadtreetree.rs:128-142).  Steps
   2-4 are assign_tiles, the only tile-assignment path; the encode of
   step 1 and the route are two separate Arrow UDFs.
5. materialize (data-scale): write_tiles repartitions by tile — salting
   tiles whose weight exceeds `salt_threshold` (dense-tile skew) — then
   sortWithinPartitions and writes partitioned parquet.  The snapshot
   store's writer (plans/checkpoint.write_tiles_checkpointed) does not
   salt.

At 100 TB the only driver-side piece is step 3, whose input is one row per
occupied level-17 cell (bounded by 4^17 but ~1M in practice for a planet).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions import qt_numpy as qtn
from ..functions import qt_spark as qs
from ..operators import tiles as T
from ..sources.synth import synth_geo_exprs
from ..stages import cores

DEFAULT_TARGET = 40000  # reference utils/src/commands/sortblocks.rs:30-31


def with_synth_footprint(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Attach deterministic footprint bbox columns (synth.py exprs)."""
    out = df
    for name, expr in synth_geo_exprs(id_col).items():
        out = out.withColumn(name, F.expr(expr))
    return out


def with_phash_footprint(images: DataFrame) -> DataFrame:
    """Footprint from the phash column (FIXTURES.md rule): geohash-style
    bit deinterleave -> centre, pixel dims -> extent."""
    from pyspark.sql.types import StructField, StructType

    from ..sources.fixtures import phash_footprint

    schema = StructType(
        [
            StructField("minlon", LongType()),
            StructField("minlat", LongType()),
            StructField("maxlon", LongType()),
            StructField("maxlat", LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def fp(phash: pd.Series, w: pd.Series, h: pd.Series) -> pd.DataFrame:
        a, b, c, d = phash_footprint(
            phash.to_numpy(np.int64), w.to_numpy(np.int64), h.to_numpy(np.int64)
        )
        return pd.DataFrame({"minlon": a, "minlat": b, "maxlon": c, "maxlat": d})

    return images.withColumn("__fp", fp("phash", "w", "h")).select(
        "*", "__fp.minlon", "__fp.minlat", "__fp.maxlon", "__fp.maxlat"
    ).drop("__fp")


def cell_histogram(
    df: DataFrame, qt_col: str = "qt", weight_col: str | None = None
) -> DataFrame:
    """(cell, weight) at the grouping level — one row per occupied cell."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        df.withColumn("__cell", qs.qt_round(qt_col, qtn.QT_GRAPH_LEVEL))
        .groupBy("__cell")
        .agg(F.sum(w).alias("weight"))
        .withColumnRenamed("__cell", "cell")
    )


def compute_groups(cells, weights, target: int = DEFAULT_TARGET) -> np.ndarray:
    """Driver-side: histogram arrays -> sorted group-cell array."""
    tree = T.build_tree_from_histogram(cells, weights)
    groups = T.find_tree_groups(tree, target, target // 2)
    return T.group_lookup_arrays(groups)


def make_route_udf(spark, group_cells: np.ndarray):
    bc = spark.sparkContext.broadcast(np.asarray(group_cells, dtype=np.int64))

    @F.pandas_udf(LongType())
    def route(qt: pd.Series) -> pd.Series:
        return pd.Series(T.route_cells(qt.to_numpy(np.int64), bc.value))

    return route


def assign_tiles(
    df: DataFrame,
    qt_col: str = "qt",
    weight_col: str | None = None,
    target: int = DEFAULT_TARGET,
    persist: bool = True,
) -> tuple[DataFrame, np.ndarray]:
    """Histogram -> groups -> routed `tile` column: the one tile-assignment
    path.  Returns (df+tile, group cells).

    The input is persisted by default: the histogram pass and the final
    routed output both consume the (UDF-encoded) cells, and at cluster
    scale this materialization is the natural per-snapshot checkpoint.
    persist=False recomputes the encode for the routing pass instead and
    caches nothing.  The histogram comes back via Arrow (toPandas), not
    Row collect — metadata-scale but still ~1M rows for a planet.
    """
    if persist:
        df = df.persist()
    pdf = cell_histogram(df, qt_col, weight_col).toPandas()
    group_cells = compute_groups(
        pdf["cell"].to_numpy(np.int64), pdf["weight"].to_numpy(np.int64), target
    )
    route = make_route_udf(df.sparkSession, group_cells)
    return df.withColumn("tile", route(F.col(qt_col))), group_cells


def write_tiles(
    df: DataFrame,
    path: str,
    tile_col: str = "tile",
    sort_cols: tuple[str, ...] = ("id",),
    salt_threshold: int = 4 * DEFAULT_TARGET,
    tile_weights: dict[int, int] | None = None,
    salt_rows: int = DEFAULT_TARGET,
) -> None:
    """Materialize tiles as partitioned parquet, sorted within partitions.

    Dense-tile skew is handled *explicitly*: tiles whose weight exceeds
    `salt_threshold` get a salt column = pmod(hash(id), ceil(w/salt_rows))
    so one physical task never owns a whole hot tile; the parquet layout is
    still partitioned only by tile (salt affects task placement, not
    output paths).
    """
    salted = df
    hot = {}
    if tile_weights:
        hot = {
            int(t): int(np.ceil(w / salt_rows))
            for t, w in tile_weights.items()
            if w > salt_threshold
        }
        if hot:
            mapping = F.create_map(
                *[F.lit(x) for kv in hot.items() for x in kv]
            )
            nsalt = F.coalesce(mapping[F.col(tile_col)], F.lit(1))
            salted = df.withColumn(
                "__salt", F.pmod(F.hash(*[F.col(c) for c in sort_cols]), nsalt)
            )
    if "__salt" in salted.columns:
        # explicit partition count: AQE's post-shuffle coalescing would
        # otherwise merge the salted splits right back into one task
        n_parts = max(
            sum(hot.values()) + max(len(tile_weights) - len(hot), 1),
            cores(df),
        )
        salted = salted.repartition(
            n_parts, F.col(tile_col), F.col("__salt")
        ).drop("__salt")
    else:
        salted = salted.repartition(F.col(tile_col))
    (
        salted.sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .partitionBy(tile_col)
        .parquet(path)
    )


def tile_synthetic_images(
    spark,
    n: int,
    target: int = 4000,
    maxlevel: int = qtn.QT_MAX_LEVEL,
    buffer: float = qtn.QT_BUFFER,
    persist: bool = True,
) -> tuple[DataFrame, np.ndarray]:
    """Flagship DAG on the deterministic synthetic image-footprint table:
    range(n) -> footprint -> cell -> assign_tiles.  Returns (assigned df,
    groups); `persist` is assign_tiles' flag."""
    fp = with_synth_footprint(spark.range(n).select(F.col("id")), "id")
    with_qt = qs.with_bbox_qt(
        fp, "minlon", "minlat", "maxlon", "maxlat", "qt", maxlevel, buffer
    ).select("id", "qt")
    return assign_tiles(with_qt, "qt", None, target, persist=persist)
