"""Inverse-distance-weighted grid interpolation, integer-exact.

The raster companion to the counting rollups (operators/count.py) and
the track rasterizer (trajectory.track_cell_lengths): interpolate a
scalar point field (sensor readings, speeds, signal strength) onto the
geohash grid — the standard IDW surface, but with fully integer
arithmetic so the DuckDB oracle reproduces it bit-for-bit:

    target  = the cell ANCHOR (floor of the cell center in u-space,
              functions/geohash.anchor_xy_sql — within ~11 mm of the
              true center)
    d2      = exact integer squared planar distance point->anchor
    weight  = w_scale DIV (d2 + 1)      (power-2 IDW; +1 avoids div0,
              and quantizes far weights to small integers — a
              documented determinism tradeoff, not an approximation
              the two engines could disagree on)
    value   = SUM(weight * v) DIV MAX(SUM(weight), 1)

Only cells that contain at least one point are interpolated (the
natural support of the field); each contributes every point within
`radius_fixed` of its anchor.

Overflow: weight <= w_scale; callers bound |v| by v_abs_max and the
operator validates w_scale * v_abs_max * max_pts_per_cell < 2^63.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geohash as GH
from ..functions.text_sql import SPARK, idiv_sql
from .spatial_join import grid_cover


def idw_grid(
    points: DataFrame,
    value_col: str,
    *,
    lon: str = "lon",
    lat: str = "lat",
    chars: int = 7,
    radius_fixed: int = 20_000,
    w_scale: int = 1_000_000_000,
    v_abs_max: int = 1_000,
    max_pts_per_cell: int = 1_000_000,
    max_cells_per_axis: int = 16,
) -> DataFrame:
    """Returns (cell_x, cell_y, n_pts, wsum, idw_value) for every
    depth-`chars` grid cell containing >= 1 point.

    `v_abs_max` / `max_pts_per_cell` are the caller's declared bounds —
    checked against the overflow budget up front, and v_abs_max also
    enforced per row inside the projection (raise, not silent clamp).

    Scale shape: one distinct on the cell key (the target set), a
    bounded covering explode of each point (<= max_cells_per_axis^2,
    typically (2*radius/cell_span + 1)^2 cells), a cell equi-join
    restricted to data cells (AQE picks the strategy; hot cells split
    by skew join), and a partial-aggregating groupBy per cell.  No
    all-pairs stage, no Python."""
    r = int(radius_fixed)
    if r <= 0:
        raise ValueError(f"radius_fixed={radius_fixed} must be positive")
    if int(w_scale) * int(v_abs_max) * int(max_pts_per_cell) >= 1 << 63:
        raise ValueError(
            "w_scale * v_abs_max * max_pts_per_cell exceeds the int64 "
            "aggregation budget; lower one of them"
        )

    xs, ys = GH.geohash_xy_sql(lon, lat, chars, SPARK)
    vguard = (
        f"CASE WHEN ABS(CAST({value_col} AS BIGINT)) <= {int(v_abs_max)} "
        f"THEN CAST({value_col} AS BIGINT) "
        f"ELSE CAST(raise_error('idw_grid: |value| exceeds declared "
        f"v_abs_max={int(v_abs_max)}') AS BIGINT) END"
    )
    pts = points.select(
        F.col(lon).cast("long").alias("__pu"),
        F.col(lat).cast("long").alias("__pv"),
        F.expr(vguard).alias("__v"),
        F.expr(xs).alias("__cx"),
        F.expr(ys).alias("__cy"),
    )
    cells = pts.select("__cx", "__cy").distinct()

    # covering of [p - r, p + r] per axis — every cell whose anchor can
    # be within r of the point lies in it (the anchor is in its cell)
    cand = grid_cover(
        pts.select("__pu", "__pv", "__v"),
        (f"__pu - {r}", f"__pv - {r}", f"__pu + {r}", f"__pv + {r}"),
        chars, max_cells_per_axis, "idw_grid",
    )
    cand = cand.join(cells, ["__cx", "__cy"])

    au, av = GH.anchor_xy_sql("__cx", "__cy", chars, SPARK)
    # u-space point coords: pu + 1.8e9 / pv + 9e8 (anchors live there)
    d2 = (
        f"((__pu + 1800000000) - {au}) * ((__pu + 1800000000) - {au}) + "
        f"((__pv + 900000000) - {av}) * ((__pv + 900000000) - {av})"
    )
    w = idiv_sql(str(int(w_scale)), "(__d2 + 1)", SPARK)
    scored = (
        cand.withColumn("__d2", F.expr(d2))
        .filter(F.col("__d2") <= r * r)
        .withColumn("__w", F.expr(w))
    )
    agg = scored.groupBy(
        F.col("__cx").alias("cell_x"), F.col("__cy").alias("cell_y")
    ).agg(
        F.count("*").alias("n_pts"),
        F.sum("__w").alias("wsum"),
        F.sum(F.expr("__w * __v")).alias("__wv"),
    )
    val = idiv_sql("__wv", "GREATEST(wsum, 1)", SPARK)
    # negative weighted sums would make DIV/floor diverge between
    # engines — require non-negative values for the division, or emit
    # the raw sums and let the caller divide (we raise to be explicit)
    nn = (
        "CASE WHEN __wv >= 0 THEN __wv ELSE CAST(raise_error("
        "'idw_grid: negative weighted sum; idw_value needs v >= 0 — "
        "shift the field or consume wsum/__wv directly') AS BIGINT) END"
    )
    return agg.withColumn("__wv", F.expr(nn)).select(
        "cell_x",
        "cell_y",
        "n_pts",
        "wsum",
        F.expr(val).alias("idw_value"),
    )
