"""Spatial filter / extract (reference src/mergechanges/filter_elements.rs).

- bbox predicates: pure Column expressions (quadtree.rs:231-291)
- polygon point-in-polygon: pnpoly crossing-number, vectorized numpy in an
  Arrow-batched pandas UDF (filter_elements.rs:89-129)
- tile-level 3-way dispatch (filter_elements.rs:252-273): tiles fully
  inside the filter skip per-row tests entirely; only boundary tiles pay
  the PIP cost; disjoint tiles are pruned before the scan (partition
  pruning when `qt`/tile is the partition column)
- id-closure semi-join (filter_elements.rs:298-376): nodes in region ->
  ways touching any such node -> all nodes of those ways (exnodes) ->
  relations with any member in set -> rel->rel, 5 fixed iterations
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions import qt_numpy as qtn


# ---------------------------------------------------------------------------
# bbox predicates (Column-level; quadtree.rs:231-291)
# ---------------------------------------------------------------------------

def bbox_contains_point(bbox, lon="lon", lat="lat"):
    minlon, minlat, maxlon, maxlat = bbox
    return (
        (F.col(lon) >= minlon)
        & (F.col(lat) >= minlat)
        & (F.col(lon) <= maxlon)
        & (F.col(lat) <= maxlat)
    )


# ---------------------------------------------------------------------------
# polygon PIP (filter_elements.rs:89-129)
# ---------------------------------------------------------------------------

def pnpoly(vertsx: np.ndarray, vertsy: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Vectorized crossing-number test, exact float semantics of the
    reference (W. R. Franklin pnpoly): points x (n,), polygon (m,)."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    vx = np.asarray(vertsx, dtype=np.float64)[None, :]
    vy = np.asarray(vertsy, dtype=np.float64)[None, :]
    vxj = np.roll(vertsx, 1)[None, :]
    vyj = np.roll(vertsy, 1)[None, :]
    cond = (vy > py) != (vyj > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (vxj - vx) * (py - vy) / (vyj - vy) + vx
    crossings = cond & (px < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


class Poly:
    """Polygon in degrees (float verts), as parsed from .poly files
    (filter_elements.rs:40-87)."""

    def __init__(self, vertsx, vertsy, name=""):
        self.vertsx = np.asarray(vertsx, dtype=np.float64)
        self.vertsy = np.asarray(vertsy, dtype=np.float64)
        self.name = name

    @classmethod
    def from_poly_text(cls, text: str) -> "Poly":
        vx, vy, name = [], [], ""
        for ln in text.splitlines():
            parts = ln.split()
            if len(parts) == 1:
                if parts[0] not in ("1", "END") and parts[0].isalpha():
                    name = parts[0]
            elif len(parts) == 2:
                vx.append(float(parts[0]))
                vy.append(float(parts[1]))
        return cls(vx, vy, name)

    def bounds(self):
        xi = qtn.coordinate_as_integer(self.vertsx)
        yi = qtn.coordinate_as_integer(self.vertsy)
        return int(xi.min()), int(yi.min()), int(xi.max()), int(yi.max())

    def contains_point_fixed(self, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
        return pnpoly(
            self.vertsx,
            self.vertsy,
            np.asarray(lon, np.float64) * 1e-7,
            np.asarray(lat, np.float64) * 1e-7,
        )

    def check_box(self, bbox) -> bool:
        """All four corners inside -> whole box inside
        (filter_elements.rs:82-87)."""
        a, b, c, d = bbox
        xs = np.array([a, a, c, c])
        ys = np.array([b, d, b, d])
        return bool(self.contains_point_fixed(xs, ys).all())


def make_pip_udf(poly: Poly):
    """Broadcastable PIP pandas UDF over fixed-point lon/lat columns."""
    vx = poly.vertsx.copy()
    vy = poly.vertsy.copy()

    @F.pandas_udf(BooleanType())
    def pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            pnpoly(vx, vy, lon.to_numpy(np.float64) * 1e-7, lat.to_numpy(np.float64) * 1e-7)
        )

    return pip


# ---------------------------------------------------------------------------
# tile-level dispatch (filter_elements.rs:252-273)
# ---------------------------------------------------------------------------

def classify_tiles(tile_cells: np.ndarray, bbox, poly: Poly | None = None):
    """Split tile cells into (interior, boundary) sets; disjoint tiles are
    dropped.  Tile extent = cell bbox with the reference's 0.05 buffer
    (filelist.rs:84,180)."""
    cells = np.asarray(tile_cells, dtype=np.int64)
    tminlon, tminlat, tmaxlon, tmaxlat = qtn.as_bbox(cells, 0.05)
    a, b, c, d = bbox
    contained = (
        (a <= tminlon) & (b <= tminlat) & (tmaxlon <= c) & (tmaxlat <= d)
    )
    overlaps = (
        (a <= tmaxlon) & (b <= tmaxlat) & (tminlon <= c) & (tminlat <= d)
    )
    if poly is not None:
        pc = np.array(
            [
                poly.check_box((tminlon[i], tminlat[i], tmaxlon[i], tmaxlat[i]))
                for i in range(cells.size)
            ]
        )
        contained = contained & pc
    interior = cells[contained]
    boundary = cells[overlaps & ~contained]
    return interior, boundary


def filter_points(
    df: DataFrame,
    bbox,
    poly: Poly | None = None,
    lon: str = "lon",
    lat: str = "lat",
    tile_col: str | None = None,
) -> DataFrame:
    """Point extract with the 3-way tile dispatch when `tile_col` is
    present: interior tiles bypass per-row predicates entirely."""
    if tile_col is not None and tile_col in df.columns:
        tiles = [r[0] for r in df.select(tile_col).distinct().collect()]
        interior, boundary = classify_tiles(np.array(tiles, dtype=np.int64), bbox, poly)
        cheap = df.filter(F.col(tile_col).isin([int(x) for x in interior]))
        edge = df.filter(F.col(tile_col).isin([int(x) for x in boundary]))
        pred = bbox_contains_point(bbox, lon, lat)
        if poly is not None:
            pred = pred & make_pip_udf(poly)(F.col(lon), F.col(lat))
        return cheap.unionByName(edge.filter(pred))
    pred = bbox_contains_point(bbox, lon, lat)
    if poly is not None:
        pred = pred & make_pip_udf(poly)(F.col(lon), F.col(lat))
    return df.filter(pred)


# ---------------------------------------------------------------------------
# id-closure (filter_elements.rs:298-376)
# ---------------------------------------------------------------------------

def id_closure(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    bbox,
    poly: Poly | None = None,
) -> dict[str, DataFrame]:
    """Recursive reference closure of a spatial filter.

    Returns dict of DataFrames of ids: nodes (in-region), exnodes (way
    completions), ways, relations.  All steps are semi-joins; the rel->rel
    step iterates exactly 5 times (filter_elements.rs:366-370).
    """
    in_region = filter_points(nodes, bbox, poly).select("id")
    edges = ways.select(F.col("id").alias("way_id"), F.explode("refs").alias("node_id"))
    sel_ways = (
        edges.join(in_region.withColumnRenamed("id", "node_id"), "node_id", "left_semi")
        .select(F.col("way_id").alias("id"))
        .distinct()
    )
    exnodes = (
        edges.join(sel_ways.withColumnRenamed("id", "way_id"), "way_id", "left_semi")
        .select(F.col("node_id").alias("id"))
        .distinct()
        .join(in_region, "id", "left_anti")
    )
    all_nodes = in_region.unionByName(exnodes)

    mems = relations.select(
        F.col("id").alias("rel_id"),
        F.explode("members").alias("m"),
    ).select("rel_id", F.col("m.mem_type").alias("mem_type"), F.col("m.mem_ref").alias("mem_ref"))
    hit_n = mems.filter(F.col("mem_type") == 0).join(
        all_nodes.withColumnRenamed("id", "mem_ref"), "mem_ref", "left_semi"
    )
    hit_w = mems.filter(F.col("mem_type") == 1).join(
        sel_ways.withColumnRenamed("id", "mem_ref"), "mem_ref", "left_semi"
    )
    sel_rels = hit_n.unionByName(hit_w).select(F.col("rel_id").alias("id")).distinct()

    rel_edges = mems.filter(F.col("mem_type") == 2).select("rel_id", "mem_ref")
    for _ in range(5):
        newly = (
            rel_edges.join(
                sel_rels.withColumnRenamed("id", "mem_ref"), "mem_ref", "left_semi"
            )
            .select(F.col("rel_id").alias("id"))
            .distinct()
        )
        sel_rels = sel_rels.unionByName(newly).distinct()

    return {
        "nodes": in_region,
        "exnodes": exnodes,
        "ways": sel_ways,
        "relations": sel_rels,
    }


def polygon_stats(
    verts: "DataFrame",
    poly_col: str = "poly_id",
    seq_col: str = "seq",
    lon: str = "lon",
    lat: str = "lat",
) -> "DataFrame":
    """Exact integer shoelace statistics per polygon ring: signed doubled
    area (2A = sum of cross products over the cyclic edge list), winding
    orientation, vertex count, and bbox — the geometry primitive behind
    extract-region sizing and tile-coverage estimates, computed without
    a single float.

    Vertices arrive as rows (poly_col, seq_col, lon, lat) in fixed-point
    1e-7-degree ints; the ring closes implicitly (last vertex pairs with
    the first).  Coordinates are TRANSLATED to the polygon's min corner
    before the cross products, and a per-ring overflow guard RAISES when
    the exact worst-case bound 2 * n * span_x * span_y cannot fit int64
    (a silent ANSI overflow — or non-ANSI wrap — would corrupt areas;
    split giant rings first).  Shoelace is well-defined for any closed
    polyline — self-intersecting input yields the signed sum of covered
    regions, exactly as the formula states, so no simplicity
    precondition exists.

    Windows partition per polygon (bounded by ring vertex counts);
    identical construction in the DuckDB oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(poly_col).orderBy(seq_col)
    wfull = Window.partitionBy(poly_col).orderBy(seq_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d = (
        verts.select(
            F.col(poly_col),
            F.col(seq_col),
            F.col(lon).cast("long").alias("__x"),
            F.col(lat).cast("long").alias("__y"),
        )
        # the guard REPLACES __tx (inside a used expression, so Catalyst
        # cannot prune it); all factors stay < 2^31.5 in DOUBLE space so
        # the guard predicate itself cannot overflow
        .withColumn("__sx", (F.max("__x").over(wfull) - F.min("__x").over(wfull)))
        .withColumn("__sy", (F.max("__y").over(wfull) - F.min("__y").over(wfull)))
        .withColumn("__n", F.count("*").over(wfull))
        .withColumn(
            "__tx",
            F.when(
                (
                    2.0
                    * F.col("__n").cast("double")
                    * F.col("__sx").cast("double")
                    * F.col("__sy").cast("double")
                )
                >= float(2**63),
                F.expr(
                    "CAST(raise_error('polygon_stats: ring too large for "
                    "exact int64 shoelace (2*n*span_x*span_y >= 2^63); "
                    "split it first') AS BIGINT)"
                ),
            ).otherwise(F.col("__x") - F.min("__x").over(wfull)),
        )
        .withColumn("__ty", F.col("__y") - F.min("__y").over(wfull))
        .withColumn(
            "__nx", F.coalesce(F.lead("__tx").over(w), F.first("__tx").over(wfull))
        )
        .withColumn(
            "__ny", F.coalesce(F.lead("__ty").over(w), F.first("__ty").over(wfull))
        )
    )
    cross = F.col("__tx") * F.col("__ny") - F.col("__nx") * F.col("__ty")
    return (
        d.withColumn("__cross", cross)
        .groupBy(poly_col)
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.sum("__cross").cast("long").alias("area2"),
            F.min("__x").alias("minlon"),
            F.min("__y").alias("minlat"),
            F.max("__x").alias("maxlon"),
            F.max("__y").alias("maxlat"),
        )
        .withColumn("abs_area2", F.abs(F.col("area2")).cast("long"))
        .withColumn(
            "ccw", F.when(F.col("area2") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        )
    )
