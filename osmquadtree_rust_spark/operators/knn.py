"""k-nearest-neighbour search via cell-ring expansion.

Not present in the reference engine (BASELINE.json generalization): find
the k nearest points to a query by scanning expanding rings of quadtree
cells at a fixed level, stopping once the kth-best distance is provably
inside the scanned ring rectangle.  Exact — verified against brute force.

Scale shape: the points table carries a precomputed level-L cell column
(partition/bucket key at 100 TB), so each ring is a partition-pruned scan
of a handful of cells; the driver loop runs O(1) small jobs instead of one
full-table scan.  Distances are IEEE doubles over fixed-point coordinate
deltas (identical in any engine).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import qt_numpy as qtn
from ..session import local_frame


def dist_sq_col(qlon: int, qlat: int, lon: str = "lon", lat: str = "lat"):
    dx = (F.col(lon) - F.lit(int(qlon))).cast("double")
    dy = (F.col(lat) - F.lit(int(qlat))).cast("double")
    return dx * dx + dy * dy


def _ring_cells(x0: int, y0: int, r: int, level: int) -> list[int]:
    """Cells of the square ring at Chebyshev radius r around tile (x0,y0),
    clamped to the world grid."""
    n = 1 << level
    out = set()
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            if max(abs(dx), abs(dy)) != r:
                continue
            x, y = x0 + dx, y0 + dy
            if 0 <= y < n:
                out.add(int(qtn.from_xyz(np.int64(x % n), np.int64(y), np.int64(level))))
    return sorted(out)


def _rect_bbox(x0: int, y0: int, r: int, level: int):
    """Fixed-point bbox of the ring rectangle [x0-r..x0+r]x[y0-r..y0+r]."""
    n = 1 << level
    xa, xb = x0 - r, x0 + r
    ya, yb = max(y0 - r, 0), min(y0 + r, n - 1)
    wraps_x = (xb - xa + 1) >= n
    c_nw = qtn.as_bbox(int(qtn.from_xyz(np.int64(xa % n), np.int64(ya), np.int64(level))))
    c_se = qtn.as_bbox(int(qtn.from_xyz(np.int64(xb % n), np.int64(yb), np.int64(level))))
    minlon = -1800000000 if wraps_x else int(c_nw[0])
    maxlon = 1800000000 if wraps_x else int(c_se[2])
    minlat = int(c_se[1])
    maxlat = int(c_nw[3])
    covers_poles = ya == 0 and yb == n - 1
    return minlon, minlat, maxlon, maxlat, wraps_x and covers_poles


def knn_search(
    points: DataFrame,
    qlon: int,
    qlat: int,
    k: int,
    level: int = 8,
    cell_col: str = "cell",
    id_col: str = "id",
    lon: str = "lon",
    lat: str = "lat",
    max_rings: int = 64,
) -> DataFrame:
    """Exact kNN by expanding cell rings.  `points` must carry a level-
    `level` point-cell column (qt_calculate_point rounded to `level`), the
    pruning/bucketing key.  Returns (id, dist_sq) — the k nearest by
    (dist_sq, id)."""
    spark = points.sparkSession
    qcell = int(qtn.calculate_point(np.array([qlon]), np.array([qlat]), level, 0.0)[0])
    x0, y0, _ = qtn.to_xyz(np.int64(qtn.qt_round(np.int64(qcell), level)))
    x0, y0 = int(x0), int(y0)

    best: list[tuple[float, int]] = []
    scanned: set[int] = set()
    for r in range(max_rings):
        cells = _ring_cells(x0, y0, r, level)
        cells = [c for c in cells if c not in scanned]
        pred = F.col(cell_col).isin(cells)
        if r == 0:
            # points whose cell terminated shallower than `level` (poles,
            # 1-ulp straddlers of a mercator midline) belong to no depth-L
            # ring cell; they are rare — scan them all up front
            pred = pred | (F.expr(f"({cell_col} & 31)") < level)
        if cells or r == 0:
            cand = points.filter(pred).select(
                F.col(id_col).alias("id"), dist_sq_col(qlon, qlat, lon, lat).alias("dist_sq")
            )
            got = cand.orderBy("dist_sq", "id").limit(k).collect()
            best.extend((float(row.dist_sq), int(row.id)) for row in got)
            best.sort()
            best = best[:k]
            scanned.update(cells)
        # stopping bound: kth best must beat any point outside the scanned
        # ring rectangle (conservative 2-unit margin for the fixed-point
        # rounding of cell bboxes)
        minlon, minlat, maxlon, maxlat, whole_world = _rect_bbox(x0, y0, r, level)
        if whole_world:
            break
        if len(best) == k:
            d_edge = min(
                qlon - minlon if minlon > -1800000000 else 2**62,
                maxlon - qlon if maxlon < 1800000000 else 2**62,
                qlat - minlat,
                maxlat - qlat,
            )
            d_edge = max(d_edge - 2, 0)
            if best[-1][0] <= float(d_edge) * float(d_edge):
                break
    return local_frame(spark, [(i, d) for d, i in best], "id long, dist_sq double")
