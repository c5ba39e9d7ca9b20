"""Map matching: snap points to their nearest road segment, exactly.

The reference engine stops at spatial membership (bbox / polygon
filters, `filter_elements.rs:82-129`); snapping a GPS point stream onto
a road network is the natural geospatial-tier generalization every
trajectory pipeline needs before route-level analytics (road usage,
speed-per-road, conflation).  Built from the repo's established
machinery: geohash-grid candidate covering (spatial_join.grid_cover),
pure-integer geometry shared verbatim with the DuckDB oracle, and a
deterministic struct-min argmin.

Geometry (all int64, no floats): for point p and segment (a, b) with
d = b - a, len2 = |d|^2, the clamped projection parameter is
tn = clamp((p - a) . d, 0, len2) (a rational t = tn/len2).  The snapped
point is floored per axis with a sign split so the integer division
only ever sees non-negative operands (Spark DIV truncates toward zero
while DuckDB // floors — they agree only on non-negatives):

    q = a + sign(d) * ((tn * |d|) DIV max(len2, 1))

and the match distance is the exact integer d2 = |p - q|^2 of that
floored snap.  Both engines evaluate the identical expression text
(snap_exprs), so the gate compares bit-equal integers; the flooring
displaces q from the true projection by < 1 fixed-point unit (~11 mm),
far below any GPS cap.

Overflow: with per-axis segment extent <= S and candidate points within
M = 2S + 3C of a segment endpoint (C = the match cap; the grid covering
pads segment bboxes by C, and a point's own cell adds at most one
padded-cell span), |tn| <= 2*M*S and the worst product tn*|dx| <=
2*M*S^2.  snap_to_roads validates 2*(2S+3C)*S^2 < 2^63 and refuses
larger configurations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geohash as GH
from ..functions.text_sql import SPARK, idiv_sql


def snap_exprs(
    px: str, py: str, x1: str, y1: str, x2: str, y2: str, dialect: str
) -> list[dict[str, str]]:
    """Staged integer expressions for the floored snap + exact d2.

    Returns a list of stages; each stage is a dict of column-name ->
    SQL referencing only input columns and PRIOR stages' column names.
    Callers MUST materialize each stage as its own projection (Spark
    withColumns) / MATERIALIZED CTE (DuckDB) — inlining the chain
    re-evaluates it per reference (the documented substitution trap).
    Stage columns: (__dx, __dy, __len2, __tn) -> (__qx, __qy) -> (__d2).
    """
    dx, dy = f"(({x2}) - ({x1}))", f"(({y2}) - ({y1}))"
    s1 = {
        "__dx": dx,
        "__dy": dy,
        "__len2": f"({dx} * {dx} + {dy} * {dy})",
        "__tn": (
            f"LEAST(GREATEST((({px}) - ({x1})) * {dx} + "
            f"(({py}) - ({y1})) * {dy}, 0), {dx} * {dx} + {dy} * {dy})"
        ),
    }

    def axis(a: str, d: str) -> str:
        q = idiv_sql(f"__tn * ABS({d})", "GREATEST(__len2, 1)", dialect)
        return f"(({a}) + (CASE WHEN {d} >= 0 THEN 1 ELSE -1 END) * {q})"

    s2 = {"__qx": axis(x1, "__dx"), "__qy": axis(y1, "__dy")}
    s3 = {
        "__d2": (
            f"((({px}) - __qx) * (({px}) - __qx) + "
            f"(({py}) - __qy) * (({py}) - __qy))"
        )
    }
    return [s1, s2, s3]


def snap_to_roads(
    points: DataFrame,
    roads: DataFrame,
    *,
    max_dist_fixed: int,
    lon: str = "lon",
    lat: str = "lat",
    point_id: str = "event_id",
    keep: tuple = (),
    road_id: str = "road_id",
    seg_col: str = "seg",
    ends: tuple = ("x1", "y1", "x2", "y2"),
    max_seg_span_fixed: int = 500_000,
    chars: int | None = None,
    max_cells_per_axis: int = 64,
    dir_cols: tuple | None = None,
    max_tan_ppm: int | None = None,
) -> DataFrame:
    """Match each point to its nearest road segment within
    `max_dist_fixed` (1e-7-degree planar units), integer-exact.

    With `dir_cols=(vx, vy)` (an integer direction vector per point,
    |component| <= max_seg_span_fixed) and `max_tan_ppm`, candidates
    must also be bearing-compatible: |cross(v, d)| * 1e6 <=
    |dot(v, d)| * max_tan_ppm — an undirected |tan angle| bound, pure
    int64 (268_000 ~ 15 degrees).  A zero-length vector on either side
    passes (no bearing to violate).  This is the conflation predicate
    (see conflate_roads).

    `roads` holds one row per segment: (road_id, seg_col, x1, y1, x2,
    y2) fixed-point endpoints with per-axis extent <= max_seg_span_fixed
    (violations raise inside the projection — a silent drop would skew
    results).  Points farther than the cap from every segment are
    absent from the output.

    Candidates come from the depth-`chars` geohash-grid covering of
    each segment's bbox PADDED by the cap (chars=None derives the
    finest depth whose per-axis covering of span S + 2C stays under
    `max_cells_per_axis`); each point contributes exactly its own cell,
    so every (point, segment) candidate pair appears at most once — no
    dedup shuffle.  Recall-complete: a point within C of a segment lies
    inside the padded bbox, hence its cell is in the covering.

    The winner per point is min(struct(d2, road_id, seg)) — a
    deterministic total order both engines reproduce.

    Returns (point_id, *keep, road_id, seg_col, snap_d2, snap_x,
    snap_y).

    Scale shape: the road side explodes into a bounded covering
    (typically a handful of cells at the auto depth) and the join is a
    cell equi-join — AQE broadcasts a small network or shuffles a
    continental one, and handles hot urban cells via skew split.  The
    argmin is a partial-aggregating groupBy on the point key.  No
    all-pairs stage, no Python, no window.
    """
    from .spatial_join import auto_bbox_chars, grid_cover

    C = int(max_dist_fixed)
    S = int(max_seg_span_fixed)
    if C <= 0:
        raise ValueError(f"max_dist_fixed={max_dist_fixed} must be positive")
    if S <= 0 or 2 * (2 * S + 3 * C) * S * S >= 1 << 63:
        raise ValueError(
            f"max_seg_span_fixed={S} with cap {C} exceeds the int64 "
            f"bound 2*(2S+3C)*S^2 < 2^63 of the exact snap arithmetic"
        )
    if chars is None:
        chars = auto_bbox_chars(S + 2 * C, max_cells_per_axis)

    rid, seg = road_id, seg_col
    x1, y1, x2, y2 = ends
    span_guard = (
        f"CASE WHEN ABS(({x2}) - ({x1})) <= {S} "
        f"AND ABS(({y2}) - ({y1})) <= {S} THEN 1 "
        f"ELSE CAST(raise_error('snap_to_roads: road segment extent "
        f"exceeds max_seg_span_fixed={S}') AS INT) END"
    )
    # padded bbox, clamped into the valid fixed-point coordinate domain
    # so the grid math never sees an out-of-range u
    def clamp(e: str, lim: int) -> str:
        return f"GREATEST(LEAST({e}, {lim - 1}), {-lim})"

    rd = roads.select(
        F.col(rid).alias("__rid"),
        F.col(seg).alias("__rseg"),
        F.col(x1).cast("long").alias("__rx1"),
        F.col(y1).cast("long").alias("__ry1"),
        F.col(x2).cast("long").alias("__rx2"),
        F.col(y2).cast("long").alias("__ry2"),
        F.expr(span_guard).alias("__ok"),
        F.expr(
            clamp(f"LEAST({x1}, {x2}) - {C}", 1_800_000_000)
        ).alias("__pnx"),
        F.expr(
            clamp(f"LEAST({y1}, {y2}) - {C}", 900_000_000)
        ).alias("__pny"),
        F.expr(
            clamp(f"GREATEST({x1}, {x2}) + {C}", 1_800_000_000)
        ).alias("__pxx"),
        F.expr(
            clamp(f"GREATEST({y1}, {y2}) + {C}", 900_000_000)
        ).alias("__pxy"),
    )
    cells = grid_cover(
        rd, ("__pnx", "__pny", "__pxx", "__pxy"), chars, max_cells_per_axis,
        "snap_to_roads",
    )

    pxs, pys = GH.geohash_xy_sql(lon, lat, chars, SPARK)
    dir_sel = []
    if dir_cols is not None:
        vx, vy = dir_cols
        vbound = (
            f"CASE WHEN ABS({{c}}) <= {S} THEN CAST({{c}} AS BIGINT) "
            f"ELSE CAST(raise_error('snap_to_roads: |{{c}}| direction "
            f"component exceeds max_seg_span_fixed={S}') AS BIGINT) END"
        )
        dir_sel = [
            F.expr(vbound.format(c=vx)).alias("__pvx"),
            F.expr(vbound.format(c=vy)).alias("__pvy"),
        ]
    pts = points.select(
        F.col(point_id).alias("__pid"),
        *[F.col(k) for k in keep],
        F.col(lon).cast("long").alias("__plon"),
        F.col(lat).cast("long").alias("__plat"),
        *dir_sel,
        F.expr(pxs).alias("__cx"),
        F.expr(pys).alias("__cy"),
    )

    cand = pts.join(cells, ["__cx", "__cy"])
    for stage in snap_exprs(
        "__plon", "__plat", "__rx1", "__ry1", "__rx2", "__ry2", SPARK
    ):
        cand = cand.withColumns({k: F.expr(v) for k, v in stage.items()})
    if dir_cols is not None and max_tan_ppm is not None:
        cand = cand.filter(F.expr(bearing_ok_sql(int(max_tan_ppm))))
    best = (
        cand.filter((F.col("__d2") <= C * C) & (F.col("__ok") == 1))
        .groupBy("__pid", *keep)
        .agg(
            F.min(
                F.struct(
                    F.col("__d2"),
                    F.col("__rid"),
                    F.col("__rseg"),
                    F.col("__qx"),
                    F.col("__qy"),
                )
            ).alias("__m")
        )
    )
    return best.select(
        F.col("__pid").alias(point_id),
        *keep,
        F.col("__m.__rid").alias(road_id),
        F.col("__m.__rseg").alias(seg_col),
        F.col("__m.__d2").alias("snap_d2"),
        F.col("__m.__qx").alias("snap_x"),
        F.col("__m.__qy").alias("snap_y"),
    )


def route_edges(
    matched: DataFrame,
    *,
    id_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
    road_col: str = "road_id",
    max_gap_us: int | None = None,
) -> DataFrame:
    """Road-to-road transition flows from a map-matched point stream —
    the route graph (which roads feed which) that turns per-point
    matches into network-level analytics.

    Per entity, points are ordered by `order_cols`, consecutive runs on
    the same road collapse to one visit, and each adjacent visit pair
    becomes a directed (road_from, road_to) transition; unmatched
    points are simply absent from `matched`, so transitions span
    match gaps.

    With `max_gap_us` set, the sequence additionally splits into TRIPS
    wherever consecutive matched points (in the matched subsequence —
    dropped points don't shrink the gap) are more than that many
    micros apart, and transitions never cross a trip boundary (the
    overnight teleport from the last road home to the first road out
    is not a flow).  order_cols[0] must then be a timestamp/integral
    column (functions/parse.epoch_micros dispatch).

    Returns (road_from, road_to, n_trans, n_entities).

    Scale shape: the window passes share ONE entity-keyed exchange
    (the trip counter and run-collapse sort identically), then a
    partial-aggregating count on the pair key."""
    from pyspark.sql import Window

    from ..functions.parse import epoch_micros

    if max_gap_us is not None:
        ts_col = order_cols[0]
        base = matched.withColumn(
            "__tus", epoch_micros(matched, ts_col)
        )
        w0 = Window.partitionBy(id_col).orderBy(
            "__tus", *[F.col(c) for c in order_cols[1:]]
        )
        base = base.withColumn(
            "__trip",
            F.sum(
                F.when(
                    F.col("__tus") - F.lag("__tus").over(w0)
                    > int(max_gap_us),
                    1,
                ).otherwise(0)
            ).over(w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        part = [id_col, "__trip"]
        w = Window.partitionBy(*part).orderBy(
            "__tus", *[F.col(c) for c in order_cols[1:]]
        )
    else:
        base = matched
        part = [id_col]
        w = Window.partitionBy(*part).orderBy(
            *[F.col(c) for c in order_cols]
        )
    runs = (
        base.withColumn("__prev", F.lag(road_col).over(w))
        .filter(
            F.col("__prev").isNull() | (F.col("__prev") != F.col(road_col))
        )
        .withColumn("__from", F.lag(road_col).over(w))
        .filter(F.col("__from").isNotNull())
    )
    return runs.groupBy(
        F.col("__from").alias("road_from"), F.col(road_col).alias("road_to")
    ).agg(
        F.count("*").alias("n_trans"),
        F.countDistinct(id_col).alias("n_entities"),
    )


def road_speed_stats(
    matched: DataFrame,
    *,
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    road_col: str = "road_id",
    lon: str = "snap_x",
    lat: str = "snap_y",
) -> DataFrame:
    """Per-road speed profile from a map-matched point stream — the
    traffic-analytics aggregate (how fast does this road actually
    flow).  Consecutive SAME-road point pairs per entity contribute
    their snapped-point chord length (integer mm, the pinned
    cross-engine form) and elapsed micros; road changes and match gaps
    contribute nothing (that movement wasn't on one road).

    Returns (road_col, n_segs, sum_mm, sum_us, speed_mmps) where
    speed_mmps = (sum_mm * 1e6) DIV max(sum_us, 1) — an in-projection
    guard raises if sum_mm is large enough to overflow the multiply
    (split such roads by time window first).

    Scale shape: one entity-keyed window, then a partial-aggregating
    groupBy on the road key."""
    segs = matched_road_segments(
        matched,
        id_col=id_col,
        ts_col=ts_col,
        seq_col=seq_col,
        road_col=road_col,
        lon=lon,
        lat=lat,
    )
    agg = segs.groupBy(F.col("__road").alias(road_col)).agg(
        F.count("*").alias("n_segs"),
        F.sum("__mm").alias("sum_mm"),
        F.sum("__dus").alias("sum_us"),
    )
    speed = (
        "CASE WHEN sum_mm <= 9223372036854 THEN "
        "(sum_mm * 1000000L) DIV GREATEST(sum_us, 1) "
        "ELSE CAST(raise_error('road_speed_stats: sum_mm overflows the "
        "speed multiply; window the input by time first') AS BIGINT) END"
    )
    return agg.withColumn("speed_mmps", F.expr(speed))


def matched_road_segments(
    matched: DataFrame,
    *,
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    road_col: str = "road_id",
    lon: str = "snap_x",
    lat: str = "snap_y",
) -> DataFrame:
    """Consecutive SAME-road snapped-point pairs per entity — the
    per-segment frame under road_speed_stats / road_speed_quantiles:
    (id_col, seq_col, __road, __mm chord, __dus elapsed).  One
    entity-keyed window; road changes and entity boundaries emit
    nothing."""
    from pyspark.sql import Window

    from ..functions.parse import epoch_micros
    from .trajectory import _chord_mm_udf

    pts = matched.select(
        id_col,
        seq_col,
        F.col(road_col).alias("__road"),
        F.col(lon).alias("__sx"),
        F.col(lat).alias("__sy"),
        epoch_micros(matched, ts_col).alias("__tus"),
    )
    w = Window.partitionBy(id_col).orderBy("__tus", seq_col)
    lagged = (
        pts.withColumn("__proad", F.lag("__road").over(w))
        .withColumn("__px", F.lag("__sx").over(w))
        .withColumn("__py", F.lag("__sy").over(w))
        .withColumn("__ptus", F.lag("__tus").over(w))
        .filter(
            F.col("__proad").isNotNull()
            & (F.col("__proad") == F.col("__road"))
        )
    )
    return lagged.select(
        id_col,
        seq_col,
        "__road",
        _chord_mm_udf(
            F.col("__px"), F.col("__py"), F.col("__sx"), F.col("__sy")
        ).alias("__mm"),
        (F.col("__tus") - F.col("__ptus")).alias("__dus"),
    )


def bearing_ok_sql(max_tan_ppm: int) -> str:
    """Undirected bearing-compatibility predicate between the point's
    direction (__pvx, __pvy) and the candidate segment's (__dx, __dy):
    |cross| * 1e6 <= |dot| * max_tan_ppm  (|tan angle| bound, folding
    180-degree flips via the ABS on dot).  Shared SQL text both
    engines; int64-safe for components <= 5e8."""
    cross = "ABS(__pvx * __dy - __pvy * __dx)"
    dot = "ABS(__pvx * __dx + __pvy * __dy)"
    return f"({cross} * 1000000 <= {dot} * {int(max_tan_ppm)})"


def conflate_roads(
    roads_a: DataFrame,
    roads_b: DataFrame,
    *,
    max_dist_fixed: int,
    max_tan_ppm: int = 268_000,
    road_id: str = "road_id",
    seg_col: str = "seg",
    ends: tuple = ("x1", "y1", "x2", "y2"),
    max_seg_span_fixed: int = 500_000,
    chars: int | None = None,
    max_cells_per_axis: int = 64,
) -> DataFrame:
    """Road-network conflation: match every segment of network A to its
    nearest BEARING-COMPATIBLE segment of network B — the two-dataset
    reconciliation step (imported network vs authoritative one; OSM vs
    municipal) that precedes any merge of their attributes.

    Each A segment is represented by its floored midpoint
    ((x1 + x2) DIV 2 — non-negative shift keeps both engines equal) and
    its direction vector; the B winner is the nearest segment with
    |tan(angle)| <= max_tan_ppm/1e6 (default ~15 degrees, undirected)
    whose snapped distance is within `max_dist_fixed`.  A segments with
    no compatible B segment are absent (anti-join for the "new road"
    report).

    Returns (a_road, a_seg, b_road, b_seg, snap_d2).

    Scale shape: exactly snap_to_roads — B's padded covering explodes,
    A contributes one cell per segment midpoint, AQE picks the join
    strategy, and the argmin is a partial aggregate."""
    x1, y1, x2, y2 = ends
    half = (
        "CAST(((({a}) + 1800000000) + (({b}) + 1800000000)) DIV 2 "
        "- 1800000000 AS BIGINT)"
    )
    halfv = (
        "CAST(((({a}) + 900000000) + (({b}) + 900000000)) DIV 2 "
        "- 900000000 AS BIGINT)"
    )
    mid = roads_a.select(
        F.col(road_id).alias("a_road"),
        F.col(seg_col).alias("a_seg"),
        F.expr(half.format(a=x1, b=x2)).alias("__mx"),
        F.expr(halfv.format(a=y1, b=y2)).alias("__my"),
        (F.col(x2) - F.col(x1)).cast("long").alias("__vx"),
        (F.col(y2) - F.col(y1)).cast("long").alias("__vy"),
    )
    out = snap_to_roads(
        mid,
        roads_b,
        max_dist_fixed=max_dist_fixed,
        lon="__mx",
        lat="__my",
        point_id="a_road",
        keep=("a_seg", "__vx", "__vy"),
        road_id=road_id,
        seg_col=seg_col,
        ends=ends,
        max_seg_span_fixed=max_seg_span_fixed,
        chars=chars,
        max_cells_per_axis=max_cells_per_axis,
        dir_cols=("__vx", "__vy"),
        max_tan_ppm=max_tan_ppm,
    )
    return out.select(
        F.col("a_road"),
        F.col("a_seg"),
        F.col(road_id).alias("b_road"),
        F.col(seg_col).alias("b_seg"),
        F.col("snap_d2"),
    )
