"""Trajectory analytics over per-entity point-event streams.

The reference engine's change machinery is built on per-id temporally
ordered element streams (combine_block.rs:93-134 latest-wins ordering,
find_update.rs:22-137 per-id state harvest); trajectory reconstruction
is the metric generalization: order each entity's events by time and
derive great-circle segment statistics and region enter/exit
transitions.

Scale shape: one data-sized hash shuffle on the entity key (window
partitionBy) followed by narrow projections; the per-entity aggregate
in track_stats partial-aggregates before its exchange, so its shuffle
is entity-count-sized (see its docstring).  The point-in-polygon test
is a vectorized Arrow-batch projection (filter.make_pip_udf) evaluated
before the shuffle, so the window carries one boolean, not
coordinates.

Float discipline (functions/geodesic.py): the haversine term is
numpy sin/cos + pinned IEEE arithmetic (libm-exact both engines);
segment lengths are reported as the CHORD through the sphere,
2R*sqrt(hav), because sqrt is IEEE-correctly-rounded on every engine
while asin is not — chord is a true metric, strictly monotone in arc
distance, and within 0.0017% of arc length for segments <= 50 km.
Chords are floored to integer millimetres so per-entity sums are exact
integer arithmetic cross-engine (no float summation order anywhere).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions import geodesic as GEO
from ..functions import parse as PARSE
from ..stages import pin

# floor(sqrt(hav) * CHORD_MM_LIT) == chord length in whole millimetres:
# chord = 2R*sin(d/2R) = 2R*sqrt(hav).  One literal, one mul — pinned.
CHORD_MM_LIT = repr(2.0 * GEO.EARTH_R_M * 1000.0)


@F.pandas_udf(LongType())
def _chord_mm_udf(
    alon: pd.Series, alat: pd.Series, blon: pd.Series, blat: pd.Series
) -> pd.Series:
    # inputs must be non-null (callers coalesce/filter first): a null
    # would widen the int64 batch to float64 and corrupt the fixed-point
    hav = GEO.hav_np(
        alon.to_numpy(np.int64),
        alat.to_numpy(np.int64),
        blon.to_numpy(np.int64),
        blat.to_numpy(np.int64),
    )
    return pd.Series(
        np.floor(np.sqrt(hav) * float(CHORD_MM_LIT)).astype(np.int64)
    )


def chord_mm_sql(lon_a: str, lat_a: str, lon_b: str, lat_b: str) -> str:
    """The identical chord computation as SQL text (DuckDB oracle side):
    FLOOR(sqrt(hav) * lit) — sqrt/mul/floor are engine-identical IEEE."""
    hav = GEO.hav_sql(lon_a, lat_a, lon_b, lat_b)
    return f"CAST(FLOOR(sqrt({hav}) * {CHORD_MM_LIT}) AS BIGINT)"


def track_segments(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Consecutive-point segments per entity.

    Orders each entity's events by (ts_col, seq_col) — a pinned TOTAL
    order (seq_col must be unique per entity) so results are
    deterministic under timestamp ties — and emits one row per
    consecutive pair: (id_col, seq_col, chord_mm) where chord_mm is the
    great-circle chord length of the segment ENDING at this event, in
    whole millimetres (see module docstring).  The first event of each
    entity emits no segment.
    """
    w = Window.partitionBy(id_col).orderBy(ts_col, seq_col)
    lagged = (
        events.select(id_col, ts_col, seq_col, lon, lat)
        .withColumn("__plon", F.lag(lon).over(w))
        .withColumn("__plat", F.lag(lat).over(w))
    )
    return lagged.filter(F.col("__plon").isNotNull()).select(
        F.col(id_col),
        F.col(seq_col),
        _chord_mm_udf(F.col("__plon"), F.col("__plat"), F.col(lon), F.col(lat)).alias(
            "chord_mm"
        ),
    )


def track_stats(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Per-entity track statistics in one shuffle.

    Returns (id_col, n_points, n_segments, path_mm, max_seg_mm):
    point count, segment count, total path length (sum of integer-mm
    chords — exact, order-free), and the longest single segment.
    Entities with a single point report n_segments 0 and path_mm 0.

    path_mm is exact while n_segments * 2R*1000 < 2^63 (~7.2e8
    antipodal segments per entity — unreachable for real tracks).
    Plan shape: the aggregate groups on the window's own partition key;
    the ArrowEvalPython chord projection drops the propagated
    partitioning in Spark 4, so Catalyst inserts a second exchange —
    but BELOW a partial HashAggregate, so that shuffle carries one row
    per (entity, input partition): entity-count-sized, not data-sized.
    """
    w = Window.partitionBy(id_col).orderBy(ts_col, seq_col)
    lagged = (
        events.select(id_col, ts_col, seq_col, lon, lat)
        .withColumn("__plon", F.lag(lon).over(w))
        .withColumn("__plat", F.lag(lat).over(w))
        .withColumn(
            # the UDF runs on every row (Spark evaluates Python UDFs
            # before the when-mask), so feed first-rows their own point
            # (chord 0) and let the mask null them out for the counts
            "__seg_mm",
            F.when(
                F.col("__plon").isNotNull(),
                _chord_mm_udf(
                    F.coalesce(F.col("__plon"), F.col(lon)),
                    F.coalesce(F.col("__plat"), F.col(lat)),
                    F.col(lon),
                    F.col(lat),
                ),
            ),
        )
    )
    return lagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.count("__seg_mm").alias("n_segments"),
        F.coalesce(F.sum("__seg_mm"), F.lit(0)).alias("path_mm"),
        F.coalesce(F.max("__seg_mm"), F.lit(0)).alias("max_seg_mm"),
    )


def geofence_transitions(
    events: DataFrame,
    poly,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Enter/exit transitions of each entity across a polygon fence.

    `poly` is an operators.filter.Poly (the reference's exact pnpoly
    crossing-number semantics, filter_elements.rs:89-129, vectorized).
    Each event is classified inside/outside BEFORE the shuffle (the
    window then carries one boolean); per entity in (ts_col, seq_col)
    order, every flip of the flag emits one row:

      (id_col, seq_col, ts_col, transition) — transition 'enter' when
      the event is the first inside after being outside, 'exit' for the
      reverse.  An entity's first event emits nothing (no prior state).
    """
    from .filter import make_pip_udf

    pip = make_pip_udf(poly)
    flagged = events.select(id_col, ts_col, seq_col, lon, lat).withColumn(
        "__in", pip(F.col(lon), F.col(lat))
    )
    w = Window.partitionBy(id_col).orderBy(ts_col, seq_col)
    return (
        flagged.withColumn("__pin", F.lag("__in").over(w))
        .filter(F.col("__pin").isNotNull() & (F.col("__pin") != F.col("__in")))
        .select(
            F.col(id_col),
            F.col(seq_col),
            F.col(ts_col),
            F.when(F.col("__in"), F.lit("enter"))
            .otherwise(F.lit("exit"))
            .alias("transition"),
        )
    )


def split_trips(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    max_gap_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Trip segmentation: split each entity's track wherever consecutive
    events are more than `max_gap_us` apart, and report per-trip stats.

    Output one row per (entity, trip): (id_col, trip, n_points,
    start_us, end_us, duration_us, path_mm, max_seg_mm).  `trip` is the
    0-based index of the trip in time order; path lengths are integer-mm
    chord sums (module docstring) over WITHIN-trip segments only — the
    gap segment that opens a new trip contributes to neither trip.
    Single-point trips report path_mm 0 / max_seg_mm 0 / duration_us 0.

    Plan shape: one data-sized hash exchange on the entity key feeds
    both window passes (lag + running trip counter share the partition
    and sort), then the (entity, trip) aggregate partial-aggregates
    below its exchange (same note as track_stats: the ArrowEvalPython
    chord projection drops the propagated partitioning in Spark 4, so
    the final shuffle carries one row per (entity, trip, partition) —
    trip-count-sized, not data-sized).
    """
    if max_gap_us <= 0:
        raise ValueError(f"max_gap_us={max_gap_us} must be > 0")
    base = events.withColumn(
        "__tus", PARSE.epoch_micros(events, ts_col)
    ).select(id_col, seq_col, lon, lat, "__tus")
    w = Window.partitionBy(id_col).orderBy("__tus", seq_col)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lagged = (
        base.withColumn("__ptus", F.lag("__tus").over(w))
        .withColumn("__plon", F.lag(lon).over(w))
        .withColumn("__plat", F.lag(lat).over(w))
        .withColumn(
            "__new",
            F.col("__ptus").isNull()
            | (F.col("__tus") - F.col("__ptus") > F.lit(int(max_gap_us))),
        )
        .withColumn(
            "__trip", F.sum(F.col("__new").cast("long")).over(wrun) - F.lit(1)
        )
        .withColumn(
            # the UDF runs on every row (Python UDFs evaluate before the
            # when-mask) — feed trip-opening rows their own point and let
            # the mask null the result out of the aggregates
            "__seg_mm",
            F.when(
                ~F.col("__new"),
                _chord_mm_udf(
                    F.coalesce(F.col("__plon"), F.col(lon)),
                    F.coalesce(F.col("__plat"), F.col(lat)),
                    F.col(lon),
                    F.col(lat),
                ),
            ),
        )
    )
    return lagged.groupBy(
        F.col(id_col), F.col("__trip").alias("trip")
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("__tus").alias("start_us"),
        F.max("__tus").alias("end_us"),
        (F.max("__tus") - F.min("__tus")).alias("duration_us"),
        F.coalesce(F.sum("__seg_mm"), F.lit(0)).alias("path_mm"),
        F.coalesce(F.max("__seg_mm"), F.lit(0)).alias("max_seg_mm"),
    )


def dwell_episodes(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    eps_mm: int = 100_000,
    max_gap_us: int = 30 * 60 * 1_000_000,
    min_dwell_us: int = 5 * 60 * 1_000_000,
) -> DataFrame:
    """Dwell (stay-point) detection: maximal runs of consecutive SLOW
    segments — chord <= eps_mm AND time delta <= max_gap_us — lasting at
    least `min_dwell_us` end to end.

    A segment is the (prev event -> event) pair in (ts_col, seq_col)
    order; an episode starts at the anchor event BEFORE its first slow
    segment and ends at the last slow segment's event, so a device
    parked through k events reports n_points = k and dwell_us =
    end_us - start_us of the full stay.  Long signal gaps (> max_gap_us)
    break episodes even when the device reappears nearby — a gap is
    absence of evidence, not dwelling (same cut as split_trips).

    Output: (id_col, start_us, end_us, dwell_us, n_points), episodes
    with dwell_us >= min_dwell_us only.

    Plan shape: two entity-key exchanges — the slow flag derives from
    the Arrow chord projection, which drops the propagated partitioning
    in Spark 4, so the island window re-shuffles the flagged frame; the
    final aggregate then partial-aggregates below an episode-count-sized
    exchange.  Everything between exchanges is narrow.
    """
    if eps_mm < 0:
        raise ValueError(f"eps_mm={eps_mm} must be >= 0")
    if max_gap_us <= 0 or min_dwell_us < 0:
        raise ValueError("max_gap_us must be > 0 and min_dwell_us >= 0")
    base = events.withColumn(
        "__tus", PARSE.epoch_micros(events, ts_col)
    ).select(id_col, seq_col, lon, lat, "__tus")
    w = Window.partitionBy(id_col).orderBy("__tus", seq_col)
    lagged = (
        base.withColumn("__ptus", F.lag("__tus").over(w))
        .withColumn("__plon", F.lag(lon).over(w))
        .withColumn("__plat", F.lag(lat).over(w))
        .withColumn(
            "__seg_mm",
            F.when(
                F.col("__ptus").isNotNull(),
                _chord_mm_udf(
                    F.coalesce(F.col("__plon"), F.col(lon)),
                    F.coalesce(F.col("__plat"), F.col(lat)),
                    F.col(lon),
                    F.col(lat),
                ),
            ),
        )
        .withColumn(
            "__slow",
            F.col("__seg_mm").isNotNull()
            & (F.col("__seg_mm") <= F.lit(int(eps_mm)))
            & (F.col("__tus") - F.col("__ptus") <= F.lit(int(max_gap_us))),
        )
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = (
        lagged.withColumn("__pslow", F.lag("__slow").over(w))
        .withColumn(
            "__isl",
            F.sum(
                (
                    F.col("__slow") & ~F.coalesce(F.col("__pslow"), F.lit(False))
                ).cast("long")
            ).over(wrun),
        )
        .filter(F.col("__slow"))
    )
    return (
        islands.groupBy(F.col(id_col), F.col("__isl"))
        .agg(
            F.min("__ptus").alias("start_us"),
            F.max("__tus").alias("end_us"),
            (F.max("__tus") - F.min("__ptus")).alias("dwell_us"),
            (F.count(F.lit(1)) + F.lit(1)).alias("n_points"),
        )
        .filter(F.col("dwell_us") >= F.lit(int(min_dwell_us)))
        .select(id_col, "start_us", "end_us", "dwell_us", "n_points")
    )


def interp_exprs(
    qus: str, t0: str, t1: str,
    lon0: str, lat0: str, lon1: str, lat1: str,
) -> tuple[str, str]:
    """(lon_sql, lat_sql) for linear position interpolation at fraction
    (qus-t0)/(t1-t0) — SHARED expression text, valid and bit-identical
    in Spark SQL and DuckDB: integer wrap/normalize math uses % (both
    engines truncate toward zero) and the float part is one div, one
    mul, one add, one FLOOR in pinned order (IEEE-identical).  The
    longitude delta takes the SHORT way around the antimeridian and the
    result is normalized back into [-1.8e9, 1.8e9) fixed-point."""
    frac = f"(CAST({qus} - {t0} AS DOUBLE) / CAST({t1} - {t0} AS DOUBLE))"
    dlon = (
        f"((({lon1} - {lon0} + 1800000000) % 3600000000 + 3600000000) "
        f"% 3600000000 - 1800000000)"
    )
    raw = (
        f"CAST(FLOOR(CAST({lon0} AS DOUBLE) + CAST({dlon} AS DOUBLE) * "
        f"{frac}) AS BIGINT)"
    )
    lon = (
        f"((({raw} + 1800000000) % 3600000000 + 3600000000) "
        f"% 3600000000 - 1800000000)"
    )
    lat = (
        f"CAST(FLOOR(CAST({lat0} AS DOUBLE) + "
        f"CAST({lat1} - {lat0} AS DOUBLE) * {frac}) AS BIGINT)"
    )
    return lon, lat


def interpolate_track(
    points: DataFrame,
    queries: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    qts_col: str = "qts",
    keep_cols: tuple = (),
) -> DataFrame:
    """Per-entity position resampling: for every (entity, query time)
    return the track position linearly interpolated between the
    bracketing points.

      - interp: last point at ts <= qts and first point at ts > qts
        both exist; position = p0 + (p1 - p0) * (qts-t0)/(t1-t0) with
        short-way longitude wrap (interp_exprs).  A point exactly AT
        qts is the p0 bracket (frac 0, integer-exact result; t1 is
        strictly later so the division is never 0/0).
      - before_start / after_end: only one bracket exists; position is
        clamped to it (standard telemetry resampling).
      - entities with no points at all are dropped.

    Duplicate (id, ts) point rows are the caller's to resolve — the
    bracket choice between them would be nondeterministic.

    Output: (id_col, qus, mode, lon, lat) + keep_cols passed through
    from `queries`.  qus is the query time in integer epoch
    microseconds.  No Python UDF anywhere: brackets come from two
    ignore-nulls window passes over ONE entity-key exchange (same
    partitioning, two sort orders), and the interpolation is plain
    IEEE div/mul/add/FLOOR (engine-identical; only transcendentals are
    banned JVM-side)."""
    pts = points.select(
        F.col(id_col),
        PARSE.epoch_micros(points, ts_col).alias("__tus"),
        F.col(lon).cast("long").alias("__plon"),
        F.col(lat).cast("long").alias("__plat"),
        F.lit(0).alias("__isq"),
        *[F.lit(None).cast(queries.schema[k].dataType).alias(k) for k in keep_cols],
    )
    qs = queries.select(
        F.col(id_col),
        PARSE.epoch_micros(queries, qts_col).alias("__tus"),
        F.lit(None).cast("long").alias("__plon"),
        F.lit(None).cast("long").alias("__plat"),
        F.lit(1).alias("__isq"),
        *[F.col(k) for k in keep_cols],
    )
    u = pts.unionByName(qs)
    st = F.when(
        F.col("__isq") == 0,
        F.struct(
            F.col("__tus").alias("t"),
            F.col("__plon").alias("lo"),
            F.col("__plat").alias("la"),
        ),
    )
    wf = (
        Window.partitionBy(id_col)
        .orderBy("__tus", "__isq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy(id_col)
        .orderBy(F.col("__tus").desc(), F.col("__isq").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    br = (
        u.withColumn("__p0", F.last(st, ignorenulls=True).over(wf))
        .withColumn("__p1", F.last(st, ignorenulls=True).over(wb))
        .filter(F.col("__isq") == 1)
        .filter(F.col("__p0").isNotNull() | F.col("__p1").isNotNull())
    )
    lon_sql, lat_sql = interp_exprs(
        "__tus", "__p0.t", "__p1.t", "__p0.lo", "__p0.la", "__p1.lo", "__p1.la"
    )
    return br.select(
        F.col(id_col),
        F.col("__tus").alias("qus"),
        F.when(F.col("__p0").isNull(), F.lit("before_start"))
        .when(F.col("__p1").isNull(), F.lit("after_end"))
        .otherwise(F.lit("interp"))
        .alias("mode"),
        F.when(F.col("__p0").isNull(), F.col("__p1.lo"))
        .when(F.col("__p1").isNull(), F.col("__p0.lo"))
        .otherwise(F.expr(lon_sql))
        .alias(lon),
        F.when(F.col("__p0").isNull(), F.col("__p1.la"))
        .when(F.col("__p1").isNull(), F.col("__p0.la"))
        .otherwise(F.expr(lat_sql))
        .alias(lat),
        *[F.col(k) for k in keep_cols],
    )


def time_in_fence(
    events: DataFrame,
    poly,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    max_gap_us: int = 6 * 3600 * 1_000_000,
) -> DataFrame:
    """Total time each entity spends inside a polygon fence.

    Left-continuous step integration: the interval [t_i, t_{i+1})
    counts as inside exactly when event i is inside (the standard
    telemetry convention — state holds until the next observation); an
    entity's last event contributes nothing, and intervals longer than
    max_gap_us are dropped (signal loss is not presence — the same cut
    as split_trips/dwell_episodes).

    Output: (id_col, inside_us, n_events, n_inside).  The
    inside/outside flag is the vectorized pnpoly Arrow projection
    evaluated BEFORE the entity shuffle (the window carries one boolean
    and two longs); one window pass + one aggregate.
    """
    from .filter import make_pip_udf

    if max_gap_us <= 0:
        raise ValueError(f"max_gap_us={max_gap_us} must be > 0")
    pip = make_pip_udf(poly)
    base = (
        events.withColumn("__tus", PARSE.epoch_micros(events, ts_col))
        .select(id_col, seq_col, "__tus", lon, lat)
        .withColumn("__in", pip(F.col(lon), F.col(lat)))
    )
    w = Window.partitionBy(id_col).orderBy("__tus", seq_col)
    stepped = base.withColumn("__nt", F.lead("__tus").over(w)).withColumn(
        "__dwell",
        F.when(
            F.col("__nt").isNotNull()
            & (F.col("__nt") - F.col("__tus") <= F.lit(int(max_gap_us)))
            & F.col("__in"),
            F.col("__nt") - F.col("__tus"),
        ).otherwise(F.lit(0)),
    )
    return stepped.groupBy(id_col).agg(
        F.sum("__dwell").alias("inside_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("__in").cast("long")).alias("n_inside"),
    )


HAUSDORFF_MAX_PAIR_POINTS = 4_000_000
"""Largest |A|·|B| (decimated point pairs) track_hausdorff accepts for
one candidate pair.  _hausdorff_mm_udf evaluates a pair's whole chord
matrix in one chunk, at a peak of about 104 bytes of numpy temporaries
per point pair (measured with tracemalloc), so the cap bounds one
kernel call at about 420 MB of Python-worker memory.  Larger pairs raise
in the candidate projection, before the kernel runs; a larger `step`
decimates them under the cap."""


@F.pandas_udf(LongType())
def _hausdorff_mm_udf(
    axs: pd.Series, ays: pd.Series, bxs: pd.Series, bys: pd.Series
) -> pd.Series:
    """Symmetric discrete Hausdorff (integer-mm chords) for one
    candidate pair per row, arrays carrying each side's decimated
    points.  The chord matrix is evaluated with EXACTLY the same
    elementwise numpy ops as _chord_mm_udf (hav_np + sqrt + mul +
    floor), so every mm value is bit-identical to the former
    row-per-point-pair shape; minima/maxima are integer reductions.

    Vectorized across the batch: rows are chunked to a bounded
    point-pair budget (big numpy temporaries are measurably slower on
    this host), then one flat gather evaluates every pair in the chunk,
    `minimum.reduceat` over a-major runs gives h(A,B), and a
    permutation to b-major order gives h(B,A) without re-evaluating the
    matrix."""
    n = len(axs)
    out = np.empty(n, np.int64)
    if n == 0:
        return pd.Series(out)
    ax = [np.asarray(v, np.int64) for v in axs]
    ay = [np.asarray(v, np.int64) for v in ays]
    bx = [np.asarray(v, np.int64) for v in bxs]
    by = [np.asarray(v, np.int64) for v in bys]
    la = np.fromiter((len(v) for v in ax), np.int64, n)
    lb = np.fromiter((len(v) for v in bx), np.int64, n)
    # small chunks keep every temporary cache-resident (measured 3x
    # faster than a 4M-pair budget — the big-numpy-temporaries trap)
    budget = 250_000
    pi = float(np.pi)
    i0 = 0
    while i0 < n:
        i1, tot = i0, 0
        while i1 < n and (i1 == i0 or tot + la[i1] * lb[i1] <= budget):
            tot += la[i1] * lb[i1]
            i1 += 1
        la_c, lb_c = la[i0:i1], lb[i0:i1]
        nc = i1 - i0
        p = la_c * lb_c
        poff = np.concatenate(([0], np.cumsum(p)))[:-1]
        P = int(p.sum())
        rid = np.repeat(np.arange(nc), p)
        local = np.arange(P, dtype=np.int64) - poff[rid]
        aoff = np.concatenate(([0], np.cumsum(la_c)))[:-1]
        boff = np.concatenate(([0], np.cumsum(lb_c)))[:-1]
        axf = np.concatenate(ax[i0:i1])
        ayf = np.concatenate(ay[i0:i1])
        bxf = np.concatenate(bx[i0:i1])
        byf = np.concatenate(by[i0:i1])
        ai = aoff[rid] + local // lb_c[rid]
        bi = boff[rid] + local % lb_c[rid]
        # hav_np's exact ops with the per-POINT pieces (lat radians,
        # cos) hoisted out of the pair matrix: cos/radian conversion of
        # the same double input yields the same double wherever it is
        # evaluated, and the pairwise combination below keeps hav_np's
        # pinned operand order — every mm stays bit-identical to
        # _chord_mm_udf while the matrix pays 2 transcendentals per
        # element instead of 6
        ra_a = (ayf.astype(np.float64) * pi) / 1800000000.0
        ra_b = (byf.astype(np.float64) * pi) / 1800000000.0
        cra_a = np.cos(ra_a)
        cra_b = np.cos(ra_b)
        dl = np.abs(axf[ai] - bxf[bi])
        wl = np.minimum(dl, 3600000000 - dl)
        sp = np.sin((ra_a[ai] - ra_b[bi]) * 0.5)
        sl = np.sin(((wl.astype(np.float64) * pi) / 1800000000.0) * 0.5)
        hav = sp * sp + (cra_a[ai] * cra_b[bi]) * (sl * sl)
        mm = np.floor(np.sqrt(hav) * float(CHORD_MM_LIT)).astype(np.int64)
        # h(A,B): pairs are a-major, so each (row, a-point)'s b-run is
        # contiguous; per-run minima then per-row maxima
        la_tot = int(la_c.sum())
        ra = np.repeat(np.arange(nc), la_c)
        starts_a = poff[ra] + (np.arange(la_tot) - aoff[ra]) * lb_c[ra]
        h_ab = np.maximum.reduceat(np.minimum.reduceat(mm, starts_a), aoff)
        # h(B,A): scatter each pair to its b-major position
        lb_tot = int(lb_c.sum())
        perm = poff[rid] + (local % lb_c[rid]) * la_c[rid] + local // lb_c[rid]
        mmb = np.empty_like(mm)
        mmb[perm] = mm
        rb = np.repeat(np.arange(nc), lb_c)
        starts_b = poff[rb] + (np.arange(lb_tot) - boff[rb]) * la_c[rb]
        h_ba = np.maximum.reduceat(np.minimum.reduceat(mmb, starts_b), boff)
        out[i0:i1] = np.maximum(h_ab, h_ba)
        i0 = i1
    return pd.Series(out)


def track_hausdorff(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    seq_col: str = "event_id",
    step: int = 1,
    sink: str | None = None,
) -> DataFrame:
    """Symmetric discrete Hausdorff distance between every pair of
    entity tracks whose bounding boxes intersect — the trajectory
    similarity join (map-matching / duplicate-route detection shape).

    For candidate pair (A, B): H = max(h(A,B), h(B,A)) with
    h(A,B) = max over a∈A of min over b∈B of d(a,b), d the integer-mm
    great-circle chord (module float discipline: sqrt-only, exact
    cross-engine).  Pairs whose fixed-point lon/lat bounding boxes do
    not overlap are NOT emitted (tracks that never share territory are
    not similarity candidates — the deterministic candidate contract,
    integer compares only).  `step` decimates each track to events with
    seq_col % step == 0 first: the per-pair cost is |A|·|B|, and
    decimation is the standard control for it (discrete Hausdorff on a
    decimated track differs from the full track by at most the maximum
    skipped-segment length).  Entities whose events are all decimated
    away drop out entirely.

    Returns (user_a, user_b, n_a, n_b, hausdorff_mm) with
    user_a < user_b and n_* the decimated point counts.

    Scale shape (r8): ONE entity-keyed aggregate builds bbox + count +
    the decimated point arrays per entity, persisted across its
    consumers (the r4 cache-lifecycle pattern).  Candidates come from
    the grid-covered cell EQUI-join with reference-point dedup
    (spatial_join.grid_cover / box_pair_keep), at a depth derived from
    the largest track bbox (one aggregate-only scan), never a nested
    loop over entity pairs.  The |A|·|B| distance work (inherent to
    discrete Hausdorff, bounded by `step` decimation and capped per pair
    at HAUSDORFF_MAX_PAIR_POINTS) runs INSIDE one vectorized Arrow batch
    per candidate-pair row: the point arrays ride the two entity joins,
    and a numpy kernel evaluates the exact per-pair chord matrix
    (elementwise identical to _chord_mm_udf — same hav_np ops, same
    floor) plus both directed maxima with segment-reductions, emitting
    one int64 per pair.  That
    replaces the former pair×|A|×|B| join + double-explode +
    (pair·(|A|+|B|))-group aggregation — the r7 bench's single most
    expensive query at the driver's escalated SF — with an
    entity-pair-sized frame.  The result is localCheckpointed (eager)
    so the persisted track index can be released before return; pass
    `sink` (a parquet path) at planet scale to stream the pair results
    to storage instead (same contract as knn_great_circle)."""
    ranked, tracks = _track_hausdorff_plan(
        events, lon, lat, id_col, seq_col, step
    )
    if sink is None:
        res = ranked.localCheckpoint(eager=True)
    else:
        ranked.write.mode("overwrite").parquet(sink)
        res = events.sparkSession.read.parquet(sink)
    tracks.unpersist()
    return res


def _track_hausdorff_plan(
    events: DataFrame,
    lon: str,
    lat: str,
    id_col: str,
    seq_col: str,
    step: int,
) -> tuple[DataFrame, DataFrame]:
    """Lazy track_hausdorff frame + the persisted track index backing
    it (caller materializes then unpersists) — split out so tests and
    plan captures can inspect the pre-checkpoint physical plan."""
    from .spatial_join import auto_bbox_chars, box_pair_keep, grid_cover

    if step < 1:
        raise ValueError(f"step={step} must be >= 1")
    pts = events.select(id_col, seq_col, lon, lat)
    if step > 1:
        pts = pts.filter(F.col(seq_col) % step == 0)
    tracks = (
        pts.groupBy(id_col)
        .agg(
            F.min(lon).alias("__minx"),
            F.max(lon).alias("__maxx"),
            F.min(lat).alias("__miny"),
            F.max(lat).alias("__maxy"),
            F.count("*").alias("__n"),
            F.collect_list(
                F.struct(
                    F.col(lon).cast("long").alias("x"),
                    F.col(lat).cast("long").alias("y"),
                )
            ).alias("__pts"),
        )
        .select(
            F.col(id_col),
            "__minx", "__maxx", "__miny", "__maxy", "__n",
            F.expr("transform(__pts, p -> p.x)").alias("__xs"),
            F.expr("transform(__pts, p -> p.y)").alias("__ys"),
        )
        .persist()
    )
    # depth for the covering: finest grid where the LARGEST track bbox
    # stays within the per-axis cell cap (aggregate-only scan over the
    # persisted index — grid_cover's raise guard cannot fire at a
    # depth derived from the true maximum)
    srow = tracks.agg(
        F.max(
            F.greatest(
                F.col("__maxx") - F.col("__minx"),
                F.col("__maxy") - F.col("__miny"),
            )
        ).alias("s")
    ).collect()[0]
    span_max = max(int(srow["s"] or 0), 1)
    chars = auto_bbox_chars(span_max, max_cells_per_axis=64)

    light = ["__minx", "__maxx", "__miny", "__maxy", "__n"]
    cells = grid_cover(
        tracks.select(F.col(id_col), *light),
        ("__minx", "__miny", "__maxx", "__maxy"), chars, 64, "track_hausdorff",
    )
    a = cells.select(
        F.col(id_col).alias("__ua"),
        *[F.col(c).alias("__a" + c.lstrip("_")) for c in light],
        "__cx", "__cy",
    )
    b = cells.select(
        F.col(id_col).alias("__ub"),
        *[F.col(c).alias("__b" + c.lstrip("_")) for c in light],
        "__cx", "__cy",
    )
    # the cell join explodes (up to per-cell population² pair rows from
    # entity-count-sized inputs) behind a tiny pre-join shuffle: pin
    # its stage (see _radius_join_impl — same measured trap)
    cand = (
        pin(a, "__cx", "__cy")
        .join(pin(b, "__cx", "__cy"), ["__cx", "__cy"])
        .filter(F.col("__ua") < F.col("__ub"))
        .filter(
            box_pair_keep(
                ("__aminx", "__aminy", "__amaxx", "__amaxy"),
                ("__bminx", "__bminy", "__bmaxx", "__bmaxy"),
                chars,
            )
        )
        .select(
            "__ua", "__ub",
            # the kernel evaluates a pair's whole |A|x|B| chord matrix in
            # one chunk: refuse oversized pairs here, before it allocates
            F.expr(
                f"CASE WHEN __an * __bn <= {HAUSDORFF_MAX_PAIR_POINTS} "
                f"THEN __an ELSE CAST(raise_error('track_hausdorff: a "
                f"track pair exceeds {HAUSDORFF_MAX_PAIR_POINTS} point "
                f"pairs; pass a larger step') AS BIGINT) END"
            ).alias("n_a"),
            F.col("__bn").alias("n_b"),
        )
    )
    arr_a = tracks.select(
        F.col(id_col).alias("__ua"),
        F.col("__xs").alias("__axs"), F.col("__ys").alias("__ays"),
    )
    arr_b = tracks.select(
        F.col(id_col).alias("__ub"),
        F.col("__xs").alias("__bxs"), F.col("__ys").alias("__bys"),
    )
    # the coarse grid can have very few distinct cells (degenerate
    # all-overlapping tracks — chars=1 has 32 cells worldwide), which
    # would cap the distance stage's parallelism at the cell count;
    # re-spread the pair frame by its own key so the |A|·|B| numpy
    # stage runs evenly at cluster parallelism
    ranked = (
        pin(cand, "__ua", "__ub")
        .join(arr_a, "__ua")
        .join(arr_b, "__ub")
        .select(
            F.col("__ua").alias("user_a"),
            F.col("__ub").alias("user_b"),
            "n_a", "n_b",
            _hausdorff_mm_udf(
                "__axs", "__ays", "__bxs", "__bys"
            ).alias("hausdorff_mm"),
        )
    )
    return ranked, tracks


def _bounded_segments(
    events: DataFrame,
    lon: str,
    lat: str,
    id_col: str,
    ts_col: str,
    seq_col: str,
    max_span_fixed: int,
) -> DataFrame:
    """Consecutive-point segments per entity with per-axis extent
    bounded by `max_span_fixed` (over-bound segments are teleports /
    trip boundaries, not movement).  Shared by segment_crossings and
    track_cell_lengths: one (ts_col, seq_col)-ordered window lag,
    then a pure integer extent filter.  Returns
    (__uid, __seq, __x1, __y1, __x2, __y2)."""
    w = Window.partitionBy(id_col).orderBy(ts_col, seq_col)
    return (
        events.select(id_col, ts_col, seq_col, lon, lat)
        .withColumn("__px", F.lag(lon).over(w))
        .withColumn("__py", F.lag(lat).over(w))
        .filter(F.col("__px").isNotNull())
        .select(
            F.col(id_col).alias("__uid"),
            F.col(seq_col).alias("__seq"),
            F.col("__px").cast("long").alias("__x1"),
            F.col("__py").cast("long").alias("__y1"),
            F.col(lon).cast("long").alias("__x2"),
            F.col(lat).cast("long").alias("__y2"),
        )
        .filter(
            (F.abs(F.col("__x2") - F.col("__x1")) <= int(max_span_fixed))
            & (F.abs(F.col("__y2") - F.col("__y1")) <= int(max_span_fixed))
        )
    )


def segment_cross_sql(
    ax1: str, ay1: str, ax2: str, ay2: str,
    bx1: str, by1: str, bx2: str, by2: str,
) -> str:
    """Proper-crossing predicate for two integer segments as
    dialect-neutral SQL text (shared with the DuckDB oracle).

    Classic orientation test: segments (a1,a2) and (b1,b2) properly
    cross iff b1/b2 lie strictly on opposite sides of line(a1,a2) AND
    a1/a2 strictly on opposite sides of line(b1,b2).  Endpoint touches
    and collinear overlaps are NOT crossings (both engines agree — the
    test is pure int64 compares, no floats, no sign() dialect drift:
    opposite-sidedness is written as two <0/>0 conjunctions, never as a
    d_i*d_j < 0 product, whose magnitude could overflow int64).

    Overflow bound: every cross term is (dx)*(dy) of coordinate
    differences between endpoints of the two segments; callers must
    bound per-axis segment extent by S (segment_crossings filters on
    it), and only evaluate pairs whose coverings share a grid cell, so
    |diff| <= 2S + cell_span <= 3S and |term| <= 9S^2, |d_i| <= 18S^2 —
    inside int64 for S <= 500_000_000 (validated by the caller)."""

    def cross(ox: str, oy: str, px: str, py: str, qx: str, qy: str) -> str:
        return (
            f"(({px} - {ox}) * ({qy} - {oy}) - "
            f"({py} - {oy}) * ({qx} - {ox}))"
        )

    d1 = cross(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = cross(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = cross(bx1, by1, bx2, by2, ax1, ay1)
    d4 = cross(bx1, by1, bx2, by2, ax2, ay2)

    def opp(u: str, v: str) -> str:
        return f"((({u}) < 0 AND ({v}) > 0) OR (({u}) > 0 AND ({v}) < 0))"

    return f"({opp(d1, d2)} AND {opp(d3, d4)})"


def segment_crossings(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    max_span_fixed: int = 200_000,
    chars: int | None = None,
    max_cells_per_axis: int = 64,
) -> DataFrame:
    """Track-crossing join: count proper segment intersections between
    every pair of DIFFERENT entities' tracks.

    The trajectory twin of spatial_join.bbox_intersection_join (the
    route-interaction / conflict-detection shape: how often do two
    entities' paths cut across each other).  Consecutive-point segments
    per entity come from one (ts_col, seq_col)-ordered window lag;
    segments whose per-axis fixed-point extent exceeds `max_span_fixed`
    are trip boundaries (teleports), not movement, and are dropped —
    the same integer bound both engines share, and the bound that makes
    the exact crossing test overflow-free (segment_cross_sql).

    Candidates come from the depth-`chars` geohash-grid covering of
    each segment's bbox (spatial_join.grid_cover; chars=None derives the
    finest depth from max_span_fixed via auto_bbox_chars); pairs
    equi-join on the cell and each surviving pair is emitted from
    exactly ONE cell (spatial_join.box_pair_keep's reference-point
    filter) — so no distinct shuffle.  Recall-complete: two crossing
    segments have intersecting bboxes, whose reference point lies in
    both coverings.

    Returns (user_a, user_b, crossings) with user_a < user_b, one row
    per entity pair with >= 1 proper crossing.

    Scale shape: one entity-keyed window (data-sized shuffle), a
    covering explode bounded by max_cells_per_axis^2 per segment (and
    by ~(extent/cell_span + 1)^2 in practice — auto depth keeps typical
    segments at a handful of cells), a cell-local equi-join (AQE skew
    handling covers hot cells; lower `chars` if a cell's segment count
    goes quadratic), and a partial-aggregating count on the pair key.
    No all-pairs stage anywhere; everything JVM-side integer SQL."""
    from .spatial_join import auto_bbox_chars, box_pair_keep, grid_cover

    S = int(max_span_fixed)
    if S <= 0 or S > 500_000_000:
        raise ValueError(
            f"max_span_fixed={max_span_fixed} out of (0, 5e8] — the "
            f"int64 overflow bound of the exact crossing test"
        )
    if chars is None:
        chars = auto_bbox_chars(S, max_cells_per_axis)

    seg = (
        _bounded_segments(events, lon, lat, id_col, ts_col, seq_col, S)
        .withColumn("__mnx", F.least("__x1", "__x2"))
        .withColumn("__mny", F.least("__y1", "__y2"))
        .withColumn("__mxx", F.greatest("__x1", "__x2"))
        .withColumn("__mxy", F.greatest("__y1", "__y2"))
    )

    # extent <= S plus auto depth keeps coverings under the cap; the
    # raise guards explicit-chars callers (a silent clamp breaks recall)
    carry = ["__uid", "__x1", "__y1", "__x2", "__y2",
             "__mnx", "__mny", "__mxx", "__mxy"]
    cells = grid_cover(
        seg.select(*carry), ("__mnx", "__mny", "__mxx", "__mxy"), chars,
        max_cells_per_axis, "segment_crossings",
    )
    a = cells.select(
        *[F.col(c).alias("a" + c.lstrip("_")) for c in carry], "__cx", "__cy"
    )
    b = cells.select(
        *[F.col(c).alias("b" + c.lstrip("_")) for c in carry], "__cx", "__cy"
    )
    pairs = (
        a.join(b, ["__cx", "__cy"])
        .filter(F.col("auid") < F.col("buid"))
        .filter(
            box_pair_keep(
                ("amnx", "amny", "amxx", "amxy"),
                ("bmnx", "bmny", "bmxx", "bmxy"),
                chars,
            )
        )
        .filter(
            F.expr(
                segment_cross_sql(
                    "ax1", "ay1", "ax2", "ay2", "bx1", "by1", "bx2", "by2"
                )
            )
        )
    )
    return (
        pairs.groupBy("auid", "buid")
        .agg(F.count("*").alias("crossings"))
        .select(
            F.col("auid").alias("user_a"),
            F.col("buid").alias("user_b"),
            "crossings",
        )
    )


def grid_threshold_sql(k: str, axis: str, chars: int, dialect: str) -> str:
    """Smallest fixed-point u-coordinate (lon+1.8e9 / lat+9e8) whose
    depth-`chars` geohash grid index is >= `k` — the exact integer cell
    boundary the length splitter cuts at: ceil(k*D / 2^bits), D the
    axis's u-range.  Shared text-generator so both engines cut at the
    same integer thresholds (pure BIGINT mul/add/DIV)."""
    from ..functions.geohash import _bits_for
    from ..functions.text_sql import idiv_sql

    lon_bits, lat_bits = _bits_for(chars)
    d = 3600000000 if axis == "lon" else 1800000000
    tw = 1 << (lon_bits if axis == "lon" else lat_bits)
    return idiv_sql(f"({k}) * {d} + {tw - 1}", str(tw), dialect)


def track_cell_lengths(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    max_span_fixed: int = 200_000,
    chars: int = 8,
    max_cells_per_axis: int = 64,
) -> DataFrame:
    """Exact length-weighted rasterization of tracks: per depth-`chars`
    geohash grid cell, the total great-circle chord length (integer mm)
    of all intra-trip track segments inside the cell — the vector ->
    raster density surface (movement heatmaps, road-usage rasters) as
    one projection plus one aggregate.

    Splitting is EXACT integer arithmetic: a segment's u-space cell
    boundaries are integers (grid_threshold_sql), each crossing's
    parameter is the rational (thr - u1)/du, and per-cell lengths use
    the telescoping floor cum_i = (chord_mm * num_i) DIV den — so the
    cells of one segment sum to exactly its chord_mm (no float split,
    no drift; both engines agree bit-for-bit).  Crossings from the two
    axes merge by cross-multiplied comparison keys num_x*|dv| vs
    num_y*|du| (exact rational order, int64-safe: num <= extent <= S,
    key <= S^2, and chord_mm*num < 2^63 for S <= 5e8).  Corner-exact
    hits tie-break x-before-y deterministically; zero-length spans are
    dropped.

    Segments whose per-axis extent exceeds `max_span_fixed` are trip
    boundaries (teleports) and are dropped, as in segment_crossings;
    a segment spanning more than `max_cells_per_axis` cells raises
    inside the projection (a silent clamp would silently lose length).

    Returns (cell_x, cell_y, total_mm) — cell indices are the
    de-interleaved depth-`chars` grid coordinates (geohash_xy_sql).

    Scale shape: one entity-keyed window (the segment lag), then a
    PURE PROJECTION per segment — crossings are built, sorted, and
    prefix-scanned inside array expressions (transform/array_sort/
    slice; the O(n^2) in-array prefix scan is bounded by
    (2*max_cells_per_axis)^2 elements ~ 16k ops worst-case, ~9
    typical) — and one partial-aggregating hash aggregate on the cell
    key.  No join, no per-segment shuffle, no Python in the split path
    (the chord itself is the module's Arrow pandas_udf)."""
    S = int(max_span_fixed)
    if S <= 0 or S > 500_000_000:
        raise ValueError(
            f"max_span_fixed={max_span_fixed} out of (0, 5e8] — the "
            f"int64 bound of chord_mm * num in the telescoping floor"
        )
    mca = int(max_cells_per_axis)

    from ..functions import geohash as GH
    from ..functions.text_sql import SPARK, idiv_sql

    cx1s, cy1s = GH.geohash_xy_sql("__x1", "__y1", chars, "spark")
    cx2s, cy2s = GH.geohash_xy_sql("__x2", "__y2", chars, "spark")

    seg = (
        _bounded_segments(events, lon, lat, id_col, ts_col, seq_col, S)
        .withColumn("__mm", _chord_mm_udf(
            F.col("__x1"), F.col("__y1"), F.col("__x2"), F.col("__y2")
        ))
        .withColumn("__u1", F.col("__x1") + F.lit(1800000000))
        .withColumn("__v1", F.col("__y1") + F.lit(900000000))
        .withColumn("__adu", F.abs(F.col("__x2") - F.col("__x1")))
        .withColumn("__adv", F.abs(F.col("__y2") - F.col("__y1")))
        .withColumn("__sx", F.when(F.col("__x2") >= F.col("__x1"), F.lit(1)).otherwise(F.lit(-1)).cast("long"))
        .withColumn("__sy", F.when(F.col("__y2") >= F.col("__y1"), F.lit(1)).otherwise(F.lit(-1)).cast("long"))
        .withColumn("__cx1", F.expr(cx1s))
        .withColumn("__cy1", F.expr(cy1s))
        .withColumn("__cx2", F.expr(cx2s))
        .withColumn("__cy2", F.expr(cy2s))
    )

    def _axis_arr(c1: str, c2: str, uu: str, sgn: str, den: str,
                  oth: str, axis: str, axr: int) -> str:
        thr = grid_threshold_sql("k", axis, chars, SPARK)
        num = f"({sgn} * (({thr}) - {uu}))"
        cl = idiv_sql(f"__mm * {num}", f"GREATEST({den}, 1)", SPARK)
        lo, hi = f"LEAST({c1}, {c2})", f"GREATEST({c1}, {c2})"
        return (
            f"CASE WHEN {hi} - {lo} >= {mca} THEN "
            f"CAST(raise_error('segment covers more than {mca} cells on "
            f"{axis}; lower chars or max_span_fixed') AS "
            f"ARRAY<STRUCT<key BIGINT, axr INT, cl BIGINT>>) "
            f"WHEN {hi} > {lo} THEN "
            f"transform(sequence({lo} + 1, {hi}), "
            f"k -> named_struct("
            f"'key', {num} * GREATEST({oth}, 1), "
            f"'axr', {axr}, "
            f"'cl', {cl})) "
            f"ELSE array() END"
        )

    xarr = _axis_arr("__cx1", "__cx2", "__u1", "__sx", "__adu", "__adv",
                     "lon", 1)
    yarr = _axis_arr("__cy1", "__cy2", "__v1", "__sy", "__adv", "__adu",
                     "lat", 2)

    spans = (
        "filter(transform(sequence(0, size(__arr)), i -> named_struct("
        "'cx', __cx1 + __sx * CAST(size(filter(slice(__arr, 1, i), "
        "e -> e.axr = 1)) AS BIGINT), "
        "'cy', __cy1 + __sy * CAST(size(filter(slice(__arr, 1, i), "
        "e -> e.axr = 2)) AS BIGINT), "
        "'mm', IF(i < size(__arr), element_at(__arr, i + 1).cl, __mm) - "
        "IF(i > 0, element_at(__arr, i).cl, 0L))), "
        "s -> s.mm > 0)"
    )

    out = (
        seg.withColumn("__arr", F.expr(f"array_sort(concat({xarr}, {yarr}))"))
        .select(F.explode(F.expr(spans)).alias("__s"))
        .groupBy(
            F.col("__s.cx").alias("cell_x"),
            F.col("__s.cy").alias("cell_y"),
        )
        .agg(F.sum("__s.mm").alias("total_mm"))
    )
    return out


def turn_class_sql(
    dx1: str, dy1: str, dx2: str, dy2: str
) -> str:
    """Turn classification of two consecutive direction vectors as
    dialect-neutral SQL: 'left' / 'right' by the sign of the planar
    cross product, 'straight' / 'uturn' for collinear pairs by the dot
    sign (planar = equirectangular fixed-point, the same convention as
    segment_cross_sql; exact int64 for per-axis extents <= 5e8: |cross|,
    |dot| <= 2*S^2 < 2^63).  Callers must exclude zero-length vectors —
    a zero vector has no direction (this returns 'uturn' for dot 0 with
    cross 0, which a zero vector would hit)."""
    cross = f"(({dx1}) * ({dy2}) - ({dy1}) * ({dx2}))"
    dot = f"(({dx1}) * ({dx2}) + ({dy1}) * ({dy2}))"
    return (
        f"CASE WHEN {cross} > 0 THEN 'left' "
        f"WHEN {cross} < 0 THEN 'right' "
        f"WHEN {dot} > 0 THEN 'straight' ELSE 'uturn' END"
    )


def turn_stats(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    max_span_fixed: int = 200_000,
) -> DataFrame:
    """Per-entity turn-behavior profile: counts of left / right /
    straight / u-turn direction changes over consecutive intra-trip
    segment pairs (movement-pattern features: vehicles vs pedestrians
    vs grid-snapped GPS artifacts).

    A turn is evaluated at each interior point B of three consecutive
    events A, B, C (per entity, (ts_col, seq_col) order) where BOTH
    legs are intra-trip (per-axis extent <= max_span_fixed) and BOTH
    are non-zero vectors (a stationary ping has no direction and
    contributes no turn).  Classification is exact integer sign
    arithmetic (turn_class_sql).

    Returns (id_col, n_left, n_right, n_straight, n_uturn, n_turns).

    Scale shape: one entity-keyed window (two lags), a pure projection,
    and one partial-aggregating count on the entity key — the
    track_stats shuffle shape exactly."""
    S = int(max_span_fixed)
    if S <= 0 or S > 500_000_000:
        raise ValueError(
            f"max_span_fixed={max_span_fixed} out of (0, 5e8] — the "
            f"int64 bound of the cross/dot turn classification"
        )
    w = Window.partitionBy(id_col).orderBy(ts_col, seq_col)
    lagged = (
        events.select(id_col, ts_col, seq_col, lon, lat)
        .withColumn("__bx", F.lag(lon, 1).over(w))
        .withColumn("__by", F.lag(lat, 1).over(w))
        .withColumn("__ax", F.lag(lon, 2).over(w))
        .withColumn("__ay", F.lag(lat, 2).over(w))
        .filter(F.col("__ax").isNotNull())
        .select(
            F.col(id_col),
            (F.col("__bx") - F.col("__ax")).cast("long").alias("__dx1"),
            (F.col("__by") - F.col("__ay")).cast("long").alias("__dy1"),
            (F.col(lon) - F.col("__bx")).cast("long").alias("__dx2"),
            (F.col(lat) - F.col("__by")).cast("long").alias("__dy2"),
        )
        .filter(
            (F.abs("__dx1") <= S) & (F.abs("__dy1") <= S)
            & (F.abs("__dx2") <= S) & (F.abs("__dy2") <= S)
            & ((F.col("__dx1") != 0) | (F.col("__dy1") != 0))
            & ((F.col("__dx2") != 0) | (F.col("__dy2") != 0))
        )
        .withColumn(
            "__turn",
            F.expr(turn_class_sql("__dx1", "__dy1", "__dx2", "__dy2")),
        )
    )
    return lagged.groupBy(id_col).agg(
        F.sum(F.when(F.col("__turn") == "left", 1).otherwise(0)).alias("n_left"),
        F.sum(F.when(F.col("__turn") == "right", 1).otherwise(0)).alias("n_right"),
        F.sum(F.when(F.col("__turn") == "straight", 1).otherwise(0)).alias(
            "n_straight"
        ),
        F.sum(F.when(F.col("__turn") == "uturn", 1).otherwise(0)).alias("n_uturn"),
        F.count("*").alias("n_turns"),
    )


def od_matrix(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    max_gap_us: int = 6 * 3600 * 1_000_000,
    chars: int = 6,
    by_hour: bool = False,
) -> DataFrame:
    """Origin-destination flow matrix: split each entity's stream into
    trips (a silence longer than `max_gap_us` starts a new trip — the
    split_trips rule), map each trip's first and last positions to
    depth-`chars` grid cells, and count trips per (origin, destination)
    cell pair — the aggregate movement-demand surface (transport
    planning's OD matrix) over the same grid as track_cell_lengths.

    Single-point trips count too (origin == destination cell): a trip
    is demand evidence regardless of recorded movement.

    Returns (o_x, o_y, d_x, d_y, n_trips); with `by_hour` also
    `dep_hour` (the trip's departure hour-of-day, UTC) — the
    time-of-day demand surface transport planning slices on.

    Scale shape: one entity-keyed window computes the trip counter
    (running sum of gap flags) and the per-(entity, trip) first/last
    rank in the same pass; endpoints filter BEFORE the final aggregate,
    so the OD count groups on cell pairs only — two window passes over
    the entity shuffle and one partial-aggregating count, no joins."""
    from ..functions import geohash as GH

    if int(max_gap_us) <= 0:
        raise ValueError(f"max_gap_us={max_gap_us} must be positive")
    xs, ys = GH.geohash_xy_sql(lon, lat, chars, "spark")
    w = Window.partitionBy(id_col).orderBy(ts_col, seq_col)
    tripped = (
        events.select(id_col, ts_col, seq_col, lon, lat)
        .withColumn("__tus", PARSE.epoch_micros(events, ts_col))
        .withColumn("__ptus", F.lag("__tus").over(w))
        .withColumn(
            "__trip",
            F.sum(
                F.when(
                    F.col("__ptus").isNull()
                    | (F.col("__tus") - F.col("__ptus") > int(max_gap_us)),
                    1,
                ).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, 0))
            - F.lit(1),
        )
    )
    tw = Window.partitionBy(id_col, "__trip").orderBy(ts_col, seq_col)
    ends = (
        tripped.withColumn("__rn", F.row_number().over(tw))
        .withColumn(
            "__rnd",
            F.row_number().over(
                Window.partitionBy(id_col, "__trip").orderBy(
                    F.col(ts_col).desc(), F.col(seq_col).desc()
                )
            ),
        )
        .filter((F.col("__rn") == 1) | (F.col("__rnd") == 1))
        .withColumn("__cx", F.expr(xs))
        .withColumn("__cy", F.expr(ys))
    )
    aggs = [
        F.min(F.when(F.col("__rn") == 1, F.col("__cx"))).alias("o_x"),
        F.min(F.when(F.col("__rn") == 1, F.col("__cy"))).alias("o_y"),
        F.min(F.when(F.col("__rnd") == 1, F.col("__cx"))).alias("d_x"),
        F.min(F.when(F.col("__rnd") == 1, F.col("__cy"))).alias("d_y"),
    ]
    keys = ["o_x", "o_y", "d_x", "d_y"]
    if by_hour:
        aggs.append(
            F.min(
                F.when(
                    F.col("__rn") == 1,
                    F.expr("(__tus DIV 3600000000) % 24"),
                )
            ).alias("dep_hour")
        )
        keys.append("dep_hour")
    od = ends.groupBy(id_col, "__trip").agg(*aggs)
    return od.groupBy(*keys).agg(F.count("*").alias("n_trips"))


def simplify_track_grid(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    chars: int = 7,
) -> DataFrame:
    """Grid-quantized polyline simplification — the rendering-time point
    thinning of a tile pipeline: per entity, consecutive points that
    quantize to the same depth-`chars` geohash grid cell collapse to
    the run's FIRST point (deterministic; no floats, no tolerance
    parameter to drift between engines).

    Returns the kept points with the input columns (plus the __cx/__cy
    cell of each kept point) — feed to track_segments for the
    simplified length, or write as the zoom-level geometry.

    Scale shape: one entity-keyed window (the ordering exchange) and a
    pure integer lag-compare filter; output is a subset projection of
    the input."""
    from ..functions import geohash as GH
    from ..functions.text_sql import SPARK

    xs, ys = GH.geohash_xy_sql(lon, lat, chars, SPARK)
    w = Window.partitionBy(id_col).orderBy(ts_col, seq_col)
    pts = events.select(
        id_col, ts_col, seq_col, lon, lat,
        F.expr(xs).alias("__cx"),
        F.expr(ys).alias("__cy"),
    )
    pts = pts.withColumn("__pcx", F.lag("__cx").over(w)).withColumn(
        "__pcy", F.lag("__cy").over(w)
    )
    return pts.filter(
        F.col("__pcx").isNull()
        | (F.col("__pcx") != F.col("__cx"))
        | (F.col("__pcy") != F.col("__cy"))
    ).drop("__pcx", "__pcy")


def co_visits(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    chars: int = 7,
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Spatiotemporal co-location pairs — the contact graph: two
    entities co-visit when they occupy the SAME depth-`chars` grid cell
    in the SAME time bucket.  Counts distinct co-visited (cell, bucket)
    slots per entity pair (multiple pings inside one slot count once —
    the distinct is what keeps a parked pair from dominating).

    Returns (user_a, user_b, n_covisits) with user_a < user_b.

    Scale shape: a distinct on (entity, cell, bucket) — visit-sized,
    far smaller than pings — then a cell+bucket equi-join (AQE skew
    handling covers hot venues; a stadium cell still joins only within
    its own bucket) and a partial-aggregating pair count.  Everything
    integer SQL; no windows, no Python."""
    from ..functions import geohash as GH
    from ..functions.parse import epoch_micros
    from ..functions.text_sql import SPARK, idiv_sql

    xs, ys = GH.geohash_xy_sql(lon, lat, chars, SPARK)
    vis = events.select(
        F.col(id_col).alias("__uid"),
        F.expr(xs).alias("__cx"),
        F.expr(ys).alias("__cy"),
        epoch_micros(events, ts_col).alias("__tus"),
    ).select(
        "__uid",
        "__cx",
        "__cy",
        F.expr(idiv_sql("__tus", str(int(bucket_us)), SPARK)).alias("__tb"),
    ).distinct()
    a = vis.select(
        F.col("__uid").alias("__ua"), "__cx", "__cy", "__tb"
    )
    b = vis.select(
        F.col("__uid").alias("__ub"), "__cx", "__cy", "__tb"
    )
    return (
        a.join(b, ["__cx", "__cy", "__tb"])
        .filter(F.col("__ua") < F.col("__ub"))
        .groupBy(
            F.col("__ua").alias("user_a"), F.col("__ub").alias("user_b")
        )
        .agg(F.count("*").alias("n_covisits"))
    )


def speeding_segments(
    events: DataFrame,
    vmax_mmps: int,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    max_span_fixed: int = 200_000,
) -> DataFrame:
    """Per-entity speed-violation counts — the GPS-plausibility /
    anomaly filter (drop or flag entities whose track implies
    impossible speeds).  A consecutive pair is speeding when

        chord_mm * 1_000_000 > vmax_mmps * dt_us

    — a division-free integer compare that handles dt = 0 naturally
    (any movement in zero time is a violation).  Segments whose
    per-axis extent exceeds `max_span_fixed` are teleports (trip
    boundaries), excluded like every trajectory operator here.

    Returns (id_col, n_segs, n_speeding, max_chord_mm).

    Scale shape: one entity-keyed window, chord via the vectorized
    numpy UDF, then a partial-aggregating per-entity rollup."""
    from ..functions.parse import epoch_micros

    S = int(max_span_fixed)
    pts = events.select(
        id_col, seq_col, lon, lat, epoch_micros(events, ts_col).alias("__tus")
    )
    # __tus preserves ts order (epoch micros is monotone), seq breaks ties
    w = Window.partitionBy(id_col).orderBy("__tus", seq_col)
    lagged = (
        pts.withColumn("__plon", F.lag(lon).over(w))
        .withColumn("__plat", F.lag(lat).over(w))
        .withColumn("__ptus", F.lag("__tus").over(w))
        .filter(F.col("__plon").isNotNull())
        .filter(
            (F.abs(F.col(lon) - F.col("__plon")) <= S)
            & (F.abs(F.col(lat) - F.col("__plat")) <= S)
        )
    )
    segs = lagged.select(
        id_col,
        _chord_mm_udf(
            F.col("__plon"), F.col("__plat"), F.col(lon), F.col(lat)
        ).alias("__mm"),
        (F.col("__tus") - F.col("__ptus")).alias("__dus"),
    )
    return segs.groupBy(id_col).agg(
        F.count("*").alias("n_segs"),
        F.sum(
            F.expr(f"CASE WHEN __mm * 1000000 > {int(vmax_mmps)} * __dus "
                   f"THEN 1 ELSE 0 END")
        ).alias("n_speeding"),
        F.max("__mm").alias("max_chord_mm"),
    )


def flow_matrix(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    chars: int = 6,
    max_span_fixed: int = 200_000,
) -> DataFrame:
    """Cell-to-cell movement flows — the aggregate flow field (how many
    entity steps go from cell A to cell B): per entity, each
    consecutive intra-trip step whose endpoints land in DIFFERENT
    depth-`chars` cells contributes one count to its directed cell
    pair.  Teleports (extent > max_span_fixed) are excluded; same-cell
    steps are not flows.

    Returns (from_x, from_y, to_x, to_y, n_steps, n_entities).

    Scale shape: one entity-keyed window, then a partial-aggregating
    count on the cell-pair key."""
    from ..functions import geohash as GH
    from ..functions.text_sql import SPARK

    S = int(max_span_fixed)
    xs, ys = GH.geohash_xy_sql(lon, lat, chars, SPARK)
    w = Window.partitionBy(id_col).orderBy(ts_col, seq_col)
    pts = events.select(
        id_col, ts_col, seq_col, lon, lat,
        F.expr(xs).alias("__cx"),
        F.expr(ys).alias("__cy"),
    )
    lagged = (
        pts.withColumn("__px", F.lag(lon).over(w))
        .withColumn("__py", F.lag(lat).over(w))
        .withColumn("__fcx", F.lag("__cx").over(w))
        .withColumn("__fcy", F.lag("__cy").over(w))
        .filter(F.col("__px").isNotNull())
        .filter(
            (F.abs(F.col(lon) - F.col("__px")) <= S)
            & (F.abs(F.col(lat) - F.col("__py")) <= S)
        )
        .filter(
            (F.col("__fcx") != F.col("__cx"))
            | (F.col("__fcy") != F.col("__cy"))
        )
    )
    return lagged.groupBy(
        F.col("__fcx").alias("from_x"),
        F.col("__fcy").alias("from_y"),
        F.col("__cx").alias("to_x"),
        F.col("__cy").alias("to_y"),
    ).agg(
        F.count("*").alias("n_steps"),
        F.countDistinct(id_col).alias("n_entities"),
    )


def visit_profile(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    ts_col: str = "ts",
    chars: int = 6,
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Returner/explorer mobility profile: per entity, distinct
    (cell, time-bucket) visits, distinct cells, and the most-visited
    cell's share of all visits in ppm — the classic returner (high
    share, few cells) vs explorer (low share, many cells) split of the
    mobility literature, in exact integers.

    Returns (id_col, n_visits, n_cells, top_visits, top_share_ppm).

    Scale shape: a visit-sized distinct, a per-(entity, cell) count,
    then an entity rollup — three partial-aggregating shuffles on
    successively coarser keys, no windows."""
    from ..functions import geohash as GH
    from ..functions.parse import epoch_micros
    from ..functions.text_sql import SPARK, idiv_sql

    xs, ys = GH.geohash_xy_sql(lon, lat, chars, SPARK)
    vis = (
        events.select(
            F.col(id_col).alias("__uid"),
            F.expr(xs).alias("__cx"),
            F.expr(ys).alias("__cy"),
            epoch_micros(events, ts_col).alias("__tus"),
        )
        .select(
            "__uid",
            "__cx",
            "__cy",
            F.expr(
                idiv_sql("__tus", str(int(bucket_us)), SPARK)
            ).alias("__tb"),
        )
        .distinct()
    )
    per_cell = vis.groupBy("__uid", "__cx", "__cy").agg(
        F.count("*").alias("__cnt")
    )
    prof = per_cell.groupBy(F.col("__uid").alias(id_col)).agg(
        F.sum("__cnt").alias("n_visits"),
        F.count("*").alias("n_cells"),
        F.max("__cnt").alias("top_visits"),
    )
    share = idiv_sql("top_visits * 1000000", "n_visits", SPARK)
    return prof.withColumn(
        "top_share_ppm", F.expr(f"CAST({share} AS BIGINT)")
    )


def radius_of_gyration(
    events: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "user_id",
    max_extent_fixed: int = 10_000_000,
) -> DataFrame:
    """Radius of gyration — THE classic mobility-range metric: the RMS
    distance of an entity's points from their centroid, here as exact
    integers in the planar fixed-point frame:

        centroid = (SUM(x) DIV n, SUM(y) DIV n)     (floored)
        rog2 = SUM((x - cx)^2 + (y - cy)^2) DIV n

    (rog2 is the squared radius in units^2; take sqrt downstream if a
    float is acceptable).  Computed in two passes — centroids, then a
    join-back for squared deviations — because summing raw x^2 at
    planet coordinates overflows int64; deviations are bounded by
    `max_extent_fixed` (checked in-projection, raise not clamp) and
    the caller-declared budget n * E^2 < 2^63 is validated against
    per-entity counts at runtime via the same guard.

    Returns (id_col, n_points, cx, cy, rog2).

    Scale shape: one partial-agg pass for centroids, a broadcast-or-
    shuffle join of the entity centroids back to the points (the
    standard two-pass variance shape; the events subtree is scanned
    twice — parquet re-scan at cluster scale), one partial-agg pass
    for the deviation sums."""
    from ..functions.text_sql import SPARK, idiv_sql

    E = int(max_extent_fixed)
    cent = events.groupBy(F.col(id_col).alias("__uid")).agg(
        F.count("*").alias("__n"),
        F.sum(F.col(lon).cast("long")).alias("__sx"),
        F.sum(F.col(lat).cast("long")).alias("__sy"),
    )
    # non-negative DIV: shift into u-space before flooring
    cx = (
        f"CAST((__sx + __n * 1800000000) {{d}} __n AS BIGINT) - 1800000000"
    )
    cy = f"CAST((__sy + __n * 900000000) {{d}} __n AS BIGINT) - 900000000"
    cent = cent.select(
        "__uid",
        "__n",
        F.expr(cx.format(d="DIV")).alias("__cx"),
        F.expr(cy.format(d="DIV")).alias("__cy"),
    )
    joined = events.select(
        F.col(id_col).alias("__uid"),
        F.col(lon).cast("long").alias("__x"),
        F.col(lat).cast("long").alias("__y"),
    ).join(cent, "__uid")
    dev = (
        f"CASE WHEN ABS(__x - __cx) <= {E} AND ABS(__y - __cy) <= {E} "
        f"THEN (__x - __cx) * (__x - __cx) + (__y - __cy) * (__y - __cy) "
        f"ELSE CAST(raise_error('radius_of_gyration: deviation exceeds "
        f"max_extent_fixed={E}') AS BIGINT) END"
    )
    agg = joined.withColumn("__d2", F.expr(dev)).groupBy("__uid").agg(
        F.max("__n").alias("n_points"),
        F.max("__cx").alias("cx"),
        F.max("__cy").alias("cy"),
        F.sum("__d2").alias("__sd2"),
    )
    rog2 = idiv_sql("__sd2", "n_points", SPARK)
    return agg.select(
        F.col("__uid").alias(id_col),
        "n_points",
        "cx",
        "cy",
        F.expr(f"CAST({rog2} AS BIGINT)").alias("rog2"),
    )
