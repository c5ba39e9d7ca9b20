"""Deterministic synthetic geo/image-footprint derivations.

The correctness gate runs our Spark queries against DuckDB oracles on the
same inputs, so every derived column here is defined as a *dialect-neutral
SQL expression* over int64 arithmetic that never overflows — evaluated by
Spark SQL (JVM codegen) and DuckDB with bit-identical results.

The `images` input shape follows BASELINE.json's input_hint
(image_id, bytes, w, h, fmt, caption, phash); the footprint rule is the
geohash-style one from FIXTURES.md: a hash seeds a (lon, lat) centre in
fixed-point 1e-7 degrees, the pixel dimensions scale to a bbox extent, and
10% of rows are squeezed into one small region to exercise dense-tile skew
handling (salted repartition).
"""

from __future__ import annotations

FOOTPRINT_SCALE = 100  # half-extent units (1e-7 deg) per pixel

# Skew region: ~1 degree square, holds 10% of all rows.
SKEW_LON0 = 600000000
SKEW_LAT0 = 400000000
SKEW_SPAN = 10000000

# Clustered distribution: 90% of rows scatter around N_HOTSPOTS "city"
# centres with +-0.005 deg jitter (geo-tagged images cluster heavily in
# reality).  This bounds the level-17 cell histogram to ~tens of cells per
# hotspot regardless of row count — the property that keeps the
# metadata-scale grouping step O(hotspots), not O(rows), at 10^12 images.
N_HOTSPOTS = 4096
JITTER = 100000  # 0.01 deg total span

# Multipliers chosen so id * mult stays < 2^63 for id < 3.4e9 (no wrap in
# either engine); the modulus spreads centres over the full planet.
_MULT_LON = 2654435761
_MULT_LAT = 2246822519


def synth_geo_exprs(id_col: str = "id") -> dict[str, str]:
    """Column-name -> SQL expression, valid in Spark SQL and DuckDB.

    Produces the deterministic footprint columns for a synthetic image row
    with surrogate id `id_col`: centre (lon,lat), pixel dims (w,h), and the
    clipped footprint bbox in fixed-point int (minlon,minlat,maxlon,maxlat).
    """
    i = f"CAST({id_col} AS BIGINT)"
    hs = f"({i} % {N_HOTSPOTS})"
    lon_c = f"((({hs} * {_MULT_LON}) % 3560000000) - 1770000000)"
    lat_c = f"((({hs} * {_MULT_LAT}) % 1760000000) - 870000000)"
    lon = (
        f"(CASE WHEN {i} % 10 = 0 "
        f"THEN {SKEW_LON0} + (({i} * 97) % {SKEW_SPAN}) "
        f"ELSE {lon_c} + (({i} * 40503) % {JITTER}) - {JITTER // 2} END)"
    )
    lat = (
        f"(CASE WHEN {i} % 10 = 0 "
        f"THEN {SKEW_LAT0} + (({i} * 89) % {SKEW_SPAN}) "
        f"ELSE {lat_c} + (({i} * 69069) % {JITTER}) - {JITTER // 2} END)"
    )
    w = f"(CASE {i} % 4 WHEN 0 THEN 16 WHEN 1 THEN 32 WHEN 2 THEN 64 ELSE 128 END)"
    h = f"(CASE {i} % 4 WHEN 0 THEN 16 WHEN 1 THEN 24 WHEN 2 THEN 48 ELSE 96 END)"
    # Footprint size mix (like real corpora: photos vs aerial strips vs
    # whole-scene mosaics).  Large footprints produce *shallow* cells —
    # the weighted interior nodes the reference's greedy grouper anchors
    # on (exactly the role ways/relations play in OSM); without them a
    # leaf-only histogram degenerates find_tree_groups into an
    # O(total_weight/50) relaxation crawl.
    mult = (
        f"(CASE WHEN {i} % 211 = 0 THEN 8000 "
        f"WHEN {i} % 37 = 0 THEN 500 "
        f"WHEN {i} % 7 = 0 THEN 20 ELSE 1 END)"
    )
    return {
        "lon": lon,
        "lat": lat,
        "w": w,
        "h": h,
        "minlon": f"GREATEST(({lon}) - {FOOTPRINT_SCALE} * {w} * {mult}, -1800000000)",
        "minlat": f"GREATEST(({lat}) - {FOOTPRINT_SCALE} * {h} * {mult}, -900000000)",
        "maxlon": f"LEAST(({lon}) + {FOOTPRINT_SCALE} * {w} * {mult}, 1800000000)",
        "maxlat": f"LEAST(({lat}) + {FOOTPRINT_SCALE} * {h} * {mult}, 900000000)",
    }
