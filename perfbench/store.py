"""The tiled store the `serve` workload reads and changes: the calcqts +
sortblocks build through the program's public calls, its per-layer
figures, and an independent DuckDB reader of the committed parquet files
for the output checks.

Store rows are (id, qt, lon, lat, changetype) partitioned by tile.  The
footprint of a row is the synthetic one of its geometry key `gk`
(`sources.synth`); a freshly built store has gk = id.
"""

from __future__ import annotations

import duckdb
import numpy as np

from .harness import p50, tree_bytes

# the seed picks where in the id space a run's inputs start; ids stay far
# below the 3.4e9 bound under which the synthetic footprint math is exact
ID_STRIDE = 2_000_000


def id_offset(seed: int) -> int:
    return (seed % 1000) * ID_STRIDE


def footprints(df, gk: str = "gk"):
    """(…, gk) -> (…, lon, lat, minlon, minlat, maxlon, maxlat)."""
    from pyspark.sql import functions as F

    from osmquadtree_rust_spark.sources.synth import synth_geo_exprs

    e = synth_geo_exprs(gk)
    return df.select(
        "*", *[F.expr(e[c]).alias(c) for c in ("lon", "lat", "minlon", "minlat", "maxlon", "maxlat")]
    )


def encode(df):
    """qt encode of the footprint columns (functions.qt_spark)."""
    from osmquadtree_rust_spark.functions import qt_spark as qs

    return qs.with_bbox_qt(df, "minlon", "minlat", "maxlon", "maxlat", "qt")


def build(spark, tr, base: str, lo: int, n: int, target: int, ts: int = 1) -> np.ndarray:
    """Build a store of images [lo, lo + n) into `base` as snapshot s0 and
    return the tile (group) cells.  Each program call runs in its own span."""
    from pyspark.sql import functions as F

    from osmquadtree_rust_spark.plans import checkpoint as C
    from osmquadtree_rust_spark.plans import pipeline as P

    rows = footprints(spark.range(lo, lo + n).withColumnRenamed("id", "gk")).withColumn(
        "id", F.col("gk")
    )
    enc = encode(rows).select(
        "id", "qt", "lon", "lat", F.lit(0).alias("changetype")
    ).persist()
    try:
        with tr.span("pipeline.hist", jobs=True) as sp:
            hist = P.cell_histogram(enc, "qt").toPandas()
        sp.info["cells"] = hist
        with tr.span("tiles.groups") as sp:
            groups = P.compute_groups(
                hist["cell"].to_numpy(np.int64), hist["weight"].to_numpy(np.int64), target
            )
        sp.info["groups"] = groups
        route = P.make_route_udf(spark, groups)
        out = enc.withColumn("tile", route(F.col("qt")))
        with tr.span("checkpoint.write", jobs=True):
            C.write_tiles_checkpointed(out, base, "s0")
        with tr.span("checkpoint.filelist"):
            C.append_filelist(base, "s0", ts, "base")
    finally:
        enc.unpersist()
    return groups


def check_build(run, con, base: str, groups, lo: int, n: int) -> None:
    """Committed rows = n, ids are exactly [lo, lo + n), every tile is a
    group cell."""
    got, ids, bad = con.execute(
        f"SELECT count(*), sum(id), count(*) FILTER (WHERE tile NOT IN "
        f"(SELECT unnest(?::BIGINT[]))) FROM read_parquet('{snapshot_glob(base, 's0')}', "
        f"hive_partitioning = true)",
        [[int(g) for g in groups]],
    ).fetchone()
    run.check(got == n, f"build committed {got} rows, expected {n}")
    run.check(ids == (2 * lo + n - 1) * n // 2, "build id checksum")
    run.check(bad == 0, f"{bad} rows in tiles that are not group cells")


def build_layers(spark, tr, base: str, lo: int, n: int, target: int) -> dict:
    """Per-layer figures of one traced build of images [lo, lo + n) into
    `base`: histogram, grouping and an isolated encode job."""
    from osmquadtree_rust_spark.operators import tiles as T

    groups = build(spark, tr, base, lo, n, target)
    hist = tr.of("pipeline.hist")[-1]
    cells = hist.info["cells"]
    tiles = T.route_cells(cells["cell"].to_numpy(np.int64), groups)
    _, inv = np.unique(tiles, return_inverse=True)
    weights = np.bincount(inv, weights=cells["weight"].to_numpy(np.float64))
    # the encode is a lazy projection fused into the histogram job, so it
    # gets its own job here: encode only, into a noop sink
    job = encode(footprints(spark.range(lo, lo + n).withColumnRenamed("id", "gk"))).select("qt")
    secs = []
    for _ in range(3):
        with tr.span("encode", jobs=True) as sp:
            job.write.format("noop").mode("overwrite").save()
        secs.append(sp.dur)
    return {
        "pipeline.hist_cells": len(cells),
        "pipeline.hist_collect_ms": 1000 * hist.dur,
        "tiles.groups_ms": 1000 * tr.of("tiles.groups")[-1].dur,
        "tiles.n_groups": len(groups),
        "tiles.max_weight_ratio": float(weights.max() / target),
        "encode.s": p50(secs),
        "encode.rows_per_s": n / p50(secs),
    }


def snapshot_glob(base: str, snapshot: str) -> str:
    return f"{base}/snapshot={snapshot}/batch=*/tile=*/*.parquet"


def live_snapshots(base: str) -> list[str]:
    """Snapshot ids of the filelist, oldest first."""
    from osmquadtree_rust_spark.plans.checkpoint import read_filelist

    entries = sorted(read_filelist(base), key=lambda e: e["timestamp"])
    return [e["snapshot"] for e in entries]


def store_bytes(base: str) -> int:
    """Parquet bytes of the snapshots the filelist references."""
    return sum(tree_bytes(f"{base}/snapshot={snap}")[1] for snap in live_snapshots(base))


def fold(con: duckdb.DuckDBPyConnection, base: str, name: str = "world") -> int:
    """Independent latest-wins fold of the store into DuckDB table `name`:
    per (tile, id) the row of the newest snapshot survives, Delete (1) and
    Remove (2) rows drop out.  Returns the live row count."""
    parts = []
    for i, snap in enumerate(live_snapshots(base)):
        g = snapshot_glob(base, snap)
        parts.append(
            f"SELECT CAST(tile AS BIGINT) AS tile, id, qt, lon, lat, changetype, {i} AS k "
            f"FROM read_parquet('{g}', hive_partitioning = true)"
        )
    con.execute(
        f"""CREATE OR REPLACE TABLE {name} AS
        SELECT tile, id, qt, lon, lat FROM (
          SELECT *, row_number() OVER (PARTITION BY tile, id ORDER BY k DESC) AS rn
          FROM ({' UNION ALL '.join(parts)})
        ) WHERE rn = 1 AND changetype NOT IN (1, 2)"""
    )
    return con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
