"""Fixture codecs + flagship tiling pipeline end-to-end."""

import numpy as np

import oracle_qt as O
from osmquadtree_rust_spark.functions import qt_numpy as Q
from osmquadtree_rust_spark.plans import pipeline as P
from osmquadtree_rust_spark.sources import fixtures as FX


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def test_png_roundtrip_exact():
    px = FX.synth_pixels(7, 32, 24)
    assert (FX.png_decode(FX.png_encode(px)) == px).all()


def test_images_rows_decode_psnr_and_captions():
    rows = FX.images_rows(16)
    for i, r in enumerate(rows):
        px = FX.decode_image(bytes(r["bytes"]), r["fmt"])
        exp = FX.synth_pixels(i, r["w"], r["h"])
        assert psnr(px, exp) >= 40.0
        assert r["caption"] == f"caption {i} {FX.NOUNS[i % len(FX.NOUNS)]}"
    # phash is splitmix64(i)
    ph = FX.splitmix64(np.arange(16, dtype=np.uint64)).astype(np.int64)
    assert [r["phash"] for r in rows] == ph.tolist()


def test_phash_footprint_deterministic():
    ph = FX.splitmix64(np.arange(100, dtype=np.uint64)).astype(np.int64)
    w = np.full(100, 64)
    h = np.full(100, 48)
    a, b, c, d = FX.phash_footprint(ph, w, h)
    assert (a >= -1800000000).all() and (c <= 1800000000).all()
    assert (b >= -900000000).all() and (d <= 900000000).all()
    assert (a < c).all() and (b < d).all()


def test_tile_synthetic_images_end_to_end(spark):
    n = 20000
    assigned, groups = P.tile_synthetic_images(spark, n, target=2000)
    rows = assigned.groupBy("tile").count().collect()
    total = sum(r["count"] for r in rows)
    assert total == n
    tiles = sorted(r.tile for r in rows)
    assert set(tiles) <= set(groups.tolist()) | {0}
    # skew region (10% of rows) should force at least one hot tile
    counts = sorted((r["count"] for r in rows), reverse=True)
    assert counts[0] >= n // 10 * 0.5
    # every row's tile is an ancestor-or-self of its cell (or root)
    sample = assigned.select("qt", "tile").limit(2000).collect()
    for r in sample:
        assert r.tile == 0 or O.is_parent(int(r.tile), int(r.qt))


def test_tile_synthetic_images_persist_flag_is_cache_only(spark):
    """persist=True and persist=False run the same assign_tiles path: the
    flag only decides whether the encoded cells are cached, so rows and
    groups are identical."""
    n = 20000
    got = {}
    for persist in (True, False):
        assigned, groups = P.tile_synthetic_images(
            spark, n, target=2000, persist=persist
        )
        rows = assigned.select("id", "qt", "tile").collect()
        got[persist] = (sorted(tuple(r) for r in rows), groups.tolist())
    spark.catalog.clearCache()
    assert len(got[True][0]) == n
    assert len(set(t for _, _, t in got[True][0])) > 1
    assert got[True] == got[False]


def test_tile_assignment_gate_leaves_no_cache(spark):
    """The gate's frame is built without caching the encoded cells: a
    persisted input of assign_tiles is unreachable from the returned frame,
    so nothing could release it."""
    from osmquadtree_rust_spark import gate as G

    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    G.GATE["tile_assignment"]["spark"](spark, "unused")
    assert persistent().size() == before


def test_write_tiles_salted(spark, tmp_path):
    n = 5000
    assigned, groups = P.tile_synthetic_images(spark, n, target=1000)
    weights = {r.tile: r["count"] for r in assigned.groupBy("tile").count().collect()}
    out = str(tmp_path / "tiles")
    P.write_tiles(
        assigned.select("id", "qt", "tile"),
        out,
        sort_cols=("id",),
        salt_threshold=800,
        tile_weights=weights,
        salt_rows=400,
    )
    back = spark.read.parquet(out)
    assert back.count() == n
    got = {r.tile: r["count"] for r in back.groupBy("tile").count().collect()}
    assert got == {int(k): v for k, v in weights.items()}


def test_salted_write_splits_hot_tile_files(spark, tmp_path):
    """Dense-tile skew: the salted repartition must spread a hot tile
    across multiple output files (tasks), cold tiles stay single-file."""
    import glob

    n = 20000
    assigned, groups = P.tile_synthetic_images(spark, n, target=2000)
    weights = {r.tile: r["count"] for r in assigned.groupBy("tile").count().collect()}
    hot = max(weights, key=weights.get)
    out = str(tmp_path / "salted")
    P.write_tiles(
        assigned.select("id", "qt", "tile"),
        out,
        sort_cols=("id",),
        salt_threshold=weights[hot] - 1,  # only the hottest tile salts
        tile_weights=weights,
        salt_rows=max(weights[hot] // 4, 1),
    )
    hot_files = glob.glob(f"{out}/tile={hot}/*.parquet")
    assert len(hot_files) >= 2, f"hot tile not split: {len(hot_files)} files"
    back = spark.read.parquet(out)
    assert back.count() == n
