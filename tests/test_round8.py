"""Round-8 optimization pins.

The r8 round changed operator INTERNALS only (candidate grids, stage
materialization, kernel vectorization); outputs are pinned unchanged by
the existing gates and seeded nets.  These tests pin the new internals:
the plan shapes the optimizations claim, the auto-grid invariants, and
the chunked Hausdorff kernel's boundary behavior.
"""

import random

import numpy as np
import pandas as pd
import pytest


# ---------------------------------------------------------------------------
# track_hausdorff candidates: cell EQUI-join, never a nested loop (the r7
# verdict's top item — the old inequality-only bbox join planned a
# CartesianProduct over ALL entity pairs)
# ---------------------------------------------------------------------------


def test_track_hausdorff_plan_is_cell_equijoin(spark):
    from osmquadtree_rust_spark.operators.trajectory import (
        _track_hausdorff_plan,
    )

    rows = [
        (u, e, (u * 37 + e * 101) % 2000000, (u * 53 + e * 71) % 1000000)
        for u in range(6)
        for e in range(5)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, lon long, lat long"
    )
    ranked, tracks = _track_hausdorff_plan(
        df, "lon", "lat", "user_id", "event_id", 1
    )
    try:
        txt = ranked._sc._jvm.PythonSQLUtils.explainString(
            ranked._jdf.queryExecution(), "formatted"
        )
        assert "CartesianProduct" not in txt
        assert "BroadcastNestedLoopJoin" not in txt
        # the candidate join keys are the covering-cell coordinates
        assert "__cx" in txt and "__cy" in txt
    finally:
        tracks.unpersist()


# ---------------------------------------------------------------------------
# auto_radius_grid: window-area-optimal (chars, ring) — recall invariant,
# wrap safety, and never a larger window than the legacy ring=1 derivation
# ---------------------------------------------------------------------------


def test_auto_radius_grid_invariants():
    from osmquadtree_rust_spark.functions.geohash import _bits_for
    from osmquadtree_rust_spark.operators.spatial_join import (
        auto_radius_chars,
        auto_radius_grid,
        _cell_span,
    )

    rng = random.Random(8)
    ds = [100, 5000, 40000, 77976, 200000, 439453, 5_000_000, 500_000_000]
    ds += [rng.randrange(1, 10**9) for _ in range(40)]
    for d in ds:
        chars, ring = auto_radius_grid(d)
        lon_bits, lat_bits = _bits_for(chars)
        span_lon = 3600000000 >> lon_bits
        span_lat = 1800000000 >> lat_bits
        # recall: ring cells cover d on BOTH axes
        assert ring * min(span_lon, span_lat) >= d, (d, chars, ring)
        # wrap safety: the modular x block cannot alias
        assert 2 * ring + 1 <= (1 << lon_bits), (d, chars, ring)
        # block bounded
        assert (2 * ring + 1) ** 2 <= 256, (d, chars, ring)
        # never worse than the legacy finest-ring-1 window (when that
        # derivation exists at all — ring=1 cannot cover d > 450M)
        try:
            c1 = auto_radius_chars(d)
        except ValueError:
            c1 = None
        if c1 is not None:
            b1, t1 = _bits_for(c1)
            old_area = (3 * (3600000000 >> b1)) * (3 * (1800000000 >> t1))
            new_area = ((2 * ring + 1) * span_lon) * (
                (2 * ring + 1) * span_lat
            )
            assert new_area <= old_area, (d, chars, ring, c1)

    with pytest.raises(ValueError, match="must be positive"):
        auto_radius_grid(0)


def test_radius_join_auto_grid_matches_brute(spark):
    # d chosen so the auto grid picks ring > 1 (chars=7, ring=6 at this
    # d) — the brute-force equality pins the multi-ring candidate path
    from osmquadtree_rust_spark.operators.spatial_join import (
        auto_radius_grid,
        geohash_radius_join,
    )

    d = 77976
    chars, ring = auto_radius_grid(d)
    assert ring > 1
    pts = [
        (i, (i * 6151) % 1000000, 450000000 + (i * 7717) % 1000000)
        for i in range(120)
    ]
    df = spark.createDataFrame(pts, "id long, lon long, lat long")
    got = {
        (r["a"], r["b"], r["dist_sq"])
        for r in geohash_radius_join(df, d).collect()
    }
    brute = set()
    for i, xi, yi in pts:
        for j, xj, yj in pts:
            if i < j:
                dl = abs(xi - xj)
                wl = min(dl, 3600000000 - dl)
                ds = wl * wl + (yi - yj) ** 2
                if ds <= d * d:
                    brute.add((i, j, ds))
    assert got == brute and brute


# ---------------------------------------------------------------------------
# chunked Hausdorff kernel: chunk-boundary and oversized-row behavior
# ---------------------------------------------------------------------------


def test_hausdorff_kernel_chunk_boundaries():
    from osmquadtree_rust_spark.functions import geodesic as GEO
    from osmquadtree_rust_spark.operators.trajectory import (
        CHORD_MM_LIT,
        _hausdorff_mm_udf,
    )

    f = _hausdorff_mm_udf.func

    def chord(a, b):
        hav = GEO.hav_np(
            np.array([a[0]], np.int64), np.array([a[1]], np.int64),
            np.array([b[0]], np.int64), np.array([b[1]], np.int64),
        )
        return int(np.floor(np.sqrt(hav) * float(CHORD_MM_LIT))[0])

    rng = random.Random(88)
    # one row whose |A|*|B| alone exceeds the 250k-pair chunk budget,
    # surrounded by small rows — exercises the single-row-chunk path
    # and the chunk split on both sides
    sizes = [(3, 4), (600, 600), (1, 1), (7, 2)]
    AX, AY, BX, BY, ref = [], [], [], [], []
    for na, nb in sizes:
        A = [
            (rng.randrange(-1800000000, 1800000000),
             rng.randrange(-900000000, 900000000))
            for _ in range(na)
        ]
        B = [
            (rng.randrange(-1800000000, 1800000000),
             rng.randrange(-900000000, 900000000))
            for _ in range(nb)
        ]
        AX.append([p[0] for p in A])
        AY.append([p[1] for p in A])
        BX.append([p[0] for p in B])
        BY.append([p[1] for p in B])
        if na * nb <= 5000:
            h_ab = max(min(chord(x, y) for y in B) for x in A)
            h_ba = max(min(chord(y, x) for x in A) for y in B)
            ref.append(max(h_ab, h_ba))
        else:
            # vectorized reference for the big row
            ax = np.array([p[0] for p in A], np.int64)
            ay = np.array([p[1] for p in A], np.int64)
            bx = np.array([p[0] for p in B], np.int64)
            by = np.array([p[1] for p in B], np.int64)
            m = np.empty((na, nb), np.int64)
            for i in range(na):
                hav = GEO.hav_np(
                    np.full(nb, ax[i]), np.full(nb, ay[i]), bx, by
                )
                m[i] = np.floor(
                    np.sqrt(hav) * float(CHORD_MM_LIT)
                ).astype(np.int64)
            ref.append(max(m.min(axis=1).max(), m.min(axis=0).max()))
    got = f(
        pd.Series(AX), pd.Series(AY), pd.Series(BX), pd.Series(BY)
    ).to_numpy()
    assert (got == np.array(ref)).all()
    # empty batch
    e = pd.Series([], dtype=object)
    assert len(f(e, e, e, e)) == 0


def test_track_hausdorff_refuses_pair_over_cap(spark):
    """A pair of overlapping step-1 tracks whose |A|*|B| exceeds the cap
    raises in the candidate projection (a stage before the kernel), and
    the same tracks decimated under the cap run."""
    import math

    from pyspark.sql import functions as F

    from osmquadtree_rust_spark.operators.trajectory import (
        HAUSDORFF_MAX_PAIR_POINTS,
        track_hausdorff,
    )

    n = math.isqrt(HAUSDORFF_MAX_PAIR_POINTS) + 1
    ev = spark.range(2 * n).select(
        (F.col("id") >= n).cast("long").alias("user_id"),
        F.col("id").alias("event_id"),
        ((F.col("id") % n) * 100).alias("lon"),
        ((F.col("id") % 7) * 100).alias("lat"),
    )
    with pytest.raises(Exception, match="exceeds .* point pairs; pass a larger step"):
        track_hausdorff(ev, step=1).collect()
    (row,) = track_hausdorff(ev, step=2).collect()
    assert row["n_a"] * row["n_b"] <= HAUSDORFF_MAX_PAIR_POINTS


# ---------------------------------------------------------------------------
# token_cooccurrence pairs-in-array rewrite and with_bigram_surprisal
# single-lineage rewrite: seeded nets vs pure python
# ---------------------------------------------------------------------------


def test_token_cooccurrence_vs_python(spark):
    from collections import Counter

    from osmquadtree_rust_spark.operators.text import token_cooccurrence

    rng = random.Random(80)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    for window in (1, 2, 3, 5):
        rows = []
        for d in range(40):
            n = rng.randrange(0, 7)  # includes docs shorter than window
            words = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
            rows.append((d, " ".join(words)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["w_a"], r["w_b"]): r["cnt"]
            for r in token_cooccurrence(df, window=window).collect()
        }
        ref = Counter()
        for _, text in rows:
            ws = [w for w in text.split(" ") if w]
            for i, wa in enumerate(ws):
                for off in range(1, window + 1):
                    if i + off < len(ws):
                        ref[(wa, ws[i + off])] += 1
        assert got == dict(ref), f"window={window}"


def test_bigram_surprisal_vs_python(spark):
    from collections import Counter

    from osmquadtree_rust_spark.operators.text import with_bigram_surprisal

    rng = random.Random(81)
    vocab = ["x", "yy", "z", "w"]
    rows = []
    for d in range(60):
        n = rng.randrange(0, 9)
        rows.append((d, " ".join(vocab[rng.randrange(len(vocab))] for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["surprisal_ppm"]
        for r in with_bigram_surprisal(df).collect()
    }
    c12, c1, perdoc = Counter(), Counter(), {}
    for d, text in rows:
        ws = [w for w in text.split(" ") if w]
        bgs = list(zip(ws, ws[1:]))
        perdoc[d] = bgs
        for b in bgs:
            c12[b] += 1
            c1[b[0]] += 1
    ref = {}
    for d, bgs in perdoc.items():
        if not bgs:
            ref[d] = 0
            continue
        sp = sum(c1[b[0]].bit_length() - c12[b].bit_length() for b in bgs)
        ref[d] = (sp * 1000000) // len(bgs)
    assert got == ref
