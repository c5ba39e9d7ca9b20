"""Round-4 additions: skew-safe top-k, operator guards, interop vectors."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _skewed_docs(spark, n=2000, hot_share=2):
    # every `hot_share`-th row lands in one group -> a planted 50%-hot group
    rows = [
        (i, "hot" if i % hot_share == 0 else f"s{i % 7}", (i * 37) % 101)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, quality long")


def test_topk_salted_equals_single_pass(spark):
    from osmquadtree_rust_spark.operators.text import top_k_per_group

    df = _skewed_docs(spark)
    salted = top_k_per_group(df, salt_buckets=16).orderBy("source", "rk").collect()
    single = top_k_per_group(df, salt_buckets=1).orderBy("source", "rk").collect()
    assert salted == single
    assert len(salted) == 8 * 5  # 8 groups x k=5


def test_topk_full_input_window_is_salted(spark):
    from osmquadtree_rust_spark.operators.text import top_k_per_group

    df = _skewed_docs(spark)
    out = top_k_per_group(df, salt_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    keyed = [s for s in specs if "source" in s]
    # two windows: the exact pass over <= k*S survivors (outer, printed
    # first) and the salted pass over the FULL input (inner, printed last).
    # The window nearest the scan must carry the salt in its partition spec
    # so a 50%-hot group never lands on one task.
    assert len(keyed) == 2, plan[:2000]
    assert "_w0" in keyed[-1], keyed
    assert "_w0" not in keyed[0], keyed


def test_topk_rejects_bad_params(spark):
    from osmquadtree_rust_spark.operators.text import top_k_per_group

    df = _skewed_docs(spark, n=10)
    with pytest.raises(ValueError, match="salt_buckets"):
        top_k_per_group(df, salt_buckets=0)


def test_quantize_int8_raises_on_nan(spark):
    from osmquadtree_rust_spark.operators.similarity import quantize_int8

    for bad in ([0.5, float("nan")], []):
        df = spark.createDataFrame(
            [(1, bad), (2, [0.1, 0.2])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(Exception, match="NULL/NaN embedding element"):
            quantize_int8(df).collect()


def test_quantize_int8_raises_on_null_element(spark):
    from osmquadtree_rust_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, None])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="NULL/NaN embedding element"):
        quantize_int8(df).collect()


def test_neardup_preserves_string_ids(spark):
    from osmquadtree_rust_spark.operators.similarity import cosine_neardup_pairs

    df = spark.createDataFrame(
        [("a1", [1.0, 0.0, 0.0, 0.0]), ("a2", [1.0, 0.001, 0.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    out = cosine_neardup_pairs(df, threshold=0.9, bands=2, planes_per_band=3, dim=4)
    rows = out.collect()
    assert rows and rows[0]["a"] == "a1" and rows[0]["b"] == "a2"


def test_hopping_window_numeric_epoch(spark):
    from osmquadtree_rust_spark.streaming.ingest import hopping_window_counts

    df = spark.createDataFrame(
        [(100, "a", 1.0), (1900, "a", 2.0), (4000, "b", 3.0)],
        "ts long, event_type string, value double",
    )
    out = hopping_window_counts(df, window_seconds=3600, slide_seconds=1800)
    rows = {(r["win_start"], r["event_type"]): r["n"] for r in out.collect()}
    # ts=100 and ts=1900 share the [0, 3600) window; each event is in 2 windows
    assert rows[(0, "a")] == 2
    assert rows[(-1800, "a")] == 1
    assert rows[(1800, "a")] == 1
    assert rows[(1800, "b")] == 1
    assert rows[(3600, "b")] == 1
    assert len(rows) == 5


def test_hopping_window_string_ts_contract(spark):
    # r5 (ADVICE): parseable string timestamps are accepted again via
    # CAST(ts AS TIMESTAMP); garbage raises at execution under Spark's
    # default ANSI mode instead of silently NULL-grouping.  Truly
    # non-temporal dtypes still raise at plan time.
    from osmquadtree_rust_spark.streaming.ingest import hopping_window_counts

    ok = spark.createDataFrame(
        [("1970-01-01 00:35:00", "a", 1.0)],
        "ts string, event_type string, value double",
    )
    rows = hopping_window_counts(ok).collect()
    assert rows and all(r["n"] == 1 for r in rows)
    bad = spark.createDataFrame(
        [("x", "a", 1.0)], "ts string, event_type string, value double"
    )
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        hopping_window_counts(bad).collect()
    nontemporal = spark.createDataFrame(
        [(True, "a", 1.0)], "ts boolean, event_type string, value double"
    )
    with pytest.raises(ValueError, match="non-temporal"):
        hopping_window_counts(nontemporal)


def test_sessionize_batch_matches_streaming_semantics(spark):
    # same planted input as test_sessionize_stream: the batch form must
    # produce the streaming form's closed sessions PLUS the flushed open
    # state (user 1's late return, user 2's single session)
    from osmquadtree_rust_spark.streaming.sessions import sessionize_batch

    ev = spark.createDataFrame(
        [
            (0, 1, 1000, 1.0),
            (1, 1, 1100, 2.0),
            (2, 1, 1200, 3.0),
            (3, 2, 1000, 5.0),
            (4, 2, 2500, 6.0),
            (5, 1, 10000, 9.0),
        ],
        "event_id long, user_id long, ts long, value double",
    )
    out = sessionize_batch(ev, gap_seconds=1800)
    rows = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["total_value"]
        )
        for r in out.collect()
    }
    assert rows == {
        (1, 1000): (1200, 3, 6.0),
        (1, 10000): (10000, 1, 9.0),
        (2, 1000): (2500, 2, 11.0),
    }


def test_sessionize_batch_zero_gap_and_empty(spark):
    from osmquadtree_rust_spark.streaming.sessions import sessionize_batch

    ev = spark.createDataFrame(
        [(0, 1, 100, 1.0), (1, 1, 100, 2.0), (2, 1, 101, 4.0)],
        "event_id long, user_id long, ts long, value double",
    )
    # gap 0: only identical-second events share a session... no — a 1s
    # gap is > 0, so each distinct second is its own island; equal
    # seconds merge
    rows = sessionize_batch(ev, gap_seconds=0).orderBy("session_start").collect()
    assert [(r["session_start"], r["n_events"]) for r in rows] == [(100, 2), (101, 1)]
    empty = spark.createDataFrame(
        [], "event_id long, user_id long, ts long, value double"
    )
    assert sessionize_batch(empty).count() == 0


def test_radius_join_auto_chars(spark):
    # d_fixed=200000 exceeds the chars=6 cell span (54931) and used to
    # force the user to re-derive grid math; chars=None now auto-selects
    # the finest covering depth and the result matches brute force
    from osmquadtree_rust_spark.operators.spatial_join import (
        auto_radius_chars,
        geohash_radius_join,
    )

    d = 200000
    assert auto_radius_chars(d) == 5
    assert auto_radius_chars(54931) == 6
    with pytest.raises(ValueError, match="must be positive"):
        auto_radius_chars(0)

    pts = [(i, 100000000 + (i * 37917) % 1000000, 450000000 + (i * 70123) % 1000000)
           for i in range(80)]
    df = spark.createDataFrame(pts, "id long, lon long, lat long")
    with pytest.raises(ValueError, match="recall-completeness"):
        geohash_radius_join(df, d, chars=6)
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


def test_multimodal_both_fast_equals_generic(spark):
    # the restricted caption-verify (fast path) must be provably equal to
    # the generic run-both-pipelines composition on the gate's planted
    # three-class corpus (both-near / image-only / caption-only dups)
    from osmquadtree_rust_spark import gate_text as GT
    from osmquadtree_rust_spark.operators import multimodal as MM

    corpus = GT._mm_corpus(spark, "/root/testdata/sf0.001")
    fast = MM.multimodal_neardup_pairs(corpus, n=GT._MM_N, policy="both", fast=True)
    gen = MM.multimodal_neardup_pairs(corpus, n=GT._MM_N, policy="both", fast=False)
    key = lambda r: (r["a"], r["b"], r["hamming"], r["jaccard_ppm"])
    fr = sorted(map(key, fast.collect()))
    gr = sorted(map(key, gen.collect()))
    assert fr == gr and fr


def test_ngram_on_pairs_matches_full_with_df_cap(spark):
    # df_cap semantics must be corpus-global even when the verify is
    # restricted to candidate pairs
    from osmquadtree_rust_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon common common footer"),
            (2, "alpha beta gamma delta epsilon common common footer"),
            (3, "zeta eta theta iota kappa common common footer"),
            (4, "unrelated words entirely different tokens here common common footer"),
        ],
        "doc_id long, text string",
    )
    full = D.ngram_neardup_pairs(docs, n=3, threshold_ppm=300000, df_cap=3)
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "a long, b long"
    )
    restricted = D.ngram_jaccard_on_pairs(
        cand, docs, n=3, threshold_ppm=300000, df_cap=3
    )
    frows = {(r["a"], r["b"]): r["jaccard_ppm"] for r in full.collect()}
    rrows = {(r["a"], r["b"]): r["jaccard_ppm"] for r in restricted.collect()}
    # restricted == full ∩ candidate-pairs
    expect = {k: v for k, v in frows.items() if k in {(1, 2), (1, 3), (3, 4)}}
    assert rrows == expect and (1, 2) in rrows


def test_ngram_on_pairs_rejects_zero_threshold(spark):
    from osmquadtree_rust_spark.operators import dedup as D

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError, match="threshold_ppm"):
        D.ngram_jaccard_on_pairs(cand, docs, threshold_ppm=0)


def test_connected_components_reliable_file_uri(spark, tmp_path):
    # cluster-URI checkpoint dirs used to be a hard error; deletes now go
    # through the Hadoop FileSystem API, so a file:// URI must work AND
    # clean its dead generations
    import os

    from osmquadtree_rust_spark.operators import dedup as D

    verts = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "a long, b long")
    ckpt = tmp_path / "ckpt_uri"
    out = D.connected_components(
        verts, pairs, reliable=True, checkpoint_dir=f"file://{ckpt}"
    )
    got = {r.doc_id: r.comp for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6, 7: 7}
    gens = sorted(os.listdir(ckpt))
    assert len(gens) == 1, gens


def test_vacuum_file_uri(spark, tmp_path):
    import json
    import os

    from osmquadtree_rust_spark.plans import checkpoint as CK

    base = str(tmp_path / "store")
    os.makedirs(f"{base}/snapshot=live")
    os.makedirs(f"{base}/snapshot=dead")
    os.makedirs(f"{base}/_metrics/snapshot=dead")
    with open(f"{base}/_filelist.json", "w") as fh:
        json.dump([{"snapshot": "live", "timestamp": 1, "kind": "base"}], fh)
    removed = CK.vacuum(f"file://{base}", grace_seconds=0)
    assert removed == ["dead"]
    assert not os.path.exists(f"{base}/snapshot=dead")
    assert not os.path.exists(f"{base}/_metrics/snapshot=dead")
    assert os.path.exists(f"{base}/snapshot=live")
    # grace window protects fresh dirs
    os.makedirs(f"{base}/snapshot=fresh")
    assert CK.vacuum(f"file://{base}", grace_seconds=3600) == []
    assert os.path.exists(f"{base}/snapshot=fresh")


def test_cms_upper_bound_and_heavy_hitters(spark):
    from osmquadtree_rust_spark.operators import sketch as SK

    # tiny width forces collisions; estimates must never under-count and
    # heavy_hitters must still equal the direct exact computation
    docs = spark.createDataFrame(
        [(i, "hot " * 20 + f"u{i} v{i}") for i in range(40)],
        "doc_id long, text string",
    )
    width, depth = 8, 3
    sketch = SK.count_min_sketch(docs, depth=depth, width=width)
    vocab = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    truth = {r["word"]: r["n"] for r in vocab.groupBy("word").agg(F.count("*").alias("n")).collect()}
    est = {
        r["word"]: r["est"]
        for r in SK.cms_lookup(sketch, vocab.distinct(), depth=depth, width=width).collect()
    }
    assert set(est) == set(truth)
    assert all(est[w] >= c for w, c in truth.items())  # never under-counts
    collided = sum(1 for w in truth if est[w] > truth[w])
    assert collided > 0  # width 8 vs 81 tokens: collisions must occur

    hh = {
        r["word"]: r["cnt"]
        for r in SK.heavy_hitters(docs, threshold=100, depth=depth, width=width).collect()
    }
    assert hh == {"hot": 800}
    # absent probe word: estimate is a (possibly positive) upper bound of 0
    ghost = spark.createDataFrame([("nosuchword",)], "word string")
    g = SK.cms_lookup(sketch, ghost, depth=depth, width=width).collect()[0]["est"]
    assert g >= 0


def test_cms_guards(spark):
    from osmquadtree_rust_spark.operators import sketch as SK

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="depth"):
        SK.count_min_sketch(docs, depth=0)
    with pytest.raises(ValueError, match="width"):
        SK.count_min_sketch(docs, width=1)
    with pytest.raises(ValueError, match="threshold"):
        SK.heavy_hitters(docs, threshold=0)
    # empty corpus
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert SK.heavy_hitters(empty, threshold=1).count() == 0


def test_ivf_topk_join_full_probe_is_exact(spark):
    # probing ALL clusters must equal brute force per query
    import itertools

    from osmquadtree_rust_spark.operators import similarity as SIM

    rng_vecs = [
        [((i * 13 + d * 7) % 19 - 9) / 10.0 for d in range(8)] for i in range(40)
    ]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng_vecs)], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(100 + i, rng_vecs[i]) for i in range(4)],
        "query_id long, embedding array<double>",
    )
    cents = [rng_vecs[0], rng_vecs[10], rng_vecs[20]]
    out = SIM.ivf_topk_join(queries, corpus, cents, k=5, n_probe=3)
    got = {
        (r["query_id"], r["rk"]): (r["vec_id"], r["score_ppm"])
        for r in out.collect()
    }
    import math

    for qi in range(4):
        scored = sorted(
            (
                (-sum(a * b for a, b in zip(rng_vecs[qi], v)), i)
                for i, v in enumerate(rng_vecs)
            ),
        )
        for rk, (negd, vid) in enumerate(scored[:5], start=1):
            gvid, gppm = got[(100 + qi, rk)]
            assert gvid == vid, (qi, rk, gvid, vid)
            assert gppm == math.floor(-negd * 1e6)
    with pytest.raises(ValueError, match="n_probe"):
        SIM.ivf_topk_join(queries, corpus, cents, n_probe=4)
    with pytest.raises(ValueError, match="collide"):
        SIM.ivf_topk_join(queries.withColumn("rk", F.lit(1)), corpus, cents)


def test_radius_join_ring2_matches_brute_force(spark):
    # ring=2 at a finer auto depth must return exactly the ring=1 result
    from osmquadtree_rust_spark.operators.spatial_join import (
        auto_radius_chars,
        geohash_radius_join,
        ring_offsets,
    )

    assert len(ring_offsets(2)) == 24
    assert ring_offsets(2)[:8] == ring_offsets(1)
    d = 200000
    assert auto_radius_chars(d, ring=2) >= auto_radius_chars(d, ring=1)
    pts = [(i, 100000000 + (i * 37917) % 1000000, 450000000 + (i * 70123) % 1000000)
           for i in range(80)]
    df = spark.createDataFrame(pts, "id long, lon long, lat long")
    r1 = {
        (r["a"], r["b"], r["dist_sq"])
        for r in geohash_radius_join(df, d, ring=1).collect()
    }
    r2 = {
        (r["a"], r["b"], r["dist_sq"])
        for r in geohash_radius_join(df, d, ring=2).collect()
    }
    assert r1 == r2 and r1


def test_knn_within_radius_matches_brute_force(spark):
    from osmquadtree_rust_spark.operators.spatial_join import knn_within_radius

    pts = [(i, 100000000 + (i * 37917) % 800000, 450000000 + (i * 70123) % 800000)
           for i in range(60)]
    d, k = 300000, 2
    df = spark.createDataFrame(pts, "id long, lon long, lat long")
    got = {
        (r["a"], r["rk"]): (r["b"], r["dist_sq"])
        for r in knn_within_radius(df, d, k=k).collect()
    }
    expect = {}
    for i, xi, yi in pts:
        nbrs = []
        for j, xj, yj in pts:
            if i == j:
                continue
            dl = abs(xi - xj)
            wl = min(dl, 3600000000 - dl)
            ds = wl * wl + (yi - yj) ** 2
            if ds <= d * d:
                nbrs.append((ds, j))
        for rk, (ds, j) in enumerate(sorted(nbrs)[:k], start=1):
            expect[(i, rk)] = (j, ds)
    assert got == expect and expect


def test_token_cooccurrence_small(spark):
    from osmquadtree_rust_spark.operators.text import token_cooccurrence

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b  a")],  # double space: empty token dropped
        "doc_id long, text string",
    )
    got = {
        (r["w_a"], r["w_b"]): r["cnt"]
        for r in token_cooccurrence(df, window=2).collect()
    }
    # doc1 pairs (window 2): (a,b),(a,a),(b,a),(b,c),(a,c); doc2: (b,a)
    assert got == {
        ("a", "b"): 1,
        ("a", "a"): 1,
        ("b", "a"): 2,
        ("b", "c"): 1,
        ("a", "c"): 1,
    }
    with pytest.raises(ValueError, match="window"):
        token_cooccurrence(df, window=0)


def test_merge_intervals_and_coverage(spark):
    from osmquadtree_rust_spark.operators.temporal import (
        coverage_stats,
        merge_intervals,
    )

    iv = spark.createDataFrame(
        [
            (1, 0, 10),    # island A
            (1, 5, 12),    # overlaps A
            (1, 12, 20),   # touches A (half-open merge)
            (1, 30, 40),   # island B (gap 10)
            (2, 100, 200),
        ],
        "id long, start long, end long",
    )
    m = {
        (r["id"], r["island_start"]): (r["island_end"], r["n_intervals"])
        for r in merge_intervals(iv).collect()
    }
    assert m == {(1, 0): (20, 3), (1, 30): (40, 1), (2, 100): (200, 1)}
    c = {
        r["id"]: (r["covered"], r["n_islands"], r["span"], r["max_gap"])
        for r in coverage_stats(iv).collect()
    }
    assert c == {1: (30, 2, 40, 10), 2: (100, 1, 100, 0)}


def test_merge_intervals_randomized_vs_reference(spark):
    import random

    from osmquadtree_rust_spark.operators.temporal import merge_intervals

    rng = random.Random(42)
    rows = []
    for key in range(12):
        for _ in range(rng.randint(0, 30)):
            s = rng.randint(0, 500)
            rows.append((key, s, s + rng.randint(1, 60)))
    df = spark.createDataFrame(rows, "id long, start long, end long")
    got = {
        (r["id"], r["island_start"]): (r["island_end"], r["n_intervals"])
        for r in merge_intervals(df).collect()
    }
    expect = {}
    bykey = {}
    for k, s, e in rows:
        bykey.setdefault(k, []).append((s, e))
    for k, ivs in bykey.items():
        ivs.sort()
        cur_s, cur_e, n = None, None, 0
        for s, e in ivs:
            if cur_s is None or s > cur_e:
                if cur_s is not None:
                    expect[(k, cur_s)] = (cur_e, n)
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        if cur_s is not None:
            expect[(k, cur_s)] = (cur_e, n)
    assert got == expect and expect


def test_review_guards(spark):
    # round-4 self-review fixes: ring wrap collision, ivf dim guard,
    # null-safe top_frac groups
    import numpy as np

    from osmquadtree_rust_spark.functions import qt_numpy as Q
    from osmquadtree_rust_spark.operators import similarity as SIM
    from osmquadtree_rust_spark.operators.spatial_join import (
        geohash_neighbors,
        qt_neighbors,
    )
    from osmquadtree_rust_spark.operators.text import top_frac_per_group

    # wrap-collision: level-1 qt grid has m=2 — even ring=1 aliases W/E
    cell = int(Q.from_xyz(np.array([0]), np.array([0]), np.array([1]))[0])
    df = spark.createDataFrame([(1, cell)], "id long, qt long")
    with pytest.raises(ValueError, match="wraps onto itself"):
        qt_neighbors(df, 1)
    pts = spark.createDataFrame([(1, 0, 0)], "id long, lon long, lat long")
    with pytest.raises(ValueError, match="wraps onto itself"):
        geohash_neighbors(pts, chars=1, ring=4)

    # ivf_topk_join: short vectors raise, never silently vanish/probe
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0])], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(9, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    with pytest.raises(Exception, match="corpus embedding"):
        SIM.ivf_topk_join(queries, corpus, cents, k=1, n_probe=1).collect()

    # top_frac keeps NULL-group rows (same contract as top_k_per_group)
    docs = spark.createDataFrame(
        [(i, None if i < 4 else "s", i) for i in range(8)],
        "doc_id long, source string, quality long",
    )
    out = top_frac_per_group(docs, frac_ppm=500000)
    by_group = {}
    for r in out.collect():
        by_group.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_group[None]) == 2 and len(by_group["s"]) == 2

    # random_projection output-name collision raises
    clash = spark.createDataFrame(
        [(1, [0.1] * 8, 5)], "vec_id long, embedding array<double>, rp0 long"
    )
    with pytest.raises(ValueError, match="rp0"):
        SIM.random_projection(clash, out_dim=2, dim=8)


def test_polygon_stats_known_shapes(spark):
    from osmquadtree_rust_spark.operators.filter import polygon_stats

    # ccw unit-ish square (area 100*100), cw triangle (negative signed)
    verts = [
        (1, 0, 1000, 2000), (1, 1, 1100, 2000), (1, 2, 1100, 2100), (1, 3, 1000, 2100),
        (2, 0, 0, 0), (2, 1, 0, 50), (2, 2, 60, 0),
    ]
    df = spark.createDataFrame(verts, "poly_id long, seq long, lon long, lat long")
    rows = {r["poly_id"]: r for r in polygon_stats(df).collect()}
    assert rows[1]["area2"] == 2 * 100 * 100 and rows[1]["ccw"] == 1
    assert rows[1]["n_vertices"] == 4
    assert (rows[1]["minlon"], rows[1]["maxlat"]) == (1000, 2100)
    assert rows[2]["area2"] == -(50 * 60) and rows[2]["ccw"] == 0
    assert rows[2]["abs_area2"] == 3000

    # overflow guard: a world-spanning ring raises instead of wrapping
    big = spark.createDataFrame(
        [(9, i, (-1 if i % 2 else 1) * 1799999999, (-1 if i < 2 else 1) * 899999999)
         for i in range(4)],
        "poly_id long, seq long, lon long, lat long",
    )
    with pytest.raises(Exception, match="ring too large"):
        polygon_stats(big).collect()


def test_chunk_documents_contract(spark):
    from osmquadtree_rust_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    }
    # step=3: starts 0,3,6 for the 7-token doc; short doc = one chunk;
    # empty/whitespace docs vanish
    assert rows == {
        (1, 0): (4, "a b c d"),
        (1, 1): (4, "d e f g"),
        (1, 2): (1, "g"),
        (2, 0): (2, "x y"),
    }
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_ngram_containment_asymmetry(spark):
    from osmquadtree_rust_spark.operators import dedup as D

    long_doc = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "one two three four five"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    out = {
        (r["a"], r["b"]): r["containment_ppm"]
        for r in D.ngram_containment_pairs(
            docs, n=3, threshold_ppm=800000
        ).collect()
    }
    # doc 2 (prefix) is fully contained in doc 1; the reverse is 3/8
    assert out == {(2, 1): 1000000}


def test_winnow_shared_run_guarantee(spark):
    from osmquadtree_rust_spark.operators import dedup as D

    n, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = n + w - 1
    docs = spark.createDataFrame(
        [
            (1, "xx yy " + shared + " zz"),
            (2, shared + " qq rr ss tt"),
            (3, "totally different words here none match at all"),
            (4, "short doc"),  # < n + w - 1 words -> no fingerprints
        ],
        "doc_id long, text string",
    )
    fps = D.winnow_fingerprints(docs, n=n, window=w)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # the shared >= n+w-1 word run forces a common fingerprint
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    with pytest.raises(ValueError, match="window"):
        D.winnow_fingerprints(docs, n=3, window=0)


def test_qt_neighbors_ring2(spark):
    import numpy as np

    from osmquadtree_rust_spark.functions import qt_numpy as Q
    from osmquadtree_rust_spark.operators.spatial_join import qt_neighbors

    z, m = 4, 16
    cell = int(Q.from_xyz(np.array([5]), np.array([5]), np.array([z]))[0])
    df = spark.createDataFrame([(1, cell)], "id long, qt long")
    out = qt_neighbors(df, z, ring=2).collect()
    assert len(out) == 24  # full 5x5 block minus center, no edges hit
    nbrs = {r["neighbor"] for r in out}
    assert len(nbrs) == 24 and cell not in nbrs


def test_merge_intervals_degenerate_raises(spark):
    from osmquadtree_rust_spark.operators.temporal import merge_intervals

    iv = spark.createDataFrame([(1, 10, 10)], "id long, start long, end long")
    with pytest.raises(Exception, match="end <= start"):
        merge_intervals(iv).collect()


def test_qt_neighbors_bit_exact(spark):
    import numpy as np

    from osmquadtree_rust_spark.functions import qt_numpy as Q
    from osmquadtree_rust_spark.operators.spatial_join import (
        NEIGHBOR_OFFSETS,
        qt_neighbors,
    )

    z = 5
    m = 1 << z
    tiles = [(0, 0), (3, 7), (m - 1, 0), (0, m - 1), (17, 17)]
    cells = [
        (i, int(Q.from_xyz(np.array([x]), np.array([y]), np.array([z]))[0]))
        for i, (x, y) in enumerate(tiles)
    ]
    df = spark.createDataFrame(cells, "id long, qt long")
    got = {
        (r["id"], r["k"]): r["neighbor"] for r in qt_neighbors(df, z).collect()
    }
    expect = {}
    for i, (x, y) in enumerate(tiles):
        for k, (dx, dy) in enumerate(NEIGHBOR_OFFSETS):
            yn = y + dy
            if not 0 <= yn < m:
                continue  # pole rows dropped
            xn = (x + dx) % m  # antimeridian wrap
            expect[(i, k)] = int(
                Q.from_xyz(np.array([xn]), np.array([yn]), np.array([z]))[0]
            )
    assert got == expect
    # wrong-depth cells must raise, not emit a wrong neighbor set
    bad = spark.createDataFrame([(9, cells[0][1])], "id long, qt long")
    with pytest.raises(Exception, match="cell depth"):
        qt_neighbors(bad, z + 1).collect()


def test_top_frac_salted_equals_single_pass(spark):
    from osmquadtree_rust_spark.operators.text import top_frac_per_group

    df = _skewed_docs(spark)
    a = top_frac_per_group(df, frac_ppm=300000, salt_buckets=16)
    b = top_frac_per_group(df, frac_ppm=300000, salt_buckets=1)
    ra = sorted((r["source"], r["doc_id"], r["rk"]) for r in a.collect())
    rb = sorted((r["source"], r["doc_id"], r["rk"]) for r in b.collect())
    assert ra == rb and ra
    # per-group keep counts: floor(n_g * 0.3)
    import collections

    n = collections.Counter(r[0] for r in ra)
    sizes = collections.Counter(
        r["source"] for r in df.select("source").collect()
    )
    assert all(n[g] == (sizes[g] * 300000) // 1000000 for g in sizes)
    # tiny group below the floor keeps nothing
    tiny = spark.createDataFrame(
        [(1, "t", 5), (2, "t", 6)], "doc_id long, source string, quality long"
    )
    assert top_frac_per_group(tiny, frac_ppm=300000).count() == 0
    with pytest.raises(ValueError, match="frac_ppm"):
        top_frac_per_group(df, frac_ppm=0)


def test_random_projection_guard_and_determinism(spark):
    from osmquadtree_rust_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [0.1] * 8)], "vec_id long, embedding array<double>"
    )
    out = SIM.random_projection(df, out_dim=3, quant=100, dim=8)
    rows = {r["vec_id"]: (r["rp0"], r["rp1"], r["rp2"]) for r in out.collect()}
    # python-side reference: same weights, same left-to-right fold
    import math

    for vid, vec in [(1, [0.5] * 8), (2, [0.1] * 8)]:
        exp = tuple(
            math.floor(
                sum(x * w for x, w in zip(vec, SIM.plane_weights(d, 8))) * 100
            )
            for d in range(3)
        )
        assert rows[vid] == exp
    bad = spark.createDataFrame([(3, [0.1] * 5)], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="shorter or longer"):
        SIM.random_projection(bad, out_dim=2, dim=8).collect()


def test_verification_order_rotation(tmp_path, monkeypatch):
    # never-verified gates sort first; previously-failing rows don't
    # count as verified; most-recently-green sort last
    import importlib.util
    import json
    import shutil

    spec = importlib.util.spec_from_file_location(
        "entry_mod", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    src = tmp_path / "repo"
    src.mkdir()
    shutil.copy("/root/repo/__spark_entry__.py", src / "__spark_entry__.py")
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    bad = {"rows_match": False, "schema_match": True, "hash_match": False, "err": "x"}
    (src / "CORRECTNESS_r01.json").write_text(json.dumps({"a": green, "b": green}))
    (src / "CORRECTNESS_r02.json").write_text(json.dumps({"a": green, "c": bad}))

    spec2 = importlib.util.spec_from_file_location(
        "entry_mod2", str(src / "__spark_entry__.py")
    )
    mod2 = importlib.util.module_from_spec(spec2)
    spec2.loader.exec_module(mod2)
    order = mod2._verification_order(["a", "b", "c", "d"])
    # c failed (never green) and d is new -> first, by registration index;
    # b last green r01; a last green r02
    assert order == ["c", "d", "b", "a"]


def test_bbox_join_auto_chars(spark):
    from osmquadtree_rust_spark.operators.spatial_join import (
        auto_bbox_chars,
        bbox_intersection_join,
    )

    # 10-degree boxes blow the 64-cell covering at chars=6; the derived
    # depth must be coarse enough that the covering guard never fires
    span = 100000000
    c = auto_bbox_chars(span)
    assert c == 4
    df = spark.createDataFrame(
        [
            (1, 100000000, 450000000, 100000000 + span, 450000000 + span),
            (2, 100100000, 450100000, 100100000 + span, 450100000 + span),
            (3, 200000000, 100000000, 200000000 + span, 100000000 + span),
        ],
        "id long, minlon long, minlat long, maxlon long, maxlat long",
    )
    rows = {
        (r["a"], r["b"]): r["ix_area"]
        for r in bbox_intersection_join(df, chars=None, max_span_fixed=span).collect()
    }
    assert set(rows) == {(1, 2)}
    assert rows[(1, 2)] == (span - 100000) ** 2
    with pytest.raises(ValueError, match="max_span_fixed"):
        bbox_intersection_join(df, chars=None)


def test_bbox_join_inverted_within_cell_raises(spark):
    from osmquadtree_rust_spark.operators.spatial_join import bbox_intersection_join

    # inverted box whose corners fall inside ONE depth-6 grid cell: the
    # grid-space guard alone (x1 == x0) would pass it silently
    df = spark.createDataFrame(
        [(1, 10.0002, 50.0, 10.0001, 50.0001), (2, 10.0, 50.0, 10.001, 50.001)],
        "id long, minlon double, minlat double, maxlon double, maxlat double",
    )
    with pytest.raises(Exception, match="inverted bbox"):
        bbox_intersection_join(df, chars=6).collect()
