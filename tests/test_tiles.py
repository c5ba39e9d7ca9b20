"""Tile-grouping (QuadtreeTree / find_tree_groups) invariants + hand cases."""

import numpy as np

import oracle_qt as O
import tiles_walk as W
from osmquadtree_rust_spark.functions import qt_numpy as Q
from osmquadtree_rust_spark.operators import tiles as T


def _hist(seed=5, n=5000):
    rng = np.random.RandomState(seed)
    lon = rng.randint(-1800000000, 1799999998, n)
    lat = rng.randint(-900000000, 899999998, n)
    cells = Q.qt_round(Q.calculate_point(lon, lat), 17)
    vals, counts = np.unique(cells, return_counts=True)
    return vals, counts


def test_tree_add_totals():
    vals, counts = _hist()
    tree = T.build_tree_from_histogram(vals.tolist(), counts.tolist())
    assert tree.total_weight() == counts.sum()
    # every added cell is findable and weighted
    for v, c in zip(vals[:50], counts[:50]):
        i = tree.find_int(int(v))
        assert tree.qt[i] == int(v)
        assert tree.weight[i] == int(c)


def test_find_tree_groups_partition_and_weights():
    vals, counts = _hist()
    total = counts.sum()
    tree = T.build_tree_from_histogram(vals.tolist(), counts.tolist())
    groups = T.find_tree_groups(tree, 400, 200)
    leaves = groups.leaves()
    assert sum(w for _, w in leaves) == total  # weight conservation
    gcells = T.group_lookup_arrays(groups)
    assert len(set(gcells.tolist())) == len(gcells)
    # every input cell routes to exactly one group whose cell is an
    # ancestor-or-self (or root 0)
    routed = T.route_cells(vals, gcells)
    for v, r in zip(vals, routed):
        assert r == 0 or O.is_parent(int(r), int(v))


def test_route_matches_tree_find():
    vals, counts = _hist(seed=11, n=3000)
    tree = T.build_tree_from_histogram(vals.tolist(), counts.tolist())
    groups = T.find_tree_groups(tree, 300, 150)
    gcells = T.group_lookup_arrays(groups)
    routed = T.route_cells(vals, gcells)
    for v, r in zip(vals.tolist(), routed.tolist()):
        i = groups.find(v)
        assert groups.qt[i] == r


def test_small_hand_case():
    # two sibling leaves under one parent, target big enough to merge them
    a = O.from_string("AA")
    b = O.from_string("AB")
    tree = T.build_tree_from_histogram([a, b], [10, 10])
    groups = T.find_tree_groups(tree, 100, 5)
    leaves = groups.leaves()
    # total 20 < mintarget=50 -> single group at root (find_within's
    # under-target early return, quadtreetree.rs:323-327)
    assert leaves == [(0, 20)]

    tree = T.build_tree_from_histogram([a, b], [60, 60])
    groups = T.find_tree_groups(tree, 100, 5)
    cells = sorted(c for c, _ in groups.leaves())
    # interior items ("A", root) have weight 0 and are never accepted
    # (find_within only takes weight>0 items); both leaves qualify with
    # 60 in [50, 150]
    assert cells == sorted([a, b])


def test_route_shallow_element_never_deep_group():
    # element at depth 1 must not route to a depth-2 group
    g = np.array(sorted([O.from_string("AA"), O.from_string("B")]), dtype=np.int64)
    e = np.array([O.from_string("A")], dtype=np.int64)
    assert T.route_cells(e, g)[0] == 0


def _mixed_hist(seed, n=4000):
    """Histogram with weighted interior cells (footprint-style boxes of
    mixed sizes, like sources/synth.py) — the shape find_tree_groups
    needs to converge."""
    rng = np.random.RandomState(seed)
    lon = rng.randint(-1700000000, 1700000000, n)
    lat = rng.randint(-850000000, 850000000, n)
    size = rng.choice([100, 100000, 5000000, 80000000], n)
    cells = Q.calculate(lon, lat, lon + size, lat + size)
    cells = Q.qt_round(cells, 17)
    vals, counts = np.unique(cells[cells >= 0], return_counts=True)
    return vals, counts


def test_groups_match_independent_oracle():
    """The engine's vectorized path-compressed build + pointer-walk sweep
    must produce EXACTLY the groups of an independent insertion-order
    dict/recursive oracle (tests/oracle_tiles.py) — closes the oracle-
    independence loop flagged in VERDICT r01 for tile_assignment."""
    import oracle_tiles as OT

    for seed, target, absmin in ((1, 400, 200), (2, 1000, 500), (3, 120, 60)):
        vals, counts = _mixed_hist(seed)
        tree = T.build_tree_from_histogram(vals.tolist(), counts.tolist())
        got = sorted((int(c), int(w)) for c, w in
                     T.find_tree_groups(tree, target, absmin).leaves())

        otree = OT.OracleTree()
        for v, c in zip(vals.tolist(), counts.tolist()):
            otree.add(int(v), int(c))
        exp = otree.find_tree_groups(target, absmin)
        assert got == exp, f"seed={seed}: {len(got)} vs {len(exp)} groups"


def test_vectorized_groups_match_walk_port_seeded_net():
    """find_tree_groups (vectorized sweeps + empty-relaxation jumps) must
    equal find_tree_groups_walk (the step-for-step reference port) on a
    seeded net of histogram shapes, targets, and absmin regimes —
    including absmin > target-50, where the relaxation window first moves
    UP (max(absmin, mintarget-50))."""
    import random

    rng = random.Random(42)
    for _ in range(8):
        seed = rng.randint(0, 10**6)
        r = np.random.RandomState(seed)
        n = int(r.randint(500, 6000))
        lon = r.randint(-1700000000, 1700000000, n)
        lat = r.randint(-850000000, 850000000, n)
        size = r.choice([100, 100000, 5000000, 80000000], n)
        cells = Q.qt_round(Q.calculate(lon, lat, lon + size, lat + size), 17)
        vals, counts = np.unique(cells[cells >= 0], return_counts=True)
        target = int(r.choice([120, 300, 400, 1000, 4000]))
        absmin = int(r.choice([target // 2, target // 4, 5, target - 40]))
        ta = T.build_tree_from_histogram(vals, counts)
        tb = T.build_tree_from_histogram(vals, counts)
        got = sorted(T.find_tree_groups(ta, target, absmin).leaves())
        exp = sorted(W.find_tree_groups_walk(tb, target, absmin).leaves())
        assert got == exp, f"seed={seed} target={target} absmin={absmin}"


def test_vectorized_divergence_guard_matches_walk():
    """A leaf-only histogram (no weighted interior cells near the target
    scale) must raise the divergence guard in BOTH implementations, at
    the same sweep budget semantics."""
    import pytest

    # a confined grid of DISTINCT level-17 point cells: every weighted
    # item is a depth-17 leaf with weight 1 << absmin, no shallow
    # weighted cells (unlike _hist, where extreme lon/lat produce
    # depth-0..2 cells that anchor a group immediately)
    lon = np.arange(2000, dtype=np.int64) * 40000 + 100000000
    lat = np.full(2000, 100000000, dtype=np.int64)
    cells = Q.qt_round(Q.calculate_point(lon, lat), 17)
    vals, counts = np.unique(cells, return_counts=True)
    assert (vals & 31).min() == 17 and counts.sum() > 300
    for fn in (T.find_tree_groups, W.find_tree_groups_walk):
        tree = T.build_tree_from_histogram(vals.tolist(), counts.tolist())
        with pytest.raises(RuntimeError, match="diverging"):
            fn(tree, 300, 150, max_sweeps=40)


def test_routing_matches_independent_oracle():
    import oracle_tiles as OT

    vals, counts = _mixed_hist(7)
    tree = T.build_tree_from_histogram(vals.tolist(), counts.tolist())
    groups = T.find_tree_groups(tree, 400, 200)
    gcells = T.group_lookup_arrays(groups)

    gtree = OT.OracleTree()
    for c, w in groups.leaves():
        gtree.add(int(c), int(w))

    rng = np.random.RandomState(8)
    lon = rng.randint(-1800000000, 1799999998, 3000)
    lat = rng.randint(-900000000, 899999998, 3000)
    cells = Q.calculate_point(lon, lat)
    routed = T.route_cells(cells, gcells)
    for c, r in zip(cells.tolist(), routed.tolist()):
        assert r == gtree.find(int(c))
