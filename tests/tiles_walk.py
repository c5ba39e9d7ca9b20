"""Step-for-step pointer-walk port of the reference's tile grouping
(quadtreetree.rs:306-397), driving `operators.tiles.QuadtreeTree`.

Test-only: tests/test_tiles.py compares the vectorized
`operators.tiles.find_tree_groups` against it.  Unlike oracle_tiles.py
it shares the tree structure with the code under test, so it checks the
sweep vectorization, not the tree build.
"""

from __future__ import annotations

from osmquadtree_rust_spark.operators.tiles import NULL, QuadtreeTree


def _all_children_small(tree: QuadtreeTree, ti: int, mintarget: int) -> bool:
    # quadtreetree.rs:306-315
    for c in tree.children_of(ti):
        if c != NULL and tree.total[c] > mintarget:
            return False
    return True


def _find_within(tree: QuadtreeTree, mintarget, maxtarget, absmintarget):
    # quadtreetree.rs:317-355
    res = []
    if tree.total_weight() < mintarget:
        res.append((0, tree.total_weight()))
        return res
    t = 0
    while True:
        if t == NULL:
            return res
        total = tree.total[t]
        weight = tree.weight[t]
        if total < mintarget:
            t = tree.next_sibling(t)
        elif weight > 0 and total <= maxtarget:
            res.append((tree.qt[t], total))
            t = tree.next_sibling(t)
        elif weight > 0 and total == weight:
            res.append((tree.qt[t], total))
            t = tree.next_sibling(t)
        elif weight > 0 and _all_children_small(tree, t, absmintarget):
            res.append((tree.qt[t], total))
            t = tree.next_sibling(t)
        else:
            t = tree.next_item(t, 0)


def find_tree_groups_walk(
    tree: QuadtreeTree, target: int, absmintarget: int, max_sweeps: int = 2_000_000
) -> QuadtreeTree:
    """Greedy weight-balanced grouping with the reference's exact +-50
    relaxation schedule and final cell-order sort (quadtreetree.rs:357-397).

    This is the step-for-step pointer-walk port;
    `operators.tiles.find_tree_groups` computes the identical grouping
    vectorized (seeded equivalence net in tests/test_tiles.py keeps them
    locked together).  NOTE: drains the
    input tree (exactly like the reference's remove loop).

    max_sweeps is a divergence guard, not a semantic knob: the reference
    loop relaxes the window by 50 per empty sweep, so histograms whose
    weight sits only at deep leaves (no weighted interior cells to anchor
    groups) would crawl for total_weight/50 sweeps; we raise instead of
    silently burning hours.  (OSM-shaped data always has shallow weighted
    cells from ways/relations; image corpora get them from large
    footprints — see sources/synth.py.)
    """
    res = QuadtreeTree()
    mintarget = target - 50
    maxtarget = target + 50
    all_groups = []
    sweeps = 0
    while tree.total_weight() > 0:
        sweeps += 1
        if sweeps > max_sweeps:
            raise RuntimeError(
                f"find_tree_groups diverging: {sweeps} sweeps, "
                f"{tree.total_weight()} weight left, window "
                f"[{mintarget},{maxtarget}] — histogram likely has no "
                f"weighted interior cells near the target scale"
            )
        vv = _find_within(tree, mintarget, maxtarget, absmintarget)
        if not vv:
            mintarget = max(absmintarget, mintarget - 50)
            maxtarget += 50
        else:
            for a, _ in vv:
                b = tree.remove(a)
                all_groups.append((a, b))
    all_groups.sort()
    for a, b in all_groups:
        if b >= NULL:
            raise ValueError(f"can't add {a} with weight {b}")
        res.add(a, b)
    return res
