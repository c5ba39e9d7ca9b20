"""Weight-balanced quadtree tile grouping.

Driver-side port of the reference's tile-group construction
(jharris2268/osmquadtree-rust, src/sortblocks/quadtreetree.rs:1-397 and
prepgraph.rs:104-156).  This runs on the *collected cell histogram* — a
metadata-scale structure (<= a few million (cell, weight) rows even at
planet scale) — so a faithful sequential implementation on the driver is
the right Spark design: the data-scale work (histogram, routing, shuffle)
stays in DataFrames, only the greedy grouping algorithm (which is
inherently sequential and must match the reference exactly) is local.

Weight of a block = nodes + 8*ways + 20*relations
(src/elements/primitive_block.rs:134-136); default target = 40000, minimum
= target/2 (utils/src/commands/sortblocks.rs:30-31, run_sortblocks.rs:78-91).
"""

from __future__ import annotations

import numpy as np

from ..functions import qt_numpy as qtn

NULL = 0xFFFFFFFF  # u32::MAX sentinel for parent/children pointers


class QuadtreeTree:
    """Prefix tree over cells with per-item weight (exact count) and total
    (subtree count).  Mirrors quadtreetree.rs:60-215.

    Children are stored in one flat list (`ch[4*i + quadrant]`) so the
    whole structure can be built vectorized from a histogram (numpy ->
    tolist) — structure, not insertion order, determines grouping results,
    because traversal always walks children in quadrant order.
    """

    __slots__ = ("qt", "parent", "weight", "total", "ch", "count")

    def __init__(self):
        self.qt = [0]
        self.parent = [NULL]
        self.weight = [0]
        self.total = [0]
        self.ch = [NULL, NULL, NULL, NULL]
        self.count = 0

    def __len__(self):
        return len(self.qt)

    def total_weight(self) -> int:
        return self.total[0]

    def children_of(self, ti: int):
        return self.ch[4 * ti : 4 * ti + 4]

    def add(self, qt: int, w: int) -> int:
        """quadtreetree.rs:178-209; returns item index of the leaf."""
        if qt < 0:
            raise ValueError("can't add neg qt")
        ti = 0
        d = qt & 31
        for i in range(d):
            self.total[ti] += w
            v = (qt >> (61 - 2 * i)) & 3
            if self.ch[4 * ti + v] == NULL:
                n = len(self.qt)
                self.qt.append(_round(qt, i + 1))
                self.parent.append(ti)
                self.weight.append(0)
                self.total.append(0)
                self.ch.extend((NULL, NULL, NULL, NULL))
                self.ch[4 * ti + v] = n
            ti = self.ch[4 * ti + v]
        if w > 0 and self.weight[ti] == 0:
            self.count += 1
        self.weight[ti] += w
        self.total[ti] += w
        return ti

    def find_int(self, qt: int) -> int:
        """Deepest existing item on the path of `qt` (quadtreetree.rs:110-126).

        Generalized to path-compressed trees (build_tree_from_histogram):
        a child pointer may skip levels, so continue only while the child
        is an ancestor-or-self of `qt`.  On a full (add-built) tree this
        walk is step-for-step the reference's."""
        i = 0
        dq = qt & 31
        while True:
            di = self.qt[i] & 31
            if di >= dq:
                return i
            v = (qt >> (61 - 2 * di)) & 3
            c = self.ch[4 * i + v]
            if c == NULL:
                return i
            cq = self.qt[c]
            dc = cq & 31
            if dc <= dq:
                shift = 63 - 2 * dc
                if ((qt >> shift) << shift) + dc == cq:
                    i = c
                    continue
            return i

    def find(self, qt: int) -> int:
        """Deepest weighted (group) ancestor, else root (quadtreetree.rs:128-142)."""
        i = self.find_int(qt)
        while True:
            if self.weight[i] > 0:
                return i
            if self.parent[i] == NULL:
                return i
            i = self.parent[i]

    def remove(self, qt: int) -> int:
        """Detach the subtree at `qt`, subtracting its total from all
        ancestors; returns the removed total (quadtreetree.rs:144-176)."""
        i = self.find_int(qt)
        w = self.total[i]
        self.weight[i] = 0
        self.total[i] = 0
        self.ch[4 * i : 4 * i + 4] = (NULL, NULL, NULL, NULL)
        if self.parent[i] != NULL:
            tp = self.parent[i]
            for j in range(4):
                if self.ch[4 * tp + j] == i:
                    self.ch[4 * tp + j] = NULL
            self.total[tp] -= w
            while self.parent[tp] != NULL:
                tp = self.parent[tp]
                self.total[tp] -= w
        return w

    # -- preorder traversal (quadtreetree.rs:241-274) --
    def next_item(self, ti: int, li: int = 0) -> int:
        base = 4 * ti
        for i in range(li, 4):
            c = self.ch[base + i]
            if c != NULL:
                return c
        return self.next_sibling(ti)

    def next_sibling(self, ti: int) -> int:
        p = self.parent[ti]
        if p == NULL:
            return NULL
        ni = None
        for i in range(4):
            if self.ch[4 * p + i] == ti:
                ni = i + 1
                break
        if ni is None:
            raise AssertionError("should have found child")
        if ni == 4:
            return self.next_sibling(p)
        return self.next_item(p, ni)

    def leaves(self):
        """(cell, weight) for every weighted item, in preorder."""
        out = []
        i = 0
        while i != NULL:
            if self.weight[i] > 0:
                out.append((self.qt[i], self.weight[i]))
            i = self.next_item(i, 0)
        return out


def _round(qt: int, level: int) -> int:
    if (qt & 31) <= level:
        return qt
    q = qt >> (63 - 2 * level)
    q <<= 63 - 2 * level
    return q + level


def find_tree_groups(
    tree: QuadtreeTree, target: int, absmintarget: int, max_sweeps: int = 2_000_000
) -> QuadtreeTree:
    """Vectorized reference walk (tests/tiles_walk.py) — identical groups,
    numpy sweeps.

    The walk port spends its time in Python pointer chasing
    (next_item/next_sibling: ~4.6M calls, ~5s on a 120M-image histogram),
    which sits on the driver-side critical path of the tiling pipeline and
    is the Amdahl floor of the N->4N scaling evidence.  This version keeps
    the reference semantics (quadtreetree.rs:357-397) exactly but computes
    each sweep with array ops:

    - Only nodes with total >= min(target-50, absmintarget) can ever be
      accepted (mintarget never drops below that floor and totals only
      decrease), so the working set is compacted to those "candidates"
      (~14k of ~306k items on the 120M histogram).  Ancestors of a
      candidate are candidates (subtree totals are monotone up the tree),
      so ancestor blocking stays inside the compact set.
    - One sweep of find_within accepts exactly the nodes q with
      qualify(q) and no proper ancestor a with (qualify(a) or
      total[a] < mintarget), where qualify = total >= mintarget and
      weight > 0 and (total <= maxtarget or total == weight or all alive
      children have total <= absmintarget): preorder reaches ancestors
      first, accepts-and-skips or prunes-and-skips whole subtrees.
      Ancestor blocking is a per-depth boolean gather (parents are
      strictly shallower).  Non-candidate children can never violate
      all_children_small (their totals sit below the floor), so the
      per-node max alive-child total is one maximum.at over candidates.
    - An empty sweep only relaxes the window (mintarget = max(absmin,
      mintarget-50), maxtarget += 50) and the accepted set is empty iff
      the qualify set is empty (the shallowest qualifying node on any
      path is never blocked: its ancestors hold total >= its total >=
      mintarget and do not qualify).  The minimal k >= 1 at which any
      node first qualifies is therefore closed-form per node, and runs of
      empty sweeps are jumped in one step (381 of 550 sweeps on the 120M
      histogram) with the sweep counter advanced by k, preserving the
      max_sweeps divergence guard of the walk port.
    - Batch removal: accepted nodes have no accepted ancestors (blocked),
      so their pre-removal totals are independent; subtraction propagates
      to ancestors via per-depth add.at and deadness to descendants via
      per-depth or-gather, exactly remove()'s effect.

    Unlike the walk port this does NOT mutate the input tree.
    """
    n = len(tree.qt)
    qt = np.asarray(tree.qt, dtype=np.int64)
    parent = np.asarray(tree.parent, dtype=np.uint64).astype(np.int64)
    weight = np.asarray(tree.weight, dtype=np.int64)
    total = np.asarray(tree.total, dtype=np.int64)
    total_weight = int(total[0]) if n else 0

    mintarget = target - 50
    maxtarget = target + 50
    floor = min(mintarget, absmintarget)
    BIG = np.int64(2**62)

    cand = total >= max(floor, 1)
    cand[0] = True  # root always present (find_within's under-target path)
    idx = np.where(cand)[0]
    C = idx.size
    pos = np.full(n, -1, np.int64)
    pos[idx] = np.arange(C)
    cqt = qt[idx]
    ct = total[idx].copy()
    cw = weight[idx]
    par_raw = parent[idx]
    cpar = np.where(par_raw == NULL, -1, pos[np.where(par_raw == NULL, 0, par_raw)])
    cd = (cqt & 31).astype(np.int64)
    maxd = int(cd.max()) if C else 0
    by_depth = [np.where(cd == k)[0] for k in range(maxd + 1)]
    alive = np.ones(C, bool)

    all_groups: list[tuple[int, int]] = []
    sweeps = 0
    while total_weight > 0:
        sweeps += 1
        if sweeps > max_sweeps:
            raise RuntimeError(
                f"find_tree_groups diverging: {sweeps} sweeps, "
                f"{total_weight} weight left, window "
                f"[{mintarget},{maxtarget}] — histogram likely has no "
                f"weighted interior cells near the target scale"
            )
        if total_weight < mintarget:
            all_groups.append((0, total_weight))
            break

        # max alive candidate-child total per node (all_children_small)
        mc = np.zeros(C, np.int64)
        live_nonroot = np.where(alive & (cpar >= 0))[0]
        np.maximum.at(mc, cpar[live_nonroot], ct[live_nonroot])

        q = (
            alive
            & (ct >= mintarget)
            & (cw > 0)
            & ((ct <= maxtarget) | (ct == cw) | (mc <= absmintarget))
        )
        if not q.any():
            # jump the empty-relaxation run: minimal k >= 1 with a qualifier
            ceil_min = (mintarget - ct + 49) // 50
            k1 = np.where(ct >= absmintarget, np.maximum(ceil_min, 0), BIG)
            kacc = np.where(
                (ct == cw) | (mc <= absmintarget),
                0,
                (np.maximum(ct - maxtarget, 0) + 49) // 50,
            )
            k_node = np.maximum(k1, kacc)
            k_node = np.where(alive & (cw > 0), k_node, BIG)
            kmin = int(k_node.min()) if C else int(BIG)
            if kmin >= int(BIG):
                raise RuntimeError(
                    f"find_tree_groups diverging: {sweeps} sweeps, "
                    f"{total_weight} weight left, window "
                    f"[{mintarget},{maxtarget}] — histogram likely has no "
                    f"weighted interior cells near the target scale"
                )
            k = max(kmin, 1)
            sweeps += k - 1
            if sweeps > max_sweeps:
                raise RuntimeError(
                    f"find_tree_groups diverging: {sweeps} sweeps, "
                    f"{total_weight} weight left, window "
                    f"[{mintarget},{maxtarget}] — histogram likely has no "
                    f"weighted interior cells near the target scale"
                )
            mintarget = max(absmintarget, mintarget - 50 * k)
            maxtarget += 50 * k
            continue

        # ancestor blocking: preorder prunes subtrees under accepted or
        # under-mintarget nodes before their descendants are visited
        skipq = q | (ct < mintarget)
        blk = np.zeros(C, bool)
        for k in range(1, maxd + 1):
            s = by_depth[k]
            if s.size:
                p = cpar[s]
                blk[s] = blk[p] | skipq[p]
        acc = np.where(q & ~blk)[0]

        gw = ct[acc]
        all_groups.extend(zip(cqt[acc].tolist(), gw.tolist()))
        total_weight -= int(gw.sum())

        # subtract removed subtree totals from ancestors (remove())
        carry = np.zeros(C, np.int64)
        carry[acc] = gw
        for k in range(maxd, 0, -1):
            s = by_depth[k]
            if s.size:
                nz = s[carry[s] != 0]
                if nz.size:
                    np.add.at(carry, cpar[nz], carry[nz])
        ct -= carry
        # deadness: accepted nodes and all their descendants
        dead = np.zeros(C, bool)
        dead[acc] = True
        for k in range(1, maxd + 1):
            s = by_depth[k]
            if s.size:
                dead[s] |= dead[cpar[s]]
        alive &= ~dead

    res = QuadtreeTree()
    all_groups.sort()
    for a, b in all_groups:
        if b >= NULL:
            raise ValueError(f"can't add {a} with weight {b}")
        res.add(a, b)
    return res


# ---------------------------------------------------------------------------
# Spark-facing helpers
# ---------------------------------------------------------------------------

def build_tree_from_histogram(cells, weights) -> QuadtreeTree:
    """Build the QuadtreeTree from a collected (cell, weight) histogram,
    fully vectorized (a planet histogram is ~1M cells -> ~5M tree items;
    item-at-a-time insertion is minutes in Python, this is <1s).

    The reference rounds each element cell to the graph level (17) before
    counting (src/sortblocks/prepgraph.rs:53-101); callers should already
    have done that in Spark (plans/pipeline.cell_histogram) and collected
    the (small) result.  The produced structure is identical to sequential
    `add` in ascending cell order (the BTreeMap walk of the reference):
    grouping results depend only on structure, and traversal always visits
    children in quadrant order.
    """
    cells_arr = np.asarray(cells, dtype=np.int64)
    w_arr = np.asarray(weights, dtype=np.int64)
    keep = cells_arr >= 0
    cells_arr, w_arr = cells_arr[keep], w_arr[keep]
    uc, inv = np.unique(cells_arr, return_inverse=True)
    uw = np.zeros(uc.size, np.int64)
    np.add.at(uw, inv, w_arr)

    # Path-compressed item set: root + cells + LCAs of sorted-adjacent
    # cells (the branching closure).  Chain items with exactly one child
    # are pure pass-throughs in find_within (weight 0, same total), so the
    # grouping result is identical to the full prefix tree at ~1/5 the
    # memory traffic.
    if uc.size >= 2:
        lca_adj = qtn.common(uc[:-1], uc[1:])
    else:
        lca_adj = np.empty(0, np.int64)
    allq = np.unique(np.concatenate([np.zeros(1, np.int64), uc, lca_adj]))
    n = allq.size
    d = (allq & 31).astype(np.int64)

    # In sorted (preorder) closure order, the parent of x is common(x,
    # predecessor): the predecessor is either the parent itself or the
    # last node of the preceding sibling subtree.
    parent_q = np.zeros(n, np.int64)
    if n > 1:
        parent_q[1:] = qtn.common(allq[1:], allq[:-1])
    parent_idx = np.searchsorted(allq, parent_q)
    pd = (parent_q & 31).astype(np.int64)
    quad = (allq >> (61 - 2 * pd)) & 3

    ch = np.full(4 * n, NULL, dtype=np.int64)
    nonroot = np.where(d > 0)[0]
    ch[4 * parent_idx[nonroot] + quad[nonroot]] = nonroot

    weight = np.zeros(n, np.int64)
    weight[np.searchsorted(allq, uc)] = uw
    total = weight.copy()
    # reverse-topological accumulation: parents are strictly shallower,
    # so per-depth passes from deep to shallow are safe
    for k in range(20, 0, -1):
        sel = np.where(d == k)[0]
        if sel.size:
            np.add.at(total, parent_idx[sel], total[sel])

    # keep numpy arrays: the class's scalar accessors work on either lists
    # or 1-D arrays, and find_within's mintarget pruning keeps Python-level
    # traversal to a tiny fraction of the items
    tree = QuadtreeTree()
    tree.qt = allq
    tree.parent = np.where(d > 0, parent_idx, NULL)
    tree.weight = weight
    tree.total = total
    tree.ch = ch
    tree.count = int((weight > 0).sum())
    return tree


def group_lookup_arrays(groups: QuadtreeTree) -> np.ndarray:
    """Group cells sorted ascending — the tile ordering the reference's
    writer produces after `all.sort()` (quadtreetree.rs:389-396)."""
    return np.array(sorted(c for c, _ in groups.leaves()), dtype=np.int64)


def route_cells(element_cells: np.ndarray, group_cells: np.ndarray) -> np.ndarray:
    """Vectorized `QuadtreeTree::find`: deepest group ancestor of each
    element cell; cells with no group ancestor route to 0 (root).

    group_cells must be sorted ascending.  Implementation: try each depth
    from deepest group depth downward, matching `qt_round(cell, d)` against
    the group set (hash lookups on metadata-scale arrays inside one numpy
    batch — this is the broadcast side of a map-side join).
    """
    element_cells = np.asarray(element_cells, dtype=np.int64)
    out = np.zeros(element_cells.shape, dtype=np.int64)
    matched = np.zeros(element_cells.shape, dtype=bool)
    if group_cells.size == 0:
        return out
    depths = np.unique(group_cells & 31)[::-1]  # deepest first
    import pandas as pd

    group_set = pd.Series(
        np.arange(group_cells.size, dtype=np.int64), index=group_cells
    )
    for d in depths:
        cand = qtn.qt_round(element_cells, int(d))
        # only cells at least this deep can have an ancestor at depth d;
        # qt_round returns identity for shallower cells which is fine (a
        # group equal to the cell itself is a valid ancestor-or-self).
        hit = pd.Index(cand[~matched]).isin(group_set.index)
        idx = np.where(~matched)[0][hit]
        out[idx] = cand[idx]
        matched[idx] = True
    return out
