"""`serve`: extracts from a store that keeps changing.

Set-up builds the store (the bulk write path: encode, histogram, grouping,
route, checkpointed write) and warms every path once.  Then a fixed,
seeded schedule runs: reads at snapshot depth 0, a change batch, reads at
depth 1, another batch, reads at depth 2, then squash + vacuum.  Reads
fold a snapshot depth that grows with each batch and is reset by the
squash.

- read: classify_tiles -> read_snapshot_as_of(tiles, keys=(tile, id)) ->
  bbox (+ PIP for polygons) filter on boundary tiles -> one aggregate
  (count, sum(id), bit_xor(qt)).  Shapes: bbox of ~1, ~10 and ~40 degrees
  and a hexagon inside a ~10 degree box, centred on stored images.
- change batch (~1% of rows): in-place modify, modify that moves the
  footprint to another image's place, delete and create; re-encoded,
  decided by update_decision_table against the current as-of assignment,
  committed by write_tiles_checkpointed + append_filelist.

After each state of the store its reads are checked, untimed, against an
independent DuckDB latest-wins fold of the same snapshot files.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np

from . import harness as H
from . import store as S

SIZES = {"full": 100_000, "tiny": 10_000}
TILES = 45
# reads per store state in a cycle: the first at depth 0, then one more
# depth after each change batch, so a cycle commits len - 1 batches.
# The cadence is chosen to fit the run time, not taken from any trace.
READS_PER_DEPTH = (4, 4, 4)
SECONDS_PER_CYCLE = 20  # the schedule has max(1, --seconds // this) cycles
CHANGE_FRAC = 0.01
# share of a batch per kind: in-place modify, moving modify, delete,
# create.  Equal shares are an assumption, not measured from real changes.
MIX = (0.25, 0.25, 0.25, 0.25)
# (kind, half-size in 1e-7 degrees) of the read shapes, in schedule order
SHAPES = (("bbox", 5_000_000), ("bbox", 50_000_000), ("bbox", 200_000_000), ("poly", 50_000_000))


def hexagon(lon, lat, half):
    """Vertices (degrees) of a hexagon inscribed in the box of half-size
    `half` (1e-7 degrees) around (lon, lat)."""
    a = np.arange(6) * (np.pi / 3)
    vx = (lon + half * np.cos(a)) * 1e-7
    vy = (lat + half * np.sin(a)) * 1e-7
    return np.clip(vx, -179.9, 179.9), np.clip(vy, -89.9, 89.9)


def crossing_number(vx, vy, px, py):
    """Point-in-polygon by the even-odd crossing rule (W. R. Franklin)."""
    inside = np.zeros(px.shape, bool)
    j = len(vx) - 1
    for i in range(len(vx)):
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (vx[j] - vx[i]) * (py - vy[i]) / (vy[j] - vy[i]) + vx[i]
        inside ^= ((vy[i] > py) != (vy[j] > py)) & (px < xint)
        j = i
    return inside


class Store:
    """The serve workload's store and the benchmark's view of which ids are
    alive (the program decides their qt and tile)."""

    def __init__(self, spark, tr, run):
        self.spark, self.tr, self.run = spark, tr, run
        self.rng = np.random.default_rng(run.seed)
        self.n = SIZES[run.size]
        self.lo = S.id_offset(run.seed)
        self.base = os.path.join(run.workdir, "store")
        self.ts = 1
        self.next_id = self.lo + self.n
        self.batch_size = max(4, int(self.n * CHANGE_FRAC))
        self.alive = np.arange(self.lo, self.lo + self.n, dtype=np.int64)
        self.gk = {}  # id -> geometry key, for ids whose gk != id
        self.depth = 0
        self.n_commits = 0
        self.n_squash = 0
        self.pending = []  # reads of the current state, not yet checked
        self.con = duckdb.connect()

    def build(self):
        self.groups = S.build(self.spark, self.tr, self.base, self.lo, self.n, self.n // TILES)
        self.tiles = np.asarray(self.groups, dtype=np.int64)
        S.check_build(self.run, self.con, self.base, self.groups, self.lo, self.n)

    # -- reads ---------------------------------------------------------------
    def shape(self, k: int):
        """Seeded read shape k: (bbox, hexagon or None), centred on a live image."""
        from osmquadtree_rust_spark.sources.synth import synth_geo_exprs

        kind, half = SHAPES[k % len(SHAPES)]
        pick = int(self.alive[self.rng.integers(self.alive.size)])
        e = synth_geo_exprs("gk")
        lon, lat = self.con.execute(
            f"SELECT {e['lon']}, {e['lat']} FROM (SELECT ?::BIGINT AS gk)",
            [self.gk.get(pick, pick)],
        ).fetchone()
        bbox = (
            max(lon - half, -1800000000),
            max(lat - half, -900000000),
            min(lon + half, 1800000000),
            min(lat + half, 900000000),
        )
        poly = hexagon(lon, lat, half) if kind == "poly" else None
        return bbox, poly

    def read(self, k: int):
        from pyspark.sql import functions as F

        from osmquadtree_rust_spark.operators import filter as FL
        from osmquadtree_rust_spark.plans import checkpoint as C

        bbox, poly = self.shape(k)
        tr = self.tr
        with tr.span("read") as op:
            with tr.span("filter.classify") as sp:
                p = FL.Poly(*poly) if poly is not None else None
                interior, boundary = FL.classify_tiles(self.tiles, bbox, p)
            sp.info["tiles"] = len(interior) + len(boundary)
            tiles = [int(t) for t in np.concatenate([interior, boundary])]
            with tr.span("read.plan"):
                df = C.read_snapshot_as_of(
                    self.spark, self.base, self.ts, tiles=tiles, keys=("tile", "id")
                )
            pred = FL.bbox_contains_point(bbox)
            if p is not None:
                pred = pred & FL.make_pip_udf(p)(F.col("lon"), F.col("lat"))
            keep = F.col("tile").isin([int(t) for t in interior]) | pred
            with tr.span("read.exec", jobs=True) as sp:
                row = (
                    df.filter(keep)
                    .agg(F.count("*"), F.sum("id"), F.bit_xor("qt"))
                    .collect()[0]
                )
        got = (int(row[0]), int(row[1] or 0), int(row[2] or 0))
        sp.info.update(depth=self.depth, rows=got[0])
        self.pending.append((bbox, poly, got))
        return op.dur

    def check_reads(self):
        """Check the reads of the current state against the DuckDB fold."""
        if not self.pending:
            return
        S.fold(self.con, self.base)
        for bbox, poly, got in self.pending:
            a, b, c, d = bbox
            rows = self.con.execute(
                "SELECT id, qt, lon, lat FROM world "
                "WHERE lon >= ? AND lat >= ? AND lon <= ? AND lat <= ?",
                [a, b, c, d],
            ).fetchnumpy()
            keep = np.ones(len(rows["id"]), bool)
            if poly is not None:
                keep = crossing_number(
                    poly[0], poly[1],
                    rows["lon"].astype(np.float64) * 1e-7,
                    rows["lat"].astype(np.float64) * 1e-7,
                )
            ids, qts = rows["id"][keep], rows["qt"][keep]
            want = (int(ids.size), int(ids.sum()), int(np.bitwise_xor.reduce(qts)) if qts.size else 0)
            self.run.check(got == want, f"read {bbox} poly={poly is not None}: {got} != {want}")
        self.pending = []

    # -- writes --------------------------------------------------------------
    def batch(self):
        """Next seeded change batch: (ids, gks, changetypes) as numpy."""
        from osmquadtree_rust_spark.operators.merge import CREATE, DELETE, MODIFY

        m = self.batch_size
        k_in, k_mv, k_del = (int(m * f) for f in MIX[:3])
        k_new = m - k_in - k_mv - k_del
        pick = self.rng.choice(self.alive.size, k_in + k_mv + k_del, replace=False)
        old = self.alive[pick]
        new = np.arange(self.next_id, self.next_id + k_new, dtype=np.int64)
        self.next_id += k_new
        donors = self.alive[self.rng.integers(self.alive.size, size=k_mv + k_new)]
        donors = np.array([self.gk.get(int(x), int(x)) for x in donors], np.int64)
        ids = np.concatenate([old, new])
        gks = np.concatenate([
            [self.gk.get(int(x), int(x)) for x in old[:k_in]],
            donors[:k_mv],
            old[k_in + k_mv:],
            donors[k_mv:],
        ]).astype(np.int64)
        cts = np.array([MODIFY] * (k_in + k_mv) + [DELETE] * k_del + [CREATE] * k_new, np.int32)
        # the benchmark's model: which ids live, and where they are
        self.alive = np.concatenate([np.delete(self.alive, pick[k_in + k_mv:]), new])
        for i, g in zip(ids[k_in:k_in + k_mv], gks[k_in:k_in + k_mv]):
            self.gk[int(i)] = int(g)
        for i in old[k_in + k_mv:]:
            self.gk.pop(int(i), None)
        for i, g in zip(new, gks[-k_new:] if k_new else []):
            self.gk[int(i)] = int(g)
        return ids, gks, cts

    def commit(self):
        import pandas as pd
        from pyspark.sql import functions as F

        from osmquadtree_rust_spark.operators.merge import DELETE, REMOVE
        from osmquadtree_rust_spark.plans import checkpoint as C
        from osmquadtree_rust_spark.plans import pipeline as P
        from osmquadtree_rust_spark.streaming import updates as U

        ids, gks, cts = self.batch()
        self.check_reads()
        tr = self.tr
        snap = f"c{self.n_commits}"
        with tr.span("commit", jobs=True) as op:
            changes = self.spark.createDataFrame(
                pd.DataFrame({"id": ids, "gk": gks, "changetype": cts})
            )
            live = changes.filter(F.col("changetype") != DELETE)
            enc = S.encode(S.footprints(live)).select("id", "qt", "lon", "lat")
            stored = (
                C.read_snapshot_as_of(self.spark, self.base, self.ts, keys=("tile", "id"))
                .join(changes.select("id"), "id", "left_semi")
                .select("id", F.col("qt").alias("qt_old"), F.col("tile").alias("alloc"))
            )
            route = P.make_route_udf(self.spark, self.groups)
            delta = U.update_decision_table(
                changes.select("id", "changetype"), stored, enc.select("id", "qt"), route
            ).join(enc.select("id", "lon", "lat"), "id", "left").select(
                "id", "qt", "lon", "lat", "changetype", "tile"
            )
            with tr.span("checkpoint.write"):
                C.write_tiles_checkpointed(delta, self.base, snap)
            self.ts += 1
            with tr.span("checkpoint.filelist"):
                C.append_filelist(self.base, snap, self.ts, "change")
        self.n_commits += 1
        self.depth += 1
        if tr.enabled:
            g = S.snapshot_glob(self.base, snap)
            n, tomb = self.con.execute(
                f"SELECT count(*), count(*) FILTER (WHERE changetype IN ({DELETE}, {REMOVE})) "
                f"FROM read_parquet('{g}')"
            ).fetchone()
            files, nbytes = H.tree_bytes(f"{self.base}/snapshot={snap}")
            op.info.update(changed=len(ids), delta=n, tombstones=tomb, files=files, bytes=nbytes)
        return op.dur

    def squash(self):
        from osmquadtree_rust_spark.plans import checkpoint as C

        self.check_reads()
        tr = self.tr
        snap = f"b{self.n_squash}"
        with tr.span("squash", jobs=True) as sq:
            C.squash_snapshots(self.spark, self.base, self.ts, snap, keys=("tile", "id"))
        with tr.span("vacuum") as vac:
            C.vacuum(self.base, grace_seconds=0)
        self.n_squash += 1
        self.depth = 0
        sq.info["bytes"] = H.tree_bytes(f"{self.base}/snapshot={snap}")[1]
        return sq.dur + vac.dur


def setup(spark, tr, run):
    st = Store(spark, tr, run)
    run.attempted += 1
    st.build()
    # untimed full-size warm-up of every path: one change batch, a read of
    # each shape at depth 1, then squash + vacuum back to depth 0
    run.attempted += 1
    st.commit()
    for k in range(len(SHAPES)):
        run.attempted += 1
        st.read(k)
    run.attempted += 1
    st.squash()
    return st


def measure(spark, tr, run, st):
    cycles = max(1, run.seconds // SECONDS_PER_CYCLE) + (1 if run.trace else 0)
    reads, commits, cycle_walls, traced_cycles = [], [], [], []
    k = 0
    for c in range(cycles):
        tr.enabled = run.trace and c % 2 == 1
        wall = 0.0
        for b, n_reads in enumerate(READS_PER_DEPTH):
            if b:
                tr.operation(f"commit-{c}-{b}")
                run.attempted += 1
                dur = st.commit()
                wall += dur
                if not tr.enabled:
                    commits.append(dur)
            for _ in range(n_reads):
                tr.operation(f"read-{k}")
                run.attempted += 1
                dur = st.read(k)
                wall += dur
                if not tr.enabled:
                    reads.append(dur)
                k += 1
        tr.operation(f"squash-{c}")
        run.attempted += 1
        wall += st.squash()
        (traced_cycles if tr.enabled else cycle_walls).append(wall)
    tr.enabled = False
    st.check_reads()
    rows = int(st.alive.size)
    run.e2e["pass_s"] = H.p50(cycle_walls)
    run.e2e["images_per_s"] = st.batch_size / H.p50(commits)
    run.e2e["op_p50_ms"] = 1000 * H.p50(reads)
    run.e2e["bytes_per_row"] = S.store_bytes(st.base) / rows
    run.report.update(
        read_p50_ms=1000 * H.p50(reads),
        read_p90_ms=1000 * H.p90(reads),
        commit_p50_ms=1000 * H.p50(commits),
        schedule_s=sum(cycle_walls),
        read_ms=[round(1000 * r) for r in reads],
        commit_ms=[round(1000 * c) for c in commits],
    )
    run.check(S.fold(st.con, st.base) == rows, "live rows of the store")
    if run.trace:
        _layers(tr, run, st, cycle_walls, traced_cycles)
        # the build layers, from one more (warm) build into a fresh store
        tr.enabled = True
        tr.operation("build")
        base = os.path.join(run.workdir, "store-traced")
        run.layer.update(S.build_layers(spark, tr, base, st.lo, st.n, st.n // TILES))
        tr.enabled = False
        shutil.rmtree(base, ignore_errors=True)


def _layers(tr, run, st, cycle_walls, traced_cycles):
    L = run.layer
    cls = tr.of("filter.classify")
    L["filter.classify_ms"] = 1000 * H.p50([s.dur for s in cls])
    L["filter.tile_frac"] = sum(s.info["tiles"] for s in cls) / (len(cls) * len(st.tiles))
    ex = tr.of("read.exec")
    scanned = H.sum_counters(ex, "inputRecords")
    L["filter.rows_scanned_per_row"] = scanned / max(1, sum(s.info["rows"] for s in ex))
    L["read.plan_ms"] = 1000 * H.p50([s.dur for s in tr.of("read.plan")])
    L["read.exec_ms"] = 1000 * H.p50([s.dur for s in ex])
    depths = [s.info["depth"] + 1 for s in ex]
    L["read.snapshots"] = sum(depths) / len(depths)
    L["read.ms_per_snapshot"] = 1000 * H.slope(depths, [s.dur for s in ex])
    com = tr.of("commit")
    changed = sum(s.info["changed"] for s in com)
    L["updates.delta_rows"] = H.p50([s.info["delta"] for s in com])
    L["updates.tombstones"] = H.p50([s.info["tombstones"] for s in com])
    L["updates.scan_rows_per_change"] = H.sum_counters(com, "inputRecords") / changed
    L["checkpoint.write_s"] = H.p50([s.dur for s in tr.of("checkpoint.write")])
    L["checkpoint.files"] = H.p50([s.info["files"] for s in com])
    L["checkpoint.bytes"] = H.p50([s.info["bytes"] for s in com])
    sq = tr.of("squash")
    L["squash.s"] = H.p50([s.dur for s in sq])
    L["squash.bytes_rewritten"] = H.p50([s.info["bytes"] for s in sq])
    L["vacuum.ms"] = 1000 * H.p50([s.dur for s in tr.of("vacuum")])
    L["trace.overhead_frac"] = H.p50(traced_cycles) / H.p50(cycle_walls) - 1
