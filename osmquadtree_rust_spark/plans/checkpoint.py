"""Checkpointed, resumable tile materialization with lineage + metrics.

BASELINE.json requires the pipeline to be "checkpointed per snapshot so
any partition can resume, with per-partition lineage records and
row-count/byte metrics emitted to a metrics table".  On a cluster this is
Iceberg (snapshot commits + manifests); this container ships no Iceberg
runtime, so the same contract is implemented on plain parquet:

    base/
      snapshot=<id>/batch=<b>/tile=<t>/part-*.parquet  + _SUCCESS per batch
      snapshot=<id>/_schema.json   (read schema, saved once all batches commit)
      _metrics/snapshot=<id>/...   (tile, rows, bytes, batch)
      _lineage/snapshot=<id>.json  (per-batch lineage records)

The unit of resume is a *batch* of tiles (tile % n_batches): a batch
directory with Spark's _SUCCESS marker is complete and is skipped on
re-run, so a killed job resumes from the first incomplete batch and
produces the same data (verified by tests/test_checkpoint.py).
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def _batch_dir(base: str, snapshot: str, b: int) -> str:
    return f"{base}/snapshot={snapshot}/batch={b}"


def write_tiles_checkpointed(
    df: DataFrame,
    base: str,
    snapshot: str,
    tile_col: str = "tile",
    sort_cols: tuple[str, ...] = ("id",),
    n_batches: int = 8,
    fail_after_batch: int | None = None,
) -> list[dict]:
    """Write `df` partitioned by tile in `n_batches` resumable units.

    Returns the lineage records written.  `fail_after_batch` simulates a
    mid-job failure (testing hook): the job stops after that many batches
    complete.
    """
    spark = df.sparkSession
    lineage: list[dict] = []
    todo = [
        b
        for b in range(n_batches)
        if not os.path.exists(os.path.join(_batch_dir(base, snapshot, b), "_SUCCESS"))
    ]
    if not todo:
        # a prior run that crashed (or stopped via fail_after_batch) after
        # its last batch commit never reached the staging cleanup; with
        # nothing left to stage, drop the stale full copy now
        import shutil

        shutil.rmtree(f"{base}/snapshot={snapshot}/_staging", ignore_errors=True)
    if todo:
        # ONE scan + ONE shuffle for all outstanding batches (the previous
        # per-batch filter loop rescanned the full input n_batches times):
        # stage everything partitioned by (__batch, tile), then commit each
        # batch directory separately by rename + per-batch _SUCCESS marker,
        # preserving batch-granular resume for later runs.
        t0 = time.time()
        staging = f"{base}/snapshot={snapshot}/_staging"
        staged = df.withColumn(
            "__batch", F.pmod(F.col(tile_col), F.lit(n_batches))
        ).filter(F.col("__batch").isin(todo))
        (
            staged.repartition(F.col(tile_col))
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .partitionBy("__batch", tile_col)
            .parquet(staging)
        )
        stage_sec = round(time.time() - t0, 3)
        import shutil

        for b in todo:
            src = f"{staging}/__batch={b}"
            out = _batch_dir(base, snapshot, b)
            if os.path.exists(out):
                shutil.rmtree(out)  # partial leftovers from a crashed run
            if os.path.exists(src):
                os.replace(src, out)
            else:
                os.makedirs(out, exist_ok=True)  # batch had no rows
            with open(os.path.join(out, "_SUCCESS"), "w"):
                pass
            rec = {
                "snapshot": snapshot,
                "batch": b,
                "n_batches": n_batches,
                # batches now stage in ONE shared scan: record the total
                # once and an amortized per-batch share so summing
                # wall_sec across records stays meaningful
                "wall_sec": round(stage_sec / len(todo), 3),
                "stage_wall_sec": stage_sec,
                "staged_batches": len(todo),
                "committed_at": "driver-clock",
            }
            lineage.append(rec)
            _append_lineage(base, snapshot, rec)  # crash-safe: commit per batch
            if fail_after_batch is not None and len(lineage) > fail_after_batch:
                return lineage
        shutil.rmtree(staging, ignore_errors=True)

    # metrics table: per-tile rows + bytes, from the committed files.  The
    # schema inferred for this re-read is saved for read_snapshot, so later
    # reads skip the inference job
    snap_dir = f"{base}/snapshot={snapshot}"
    files = glob.glob(f"{snap_dir}/batch=*/{tile_col}=*/*.parquet")
    if files:
        committed = spark.read.option("basePath", snap_dir).parquet(f"{snap_dir}/batch=*")
    else:
        # nothing to infer from: the input frame's columns, with the
        # partition columns last as a read of a non-empty snapshot has them
        fields = [f for f in df.schema.fields if f.name != tile_col] + [
            StructField("batch", IntegerType()),
            df.schema[tile_col],
        ]
        committed = spark.createDataFrame(
            [], StructType([StructField(f.name, f.dataType, True) for f in fields])
        )
    _write_json_atomic(f"{snap_dir}/_schema.json", committed.schema.jsonValue())
    rows = committed.groupBy(tile_col).agg(F.count("*").alias("rows"))
    sizes = {}
    for f in files:
        t = int(f.split(f"{tile_col}=")[1].split("/")[0])
        sizes[t] = sizes.get(t, 0) + os.path.getsize(f)
    size_df = spark.createDataFrame(
        [(int(t), int(sz)) for t, sz in sizes.items()], f"{tile_col} long, bytes long"
    )
    metrics = rows.join(size_df, tile_col, "left")
    metrics.write.mode("overwrite").parquet(f"{base}/_metrics/snapshot={snapshot}")

    return lineage


def _write_json_atomic(path: str, obj) -> None:
    """Replace `path` with `obj` as JSON in one rename: a crash mid-write
    leaves the previous file whole."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1)
    os.replace(tmp, path)


def _append_lineage(base: str, snapshot: str, rec: dict) -> None:
    os.makedirs(f"{base}/_lineage", exist_ok=True)
    lpath = f"{base}/_lineage/snapshot={snapshot}.json"
    prior = []
    if os.path.exists(lpath):
        with open(lpath) as fh:
            prior = json.load(fh)
    _write_json_atomic(lpath, prior + [rec])


def read_snapshot(spark, base: str, snapshot: str) -> DataFrame:
    """One snapshot's rows.  The schema saved at commit is used when
    present; a snapshot whose write never finished has none, and its
    schema is inferred from the files."""
    from .. import fsio

    snap_dir = f"{base}/snapshot={snapshot}"
    reader = spark.read.option("basePath", snap_dir)
    schema_path = f"{snap_dir}/_schema.json"
    if fsio.exists_any(schema_path):
        schema = json.loads(fsio.read_text_any(schema_path))
        reader = reader.schema(StructType.fromJson(schema))
    df = reader.parquet(f"{snap_dir}/batch=*")
    # `batch` is the resume unit of the writer — a storage-layout
    # artifact, not data; surfacing it would make schemas depend on
    # n_batches
    return df.drop("batch")


# ---------------------------------------------------------------------------
# id-range index / file skipping (reference src/update/indexblock.rs:
# write_index_file 121-164 records per-tile id min/max; check_index_file
# 166-253 prunes tiles whose range misses the wanted id set before the
# expensive read + semi-join of an update run)
# ---------------------------------------------------------------------------

def write_id_index(
    spark, base: str, snapshot: str, tile_col: str = "tile", id_col: str = "id"
) -> None:
    """Materialize the explicit per-tile (min_id, max_id, rows) manifest —
    metadata-scale (one row per tile)."""
    df = read_snapshot(spark, base, snapshot)
    idx = df.groupBy(tile_col).agg(
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
        F.count("*").alias("rows"),
    )
    idx.coalesce(1).write.mode("overwrite").parquet(
        f"{base}/_idindex/snapshot={snapshot}"
    )


def prune_tiles_by_ids(
    spark, base: str, snapshot: str, ids: DataFrame, id_col: str = "id"
) -> list[int]:
    """Tiles whose [min_id, max_id] range contains at least one wanted id.

    The (possibly huge) id frame is range-joined against the BROADCAST
    metadata-scale index — never the other way around — and only the
    surviving tile numbers (metadata-scale) come back to the driver."""
    idx = spark.read.parquet(f"{base}/_idindex/snapshot={snapshot}")
    hit = (
        ids.select(F.col(id_col).alias("__id"))
        .join(
            F.broadcast(idx),
            (F.col("__id") >= F.col("min_id")) & (F.col("__id") <= F.col("max_id")),
        )
        .select("tile")
        .distinct()
    )
    return sorted(int(r.tile) for r in hit.collect())


def read_snapshot_for_ids(
    spark, base: str, snapshot: str, ids: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Read only the tile partitions that can contain the wanted ids, then
    semi-join: the reference's check_index_file fast path for updates."""
    tiles = prune_tiles_by_ids(spark, base, snapshot, ids, id_col)
    pruned = read_snapshot(spark, base, snapshot).filter(
        F.col("tile").isin(tiles)
    )
    return pruned.join(
        ids.select(F.col(id_col).alias("id")).distinct(), "id", "left_semi"
    )


# ---------------------------------------------------------------------------
# filelist / snapshot-as-of (reference filelist.rs)
# ---------------------------------------------------------------------------

def append_filelist(
    base: str, snapshot: str, timestamp: int, kind: str = "change"
) -> None:
    """Append a snapshot entry to the store's filelist — the analog of the
    reference's write_filelist (filelist.rs:40-44): an ordered log of
    (snapshot, timestamp, base|change)."""
    os.makedirs(base, exist_ok=True)
    lpath = f"{base}/_filelist.json"
    prior = []
    if os.path.exists(lpath):
        with open(lpath) as fh:
            prior = json.load(fh)
    prior.append({"snapshot": snapshot, "timestamp": int(timestamp), "kind": kind})
    _write_json_atomic(lpath, prior)  # the commit point of a snapshot


def read_filelist(base: str) -> list[dict]:
    from .. import fsio

    lpath = f"{base}/_filelist.json"
    if not fsio.exists_any(lpath):
        return []
    return json.loads(fsio.read_text_any(lpath))


def read_snapshot_as_of(
    spark,
    base: str,
    ts: int,
    tiles=None,
    tile_col: str = "tile",
    keys: tuple[str, ...] = ("id",),
) -> DataFrame:
    """Assemble current content as of timestamp `ts`: the base snapshot
    plus every change snapshot with timestamp <= ts, folded latest-wins
    with Delete/Remove tombstones dropped.

    `keys` is the merge identity.  For a store whose elements can MOVE
    tiles between snapshots, pass keys=(tile_col, "id"): a move emits the
    new row in the new tile plus a Remove tombstone in the old tile
    (update decision table, find_update.rs:552-560), and only a per-
    (tile, id) fold lets the tombstone kill the old-tile copy while the
    new-tile row survives — exactly how the reference merges per tile.
    A global per-id fold would see two same-snapshot rows for the id and
    pick one arbitrarily.

    This is the reference's get_file_locs timestamp cut
    (filelist.rs:101-219; check_entry_depth filelist.rs:110-115 enforces
    entry.timestamp <= requested) combined with its per-tile pruning:
    `tiles` (e.g. from operators.filter.classify_tiles over a bbox/poly)
    becomes a partition filter on the tile directory column, so pruned
    tiles are never read from storage."""
    from ..operators import merge as M

    entries = sorted(read_filelist(base), key=lambda e: e["timestamp"])
    sel = [e for e in entries if e["timestamp"] <= int(ts)]
    if not sel:
        raise ValueError(f"no snapshots at or before timestamp {ts}")
    frames = []
    for e in sel:
        df = read_snapshot(spark, base, e["snapshot"])
        if tiles is not None:
            df = df.filter(F.col(tile_col).isin([int(t) for t in tiles]))
        frames.append(df)
    return M.merge_changes(frames[0], frames[1:], keys=keys)


def read_changes_between(
    spark,
    base: str,
    ts_lo: int,
    ts_hi: int,
    tiles=None,
    tile_col: str = "tile",
    keys: tuple[str, ...] = ("id",),
) -> DataFrame:
    """Incremental scan: the NET change between two as-of timestamps —
    the Iceberg incremental-read analog over this store's filelist log.

    Reads ONLY snapshots with ts_lo < timestamp <= ts_hi (never the base
    world), folds them latest-wins per key, and KEEPS Delete/Remove rows
    as tombstones: a consumer holding the ts_lo world applies the result
    with merge.apply_changes and lands exactly on the ts_hi world
    (tests/test_checkpoint.py pins that invariant).  The fold is
    order-equivalent to replaying the window's snapshots one by one
    because only the newest version of a key survives either way.

    Scale shape: one partition-pruned scan per window snapshot + one
    keyed shuffle for the fold; the base snapshot — almost all of the
    data — is never touched, which is the entire point of an incremental
    read at 100 TB."""
    from ..operators import merge as M

    entries = sorted(read_filelist(base), key=lambda e: e["timestamp"])
    if not entries:
        raise ValueError(f"no filelist at {base}")
    if entries[0]["timestamp"] > int(ts_lo):
        # the log no longer reaches back to ts_lo (history was squashed
        # past it): a consumer holding world(lo) cannot be brought to
        # world(hi) by ANY delta this log can produce — an empty or
        # partial answer here would silently violate the apply contract
        raise ValueError(
            f"log starts at {entries[0]['timestamp']} > ts_lo={ts_lo} "
            f"(history squashed past the consumer's snapshot); "
            f"re-baseline with read_snapshot_as_of"
        )
    sel = [e for e in entries if int(ts_lo) < e["timestamp"] <= int(ts_hi)]
    bases = [e for e in sel if e.get("kind") == "base"]
    if bases:
        # a base entry inside the window means history up to that point
        # was squashed: the squashed snapshot is a full world with
        # tombstones resolved, NOT a delta — returning it would silently
        # violate apply(world(lo), delta) == world(hi) (resurrected
        # deletes).  The caller's lo predates the squash point; they must
        # re-baseline from an as-of read instead.
        raise ValueError(
            f"window ({ts_lo}, {ts_hi}] crosses base snapshot(s) "
            f"{[e['snapshot'] for e in bases]} (history squashed); "
            f"re-baseline with read_snapshot_as_of"
        )
    if not sel:
        # legitimate empty window: 0 rows with the store's schema
        return read_snapshot(spark, base, entries[0]["snapshot"]).limit(0)
    frames = []
    for e in sel:
        df = read_snapshot(spark, base, e["snapshot"])
        if tiles is not None:
            df = df.filter(F.col(tile_col).isin([int(t) for t in tiles]))
        frames.append(df)
    return M.combine_snapshots(frames, keys=keys)


def squash_snapshots(
    spark,
    base: str,
    ts: int,
    new_snapshot: str,
    keys: tuple[str, ...] = ("id",),
    tile_col: str = "tile",
    sort_cols: tuple[str, ...] = ("id",),
    n_batches: int = 8,
) -> list[dict]:
    """Materialize the as-of-`ts` world as a NEW base snapshot and rewrite
    the filelist so every entry at or before `ts` is replaced by it.

    This is the reference's mergechanges-to-new-base workflow (writetemp
    global re-sort feeding a fresh planet file) recast as the Iceberg
    snapshot-expiry analog: history up to `ts` collapses into one compact
    base (tombstones resolved, changetype reset, one sorted file set per
    tile — small change files disappear, so this doubles as the store's
    compaction), while change snapshots after `ts` keep applying on top
    unchanged.  Old snapshot directories stay on disk until `vacuum` —
    the filelist rewrite is the commit point, so a reader holding the old
    log still resolves every path it can see."""
    entries = read_filelist(base)
    if any(e["snapshot"] == new_snapshot for e in entries):
        raise ValueError(f"snapshot id {new_snapshot} already in filelist")
    world = read_snapshot_as_of(spark, base, ts, keys=keys)
    lineage = write_tiles_checkpointed(
        world,
        base,
        new_snapshot,
        tile_col=tile_col,
        sort_cols=sort_cols,
        n_batches=n_batches,
    )
    kept = [e for e in entries if e["timestamp"] > int(ts)]
    new_log = [
        {"snapshot": new_snapshot, "timestamp": int(ts), "kind": "base"}
    ] + sorted(kept, key=lambda e: e["timestamp"])
    _write_json_atomic(f"{base}/_filelist.json", new_log)  # the commit point
    return lineage


def vacuum(base: str, grace_seconds: float = 3600.0) -> list[str]:
    """Delete snapshot data (and its metrics/lineage/id-index) no longer
    referenced by the filelist — the expire-snapshots cleanup that makes
    `squash_snapshots` actually reclaim space.  Returns the removed
    snapshot ids.

    `grace_seconds` protects in-flight commits: a writer may have
    finished write_tiles_checkpointed but not yet reached
    append_filelist, so unreferenced directories modified within the
    grace window are left alone (the same reason Iceberg's
    remove-orphan-files defaults to a multi-day horizon).  Pass 0 only
    when no writer can be active.

    Listings and deletes go through the Hadoop FileSystem API (fsio), so
    `base` may be a cluster URI (hdfs://, s3a://, file://) — an active
    SparkSession resolves the scheme; plain local paths need none.
    Filelist WRITES (append/squash) remain local-path in this build."""
    from .. import fsio

    live = {e["snapshot"] for e in read_filelist(base)}
    now = time.time()
    removed = []
    for ent in fsio.list_dir_any(base):
        if not ent["is_dir"] or not ent["name"].startswith("snapshot="):
            continue
        snap = ent["name"].split("=", 1)[1]
        if snap not in live and now - ent["mtime"] >= grace_seconds:
            fsio.rmtree_any(ent["path"])
            for aux in (
                f"{base}/_metrics/snapshot={snap}",
                f"{base}/_idindex/snapshot={snap}",
            ):
                fsio.rmtree_any(aux)
            fsio.remove_file_any(f"{base}/_lineage/snapshot={snap}.json")
            removed.append(snap)
    return sorted(removed)


def read_metrics(spark, base: str, snapshot: str) -> DataFrame:
    return spark.read.parquet(f"{base}/_metrics/snapshot={snapshot}")
