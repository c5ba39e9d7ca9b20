"""Incremental (delta) near-dup against a persisted fingerprint index.

The daily-crawl shape: dedup a NEW snapshot against an existing corpus
WITHOUT rescanning the old corpus' documents — the same restricted-
recompute philosophy as the reference's update path (find_update.rs:
22-137 touches only affected ids instead of re-deriving the planet).

The persisted index stores winnowing fingerprints (operators/dedup.
winnow_fingerprints: ~1/window of the shingle count per doc), which make
BOTH candidate generation and verification possible index-only:
fingerprint-set Jaccard is the published MOSS similarity measure, so a
delta document is judged against an old document entirely from the two
fingerprint sets — base TEXT is never read.  Appending each delta's
surviving fingerprints as a new epoch keeps the index complete.

Stored-state discipline (r6, mirroring the reference's stored-qt-table
philosophy — find_update.rs harvests persisted state, it never
re-derives the planet): each epoch row carries `sz`, the document's
fingerprint count, written once when the epoch is appended.  Per-delta
work therefore never runs a window over the full index — sizes are READ,
not recomputed.  Without fp_df_cap the index contributes only its side
of the candidate equi-join; with fp_df_cap one aggregate-only scan
derives the (tiny) hot-fingerprint set, which is materialized and
joined back (strategy left to AQE) — still no index-wide sort/window.

At 100 TB the index is a few percent of the corpus (fingerprints are
(id, int64, int64) rows at ~1 per `window` words) and the per-delta cost
is delta-sized: one fingerprint projection over the delta + one
equi-join against the index — never a base re-scan, never a full-index
shuffle-sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def write_fp_index(
    fps: DataFrame,
    base: str,
    epoch: int,
    mode: str = "errorifexists",
    id_col: str = "doc_id",
) -> None:
    """Append one epoch of (doc_id, fp, sz) rows as a partition directory
    `base/epoch=<epoch>/` — readable back (with the epoch column) by
    read_fp_index.  `sz` is the document's fingerprint count in this
    epoch, stored so readers never re-window the index (the invariant:
    sz == the doc's row count in its epoch; a doc appears in exactly one
    epoch).  If `fps` already carries an `sz` column it is trusted
    (incremental_neardup returns survivor fingerprints with it);
    otherwise it is computed here — a window over the frame being
    written, i.e. delta-sized.  A non-default `id_col` is renamed to
    `doc_id` on write so the on-disk schema stays stable.  Uses the
    Hadoop-FS-backed parquet writer, so cluster URIs (hdfs://, s3a://)
    work like local paths.  mode='overwrite' makes an epoch write
    idempotent (the streaming wrapper's retry contract)."""
    out = fps.select(
        F.col(id_col).alias("doc_id"),
        "fp",
        *(["sz"] if "sz" in fps.columns else []),
    )
    if "sz" not in fps.columns:
        out = out.withColumn(
            "sz", F.count("*").over(Window.partitionBy("doc_id"))
        )
    out.select("doc_id", "fp", "sz").write.mode(mode).parquet(
        f"{base}/epoch={epoch}"
    )


def read_fp_index(spark, base: str) -> DataFrame:
    """All epochs of the fingerprint index: (doc_id, fp, sz, epoch).
    mergeSchema tolerates legacy (doc_id, fp)-only epochs — their rows
    read back with sz NULL; run upgrade_fp_index (or compact_fp_index,
    which recomputes sizes) once to migrate them, or let
    incremental_neardup's guarded read refuse them loudly."""
    return (
        spark.read.option("basePath", base)
        .option("mergeSchema", "true")
        .parquet(f"{base}/epoch=*")
    )


def upgrade_fp_index(spark, base: str) -> int:
    """One-time migration: rewrite every legacy (doc_id, fp) epoch with
    the sz column (window restricted to the legacy epochs — docs live in
    exactly one epoch, so per-epoch recompute is exact).  Returns the
    number of epochs rewritten.  Stage-then-swap per epoch: the rewrite
    lands in a fresh `epoch=<e>` overwrite, never a partial delete."""
    idx = read_fp_index(spark, base)
    if "sz" not in idx.columns:
        legacy = sorted(
            r["epoch"] for r in idx.select("epoch").distinct().collect()
        )
    else:
        legacy = sorted(
            r["epoch"]
            for r in idx.filter(F.col("sz").isNull())
            .select("epoch")
            .distinct()
            .collect()
        )
    for e in legacy:
        rows = idx.filter(F.col("epoch") == e).select("doc_id", "fp")
        # break lineage from the directory being overwritten
        staged = rows.localCheckpoint(eager=True)
        write_fp_index(staged, base, int(e), mode="overwrite")
        staged.unpersist()
    return len(legacy)


def _guard_sz(col):
    """Row guard INSIDE the projection (a separate assert_true filter
    knocks the scan out of whole-stage codegen — CLAUDE.md): NULL sz
    means a legacy epoch leaked into a stored-size path."""
    return F.when(
        col.isNull(),
        F.raise_error(
            F.lit(
                "fp index row with NULL sz: legacy (doc_id, fp) epoch — "
                "run upgrade_fp_index or compact_fp_index to migrate"
            )
        ).cast("long"),
    ).otherwise(col)


def _index_side(
    index_fps: DataFrame, id_col: str, fp_df_cap: int | None
) -> DataFrame:
    """The (b, fp, __szb) frame for the cross-epoch join, built WITHOUT
    any window over the full index.

    * stored-size path (index has `sz`): sizes are read.  With
      fp_df_cap, the hot-fingerprint set (df > cap) comes from ONE
      aggregate-only scan (map-side-combinable groupBy, no sort) and is
      materialized lineage-free (it is metadata-scale — fingerprints
      shared by > cap documents); per-doc removal counts adjust sz so
      capped sizes equal what recomputation would give.  Join strategy
      is AQE's call: `rem` is doc-count-sized when a boilerplate
      fingerprint appears in every document (the case the cap exists
      for), so it must never be force-broadcast.
    * legacy path (no `sz` column): the pre-r6 full-index windows —
      kept for callers passing ad-hoc (id, fp) frames; documented as
      NOT the 100 TB shape."""
    if "sz" in index_fps.columns:
        idx = index_fps.select(
            F.col(id_col), "fp", _guard_sz(F.col("sz")).alias("__sz")
        )
        if fp_df_cap is not None:
            if fp_df_cap < 1:
                raise ValueError(f"fp_df_cap={fp_df_cap} must be >= 1")
            hot = (
                idx.groupBy("fp")
                .agg(F.count("*").alias("__hdf"))
                .filter(F.col("__hdf") > int(fp_df_cap))
                .select("fp")
                .localCheckpoint(eager=True)
            )
            # No forced broadcasts here (r7): `rem` is per-doc removal
            # counts over every document containing a hot fingerprint —
            # in the boilerplate-footer-in-every-doc case (the exact
            # corpus fp_df_cap exists for) that is index-doc-count-sized,
            # and a forced broadcast OOMs at scale.  AQE picks broadcast
            # when the runtime size is small and degrades to a shuffle
            # join otherwise — the same argument _cap_fp_df documents for
            # its hot-set join (operators/dedup.py).  `hot` is metadata-
            # scale in practice, but the same defensive reasoning applies.
            rem = (
                idx.join(hot, "fp", "left_semi")
                .groupBy(id_col)
                .agg(F.count("*").alias("__rem"))
            )
            idx = (
                idx.join(hot, "fp", "left_anti")
                .join(rem, id_col, "left")
                .withColumn(
                    "__sz",
                    F.col("__sz") - F.coalesce(F.col("__rem"), F.lit(0)),
                )
                .drop("__rem")
            )
        return idx.select(
            F.col(id_col).alias("b"), "fp", F.col("__sz").alias("__szb")
        )
    from .dedup import _cap_fp_df

    legacy = _cap_fp_df(index_fps.select(id_col, "fp"), fp_df_cap).withColumn(
        "__sz", F.count("*").over(Window.partitionBy(id_col))
    )
    return legacy.select(
        F.col(id_col).alias("b"), "fp", F.col("__sz").alias("__szb")
    )


def _fp_jaccard(
    la: DataFrame, lb: DataFrame, threshold_ppm: int, pair_filter=None
) -> DataFrame:
    """Fingerprint-set Jaccard >= threshold between two (id, fp, size)
    frames aliased to (a, fp, __sza) / (b, fp, __szb): shared-fp
    equi-join, exact integer threshold compare (the repo-wide FLOOR-ppm
    discipline).  pair_filter prunes pairs BEFORE the aggregate (the
    self-join's a < b — filtering after would double the agg and emit
    self-pairs)."""
    joined = la.join(lb, "fp")
    if pair_filter is not None:
        joined = joined.filter(pair_filter)
    inter = (
        joined
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("__i"),
            F.max("__sza").alias("__sza"),
            F.max("__szb").alias("__szb"),
        )
    )
    return (
        inter.withColumn("__u", F.col("__sza") + F.col("__szb") - F.col("__i"))
        .filter(F.col("__i") * 1000000 >= F.lit(int(threshold_ppm)) * F.col("__u"))
        .select("a", "b")
    )


def incremental_neardup(
    delta: DataFrame,
    index_fps: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    window: int = 4,
    threshold_ppm: int = 300000,
    fp_df_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dedup a delta snapshot against a persisted fingerprint index.

    Two independent loser sets (a doc may be in both):
      * CROSS epoch: a delta doc whose fingerprint-set Jaccard against
        ANY indexed doc reaches threshold_ppm — the indexed corpus is
        already deduplicated, so the old doc always wins (epoch order,
        not id order).  Defense in depth: an id appearing on both sides
        (e.g. a retried batch whose own epoch leaked into the read —
        the streaming wrapper filters epochs, but ad-hoc callers may
        not) never self-matches (a != b guard).
      * INTRA delta: fingerprint-Jaccard pairs within the delta; the
        higher id of each pair drops (one sweep — exact for clusters
        pairing with their minimum).

    `index_fps` should come from read_fp_index (or any frame carrying
    the stored `sz` fingerprint counts): the index side then needs NO
    window/sort — sizes are read, and with fp_df_cap the hot set comes
    from one aggregate-only scan (_index_side).  A bare (id, fp) frame
    still works through the legacy full-window path, documented as not
    the at-scale shape.

    Returns (survivors, survivor_fps): the surviving delta rows, and
    their (doc_id, fp, sz) fingerprints for the caller to append as the
    next epoch (write_fp_index) — keeping the index complete without
    ever reading base documents.

    Everything is fingerprint-frame sized: one winnow projection over
    the delta, one equi-join per loser set, the delta fingerprint frame
    persisted across its four consumers and RELEASED before return
    (loser ids are materialized lineage-free; the returned frames are a
    lazy anti-join/semi-join against the delta source and the small
    checkpointed fingerprint set)."""
    if threshold_ppm <= 0:
        raise ValueError(
            f"threshold_ppm={threshold_ppm} must be > 0 (zero-overlap "
            f"pairs are dropped by the shared-fingerprint join)"
        )
    from .dedup import _cap_fp_df, winnow_fingerprints

    # fp_df_cap (per side) bounds hot-fingerprint join fan-out at
    # cap_delta x cap_index rows per fp — a deterministic semantics
    # change here (unlike winnow_neardup_pairs, the fp sets ARE the
    # similarity metric, so sizes are recomputed after capping and an
    # oracle must apply the identical cap).  The delta-side window is
    # delta-sized — fine; the index side avoids windows via _index_side.
    dfps = (
        _cap_fp_df(
            winnow_fingerprints(delta, text, id_col, n, window), fp_df_cap
        )
        .withColumn("__sz", F.count("*").over(Window.partitionBy(id_col)))
        .persist()
    )
    la = dfps.select(F.col(id_col).alias("a"), "fp", F.col("__sz").alias("__sza"))
    ib = _index_side(index_fps, id_col, fp_df_cap)
    cross_losers = _fp_jaccard(
        la, ib, threshold_ppm, pair_filter=F.col("a") != F.col("b")
    ).select(F.col("a").alias(id_col))
    lb = dfps.select(F.col(id_col).alias("b"), "fp", F.col("__sz").alias("__szb"))
    intra_losers = _fp_jaccard(
        la, lb, threshold_ppm, pair_filter=F.col("a") < F.col("b")
    ).select(F.col("b").alias(id_col))
    losers = (
        cross_losers.unionByName(intra_losers)
        .distinct()
        .localCheckpoint(eager=True)
    )
    survivor_fps = (
        dfps.select(id_col, "fp", F.col("__sz").alias("sz"))
        .join(losers, id_col, "left_anti")
        .localCheckpoint(eager=True)
    )
    dfps.unpersist()
    survivors = delta.join(losers, id_col, "left_anti")
    return survivors, survivor_fps


def compact_fp_index(spark, base: str, into_epoch: int | None = None) -> int:
    """Squash all index epochs into one — the fingerprint-index twin of
    the snapshot log's squash (plans/checkpoint.squash_snapshots, after
    the reference's filelist compaction): per-batch streaming appends
    grow the epoch list linearly, and every delta read scans all of
    them, so periodic compaction keeps the read path at one directory.

    Compacted epochs live in a DISJOINT keyspace from streaming epochs:
    the default target is NEGATIVE (min(0, min(epochs)) - 1), because
    the streaming checkpoint's epoch_id counter is monotonically
    non-negative — a compaction into max+1 would be silently OVERWRITTEN
    by the next micro-batch's idempotent mode='overwrite' epoch write
    (the epoch-counter collision ADVICE r5 flagged).  Repeated
    compactions descend (-1, -2, ...).  Callers overriding into_epoch
    against a live stream must pick an id the stream's counter can
    never reach.

    Writes the distinct (doc_id, fp) union of all epochs with freshly
    recomputed sz (one window over the compaction output — an explicit
    index-wide maintenance job, unlike the per-delta read path; this
    also backfills legacy sz-less epochs), then deletes the old epoch
    directories via the Hadoop FileSystem API (cluster URIs clean up
    like local paths — the r4 lesson from connected_components).  The
    write is staged BEFORE any delete, so a crash mid-compaction leaves
    a readable (over-complete, fp rows duplicated across the survivor
    and stale epochs) index rather than a hole; rerunning compaction
    converges because the union is distinct-free by construction per
    doc.  Returns the compacted epoch id."""
    from .. import fsio

    idx = read_fp_index(spark, base)
    epochs = sorted(
        r["epoch"] for r in idx.select("epoch").distinct().collect()
    )
    if not epochs:
        raise ValueError(f"no index epochs under {base}")
    if into_epoch is None:
        into_epoch = min(0, min(epochs)) - 1
    if into_epoch in epochs:
        raise ValueError(
            f"into_epoch={into_epoch} already exists; compaction must "
            f"write a FRESH epoch (stage-then-delete crash safety)"
        )
    write_fp_index(
        idx.select("doc_id", "fp").distinct(), base, into_epoch
    )
    for e in epochs:
        fsio.rmtree_any(f"{base}/epoch={e}", spark)
    return int(into_epoch)
