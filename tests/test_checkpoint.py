"""Resume test: kill after batch N, resume, identical data + lineage."""

import json
import os

import pytest
from pyspark.sql import functions as F

from osmquadtree_rust_spark.plans import checkpoint as CK
from osmquadtree_rust_spark.plans import pipeline as P


def _assigned(spark, n=8000):
    assigned, _ = P.tile_synthetic_images(spark, n, target=1000, persist=False)
    return assigned.select("id", "qt", "tile")


def test_write_resume_identical(spark, tmp_path):
    df = _assigned(spark)
    base_a = str(tmp_path / "a")
    base_b = str(tmp_path / "b")

    # uninterrupted reference write
    CK.write_tiles_checkpointed(df, base_a, "s1", n_batches=4)

    # interrupted write: dies after 2 of 4 batches...
    lin1 = CK.write_tiles_checkpointed(
        df, base_b, "s1", n_batches=4, fail_after_batch=1
    )
    assert len(lin1) == 2
    done = [
        b
        for b in range(4)
        if os.path.exists(f"{base_b}/snapshot=s1/batch={b}/_SUCCESS")
    ]
    assert done == [0, 1]

    # ...then resumes: only the remaining batches run
    lin2 = CK.write_tiles_checkpointed(df, base_b, "s1", n_batches=4)
    assert sorted(r["batch"] for r in lin2) == [2, 3]

    a = CK.read_snapshot(spark, base_a, "s1")
    b = CK.read_snapshot(spark, base_b, "s1")
    ra = sorted(tuple(r) for r in a.select("id", "qt", "tile").collect())
    rb = sorted(tuple(r) for r in b.select("id", "qt", "tile").collect())
    assert ra == rb
    assert len(ra) == 8000

    # lineage file holds all four batch records
    with open(f"{base_b}/_lineage/snapshot=s1.json") as fh:
        recs = json.load(fh)
    assert sorted(r["batch"] for r in recs) == [0, 1, 2, 3]


def test_metrics_table(spark, tmp_path):
    df = _assigned(spark, 5000)
    base = str(tmp_path / "m")
    CK.write_tiles_checkpointed(df, base, "s9", n_batches=2)
    m = CK.read_metrics(spark, base, "s9")
    rows = {r.tile: (r.rows, r.bytes) for r in m.collect()}
    exp = {r.tile: r["count"] for r in df.groupBy("tile").count().collect()}
    assert {t: v[0] for t, v in rows.items()} == exp
    assert all(v[1] and v[1] > 0 for v in rows.values())


def test_snapshot_as_of(spark, tmp_path):
    """Timestamp cut + tile pruning (reference get_file_locs,
    filelist.rs:101-219): as-of T folds only snapshots with ts <= T,
    latest-wins, tombstones dropped; pruned tiles never appear."""
    import pytest

    base = str(tmp_path / "store")
    # base snapshot: ids 0..99 val=0, all Normal
    s0 = spark.range(0, 100).select(
        F.col("id"),
        F.lit(0).cast("long").alias("changetype"),
        F.lit(0).cast("long").alias("val"),
        (F.col("id") % 4).alias("tile"),
    )
    # change @150: ids 0..49 val=1; id%10==0 -> Delete(1)
    s1 = spark.range(0, 50).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("changetype"),
        F.lit(1).cast("long").alias("val"),
        (F.col("id") % 4).alias("tile"),
    )
    # change @250: ids 0..19 val=2 resurrected Normal
    s2 = spark.range(0, 20).select(
        F.col("id"),
        F.lit(0).cast("long").alias("changetype"),
        F.lit(2).cast("long").alias("val"),
        (F.col("id") % 4).alias("tile"),
    )
    for i, (snap, ts) in enumerate([(s0, 100), (s1, 150), (s2, 250)]):
        CK.write_tiles_checkpointed(snap, base, f"s{i}", n_batches=2)
        CK.append_filelist(base, f"s{i}", ts, "base" if i == 0 else "change")

    # as of 100: just the base
    r100 = {(r.id, r.val) for r in CK.read_snapshot_as_of(spark, base, 100).collect()}
    assert r100 == {(i, 0) for i in range(100)}

    # as of 200: base + s1; multiples of 10 under 50 deleted
    r200 = {(r.id, r.val) for r in CK.read_snapshot_as_of(spark, base, 200).collect()}
    exp = {(i, 1) for i in range(50) if i % 10 != 0} | {(i, 0) for i in range(50, 100)}
    assert r200 == exp

    # as of 300: s2 resurrects 0..19 with val=2
    r300 = {(r.id, r.val) for r in CK.read_snapshot_as_of(spark, base, 300).collect()}
    exp3 = (
        {(i, 2) for i in range(20)}
        | {(i, 1) for i in range(20, 50) if i % 10 != 0}
        | {(i, 0) for i in range(50, 100)}
    )
    assert r300 == exp3

    # tile pruning: only tiles {0,1} appear, and the scan reads fewer files
    pruned = CK.read_snapshot_as_of(spark, base, 300, tiles=[0, 1])
    rows = pruned.collect()
    assert {r.tile for r in rows} == {0, 1}
    assert {(r.id, r.val) for r in rows} == {t for t in exp3 if t[0] % 4 in (0, 1)}
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "tile" in plan  # partition filter reached the scan

    # before the first snapshot: error
    with pytest.raises(ValueError):
        CK.read_snapshot_as_of(spark, base, 50)


def test_id_index_file_skipping(spark, tmp_path):
    """indexblock.rs analog: the id-range manifest must prune tile files
    before the read — provably fewer files scanned, identical results."""
    base = str(tmp_path / "store")
    # 16 tiles with disjoint id ranges: tile t holds ids [t*1000, t*1000+500)
    df = spark.range(0, 16 * 500).select(
        (F.floor(F.col("id") / 500) * 1000 + F.col("id") % 500).alias("id"),
        F.floor(F.col("id") / 500).cast("long").alias("tile"),
        F.lit(1).cast("long").alias("v"),
    )
    CK.write_tiles_checkpointed(df, base, "s1", n_batches=4)
    CK.write_id_index(spark, base, "s1")

    wanted = spark.createDataFrame(
        [(2003,), (2400,), (9001,)], "id long"
    )  # tiles 2 and 9 only
    tiles = CK.prune_tiles_by_ids(spark, base, "s1", wanted)
    assert tiles == [2, 9]

    pruned = CK.read_snapshot_for_ids(spark, base, "s1", wanted)
    full = CK.read_snapshot(spark, base, "s1")
    full_semi = full.join(wanted, "id", "left_semi")

    got = sorted((r.id, r.tile) for r in pruned.collect())
    exp = sorted((r.id, r.tile) for r in full_semi.collect())
    assert got == exp == [(2003, 2), (2400, 2), (9001, 9)]

    # the point of the index: the pruned scan actually reads strictly fewer
    # files (input_file_name() reports the files the executed scan touched;
    # inputFiles() would list the pre-pruning catalog)
    pruned_scan = CK.read_snapshot(spark, base, "s1").filter(F.col("tile").isin(tiles))
    pruned_files = {
        r[0] for r in pruned_scan.select(F.input_file_name()).distinct().collect()
    }
    all_files = {
        r[0] for r in full.select(F.input_file_name()).distinct().collect()
    }
    assert len(pruned_files) < len(all_files)
    assert all("tile=2/" in f or "tile=9/" in f for f in pruned_files)
    # and the partition filter is visible in the physical plan
    plan = pruned_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def _three_snap_store(spark, base):
    """base @100 (ids 0..99 val 0) + change @150 (0..49 val 1, %10 Delete)
    + change @250 (0..19 val 2) — same world as test_snapshot_as_of."""
    s0 = spark.range(0, 100).select(
        F.col("id"),
        F.lit(0).cast("long").alias("changetype"),
        F.lit(0).cast("long").alias("val"),
        (F.col("id") % 4).alias("tile"),
    )
    s1 = spark.range(0, 50).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("changetype"),
        F.lit(1).cast("long").alias("val"),
        (F.col("id") % 4).alias("tile"),
    )
    s2 = spark.range(0, 20).select(
        F.col("id"),
        F.lit(0).cast("long").alias("changetype"),
        F.lit(2).cast("long").alias("val"),
        (F.col("id") % 4).alias("tile"),
    )
    for i, (snap, ts) in enumerate([(s0, 100), (s1, 150), (s2, 250)]):
        CK.write_tiles_checkpointed(snap, base, f"s{i}", n_batches=2)
        CK.append_filelist(base, f"s{i}", ts, "base" if i == 0 else "change")


def test_incremental_read_applies_to_asof(spark, tmp_path):
    """read_changes_between(lo, hi) applied onto the as-of-lo world must
    land exactly on the as-of-hi world (the Iceberg incremental-scan
    contract), tombstones included; an empty window reads zero rows and
    never touches the base."""
    from osmquadtree_rust_spark.operators import merge as M

    base = str(tmp_path / "store")
    _three_snap_store(spark, base)

    def world(ts):
        return {
            (r.id, r.val)
            for r in CK.read_snapshot_as_of(spark, base, ts).collect()
        }

    for lo, hi in [(100, 200), (100, 300), (200, 300), (100, 150)]:
        delta = CK.read_changes_between(spark, base, lo, hi)
        applied = {
            (r.id, r.val)
            for r in M.apply_changes(
                CK.read_snapshot_as_of(spark, base, lo), delta
            ).collect()
        }
        assert applied == world(hi), (lo, hi)

    # tombstones are visible in the delta itself
    d = CK.read_changes_between(spark, base, 100, 200)
    assert {r.id for r in d.filter(F.col("changetype") == 1).collect()} == {
        0, 10, 20, 30, 40,
    }
    # empty window: 0 rows, schema preserved
    e = CK.read_changes_between(spark, base, 150, 200)
    assert e.count() == 0 and set(e.columns) == {"id", "changetype", "val", "tile"}
    # net fold across the window: id 5 appears once with the NEWEST value
    d2 = CK.read_changes_between(spark, base, 100, 300)
    assert [(r.val) for r in d2.filter(F.col("id") == 5).collect()] == [2]


def test_squash_and_vacuum(spark, tmp_path):
    """squash_snapshots collapses history <= ts into a new base: worlds at
    and after ts are unchanged, the filelist is rewritten atomically, and
    vacuum reclaims the unreferenced snapshot dirs."""
    import pytest

    base = str(tmp_path / "store")
    _three_snap_store(spark, base)
    before_200 = {
        (r.id, r.val) for r in CK.read_snapshot_as_of(spark, base, 200).collect()
    }
    before_300 = {
        (r.id, r.val) for r in CK.read_snapshot_as_of(spark, base, 300).collect()
    }

    CK.squash_snapshots(spark, base, 200, "sq0", n_batches=2)
    log = CK.read_filelist(base)
    assert [(e["snapshot"], e["timestamp"], e["kind"]) for e in log] == [
        ("sq0", 200, "base"),
        ("s2", 250, "change"),
    ]
    after_200 = {
        (r.id, r.val) for r in CK.read_snapshot_as_of(spark, base, 200).collect()
    }
    after_300 = {
        (r.id, r.val) for r in CK.read_snapshot_as_of(spark, base, 300).collect()
    }
    assert after_200 == before_200 and after_300 == before_300
    # the squashed base holds no tombstones and changetype is reset
    sq = CK.read_snapshot(spark, base, "sq0")
    assert sq.filter(F.col("changetype") != 0).count() == 0

    # duplicate snapshot id refused
    with pytest.raises(ValueError):
        CK.squash_snapshots(spark, base, 300, "sq0")

    # default grace window protects freshly-written (possibly in-flight,
    # not-yet-registered) snapshot dirs from removal
    assert CK.vacuum(base) == []
    assert os.path.exists(f"{base}/snapshot=s0/_schema.json")
    # vacuum removes exactly the two dead snapshots once the grace is off,
    # saved schema included
    assert CK.vacuum(base, grace_seconds=0) == ["s0", "s1"]
    assert not os.path.exists(f"{base}/snapshot=s0")
    assert os.path.exists(f"{base}/snapshot=sq0")
    # the store still reads correctly from the survivors
    assert {
        (r.id, r.val) for r in CK.read_snapshot_as_of(spark, base, 300).collect()
    } == before_300


def _inferred(spark, base, snapshot):
    """A snapshot read with its schema inferred from the files."""
    d = f"{base}/snapshot={snapshot}"
    return spark.read.option("basePath", d).parquet(f"{d}/batch=*").drop("batch")


def test_saved_schema_matches_inference(spark, tmp_path):
    """read_snapshot with the schema saved at commit gives the schema and
    rows inference gives — tile typed int for small values, long for large
    ones; the file changes neither the parquet file set nor what an
    outside reader (DuckDB) of the parquet files sees."""
    import glob

    import duckdb

    base = str(tmp_path / "store")
    for snap, off, tile_type in (("small", 0, "int"), ("large", 1 << 33, "bigint")):
        df = spark.range(0, 300).select(
            F.col("id"),
            (F.col("id") * 3).alias("qt"),
            F.lit(0).alias("changetype"),
            (F.col("id") % 5 + off).alias("tile"),
        )
        CK.write_tiles_checkpointed(df, base, snap, n_batches=2)
        assert os.path.exists(f"{base}/snapshot={snap}/_schema.json")
        got, want = CK.read_snapshot(spark, base, snap), _inferred(spark, base, snap)
        assert got.schema == want.schema
        assert dict(got.dtypes)["tile"] == tile_type
        rows = sorted(map(tuple, got.collect()))
        assert rows == sorted(map(tuple, want.collect()))
        assert len(rows) == 300

        files = glob.glob(f"{base}/snapshot={snap}/batch=*/tile=*/*.parquet")
        walked = [
            os.path.join(r, f)
            for r, _, fs in os.walk(f"{base}/snapshot={snap}")
            for f in fs
            if f.endswith(".parquet")
        ]
        assert sorted(walked) == sorted(files)
        met = CK.read_metrics(spark, base, snap).agg(F.sum("bytes")).first()[0]
        assert met == sum(os.path.getsize(f) for f in files)
        duck = duckdb.sql(
            f"SELECT id, qt, changetype, CAST(tile AS BIGINT) FROM read_parquet("
            f"'{base}/snapshot={snap}/batch=*/tile=*/*.parquet', hive_partitioning = true)"
        ).fetchall()
        assert sorted(duck) == rows


def test_interrupted_snapshot_reads_by_inference(spark, tmp_path):
    """A snapshot stopped by fail_after_batch has no saved schema and still
    reads its committed batches; the resumed write saves it."""
    base = str(tmp_path / "store")
    df = _assigned(spark, 3000)
    CK.write_tiles_checkpointed(df, base, "s1", n_batches=4, fail_after_batch=1)
    assert not os.path.exists(f"{base}/snapshot=s1/_schema.json")
    part = CK.read_snapshot(spark, base, "s1")
    assert part.schema == _inferred(spark, base, "s1").schema
    assert part.count() == df.filter(F.col("tile") % 4 < 2).count()
    CK.write_tiles_checkpointed(df, base, "s1", n_batches=4)
    assert os.path.exists(f"{base}/snapshot=s1/_schema.json")
    assert CK.read_snapshot(spark, base, "s1").count() == 3000


def test_empty_commit(spark, tmp_path):
    """A zero-row snapshot commits (schema from the input frame, empty
    metrics table), and a log holding it reads exactly like one without."""
    with_empty, without = str(tmp_path / "a"), str(tmp_path / "b")
    _three_snap_store(spark, with_empty)
    _three_snap_store(spark, without)
    empty = spark.range(0, 10).select(
        F.col("id"),
        F.lit(0).cast("long").alias("changetype"),
        F.lit(3).cast("long").alias("val"),
        (F.col("id") % 4).alias("tile"),
    ).filter(F.lit(False))
    lineage = CK.write_tiles_checkpointed(empty, with_empty, "e", n_batches=2)
    assert sorted(r["batch"] for r in lineage) == [0, 1]
    CK.append_filelist(with_empty, "e", 200, "change")
    assert CK.read_metrics(spark, with_empty, "e").count() == 0
    assert CK.read_snapshot(spark, with_empty, "e").count() == 0

    def rows(df):
        return sorted((r.id, r.changetype, r.val, r.tile) for r in df.collect())

    for ts in (200, 300):
        assert rows(CK.read_snapshot_as_of(spark, with_empty, ts)) == rows(
            CK.read_snapshot_as_of(spark, without, ts)
        ), ts
    for lo, hi in ((100, 200), (150, 200), (150, 300), (100, 300)):
        assert rows(CK.read_changes_between(spark, with_empty, lo, hi)) == rows(
            CK.read_changes_between(spark, without, lo, hi)
        ), (lo, hi)


def test_log_writes_are_atomic(spark, tmp_path, monkeypatch):
    """The filelist (a snapshot's commit point) and the lineage log are
    replaced whole: a write that dies midway leaves the old log readable."""
    base = str(tmp_path / "store")
    CK.append_filelist(base, "s0", 100, "base")
    CK._append_lineage(base, "s0", {"batch": 0})

    def dies_midway(obj, fh, **kw):
        fh.write('[{"snapshot": "s')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", dies_midway)
    with pytest.raises(OSError):
        CK.append_filelist(base, "s1", 200, "change")
    with pytest.raises(OSError):
        CK._append_lineage(base, "s0", {"batch": 1})
    monkeypatch.undo()
    assert CK.read_filelist(base) == [{"snapshot": "s0", "timestamp": 100, "kind": "base"}]
    with open(f"{base}/_lineage/snapshot=s0.json") as fh:
        assert json.load(fh) == [{"batch": 0}]
