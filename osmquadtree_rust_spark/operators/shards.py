"""Deterministic global shuffle + fixed-size shard materializer — the
step between sequence packing and the trainer: every epoch pipeline
needs the corpus in a seeded, reproducible random order, cut into
bounded-size shards, written resumably with per-shard lineage.

Shuffle order is the seeded md5 sort key (functions/text_sql.
md5_prefix_int_sql over seed:id — the same cross-engine hash family as
sample_by_hash / top-k sampling), totally ordered by (hash, id) so ties
cannot leak nondeterminism.  The global rank that cuts shards is NOT a
global window (single-task sort of the corpus): it is the same
two-level distributed scan as operators/packing.pack_sequences, with
the hash's own top `bucket_bits` bits as the bucket key — uniform by
construction, so every bucket holds ~N/2^bits rows, the within-bucket
row_number is an ordinary hash-partitioned window, and the driver
prefix is 2^bits rows of metadata.

Materialization reuses the checkpointed tile writer (plans/checkpoint.
write_tiles_checkpointed — the reference's ordered tile writer shape,
writefile.rs) with shard as the tile key: batched resumable commits
(_SUCCESS per batch), per-batch lineage records, and a per-shard
rows+bytes metrics table, exactly the BASELINE.json resume contract.
Because the assignment is deterministic in (seed, ids), a crashed run
resumed later rebuilds byte-identical shard contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text_sql as TS
from ..session import local_frame


def shard_assignments(
    df: DataFrame,
    rows_per_shard: int,
    seed: str,
    id_col: str = "doc_id",
    bucket_bits: int | None = None,
) -> DataFrame:
    """(id_col, shard, pos): the seeded-shuffle shard assignment.
    shard = global_rank DIV rows_per_shard, pos = rank within the shard,
    rank = position in ascending (md5(seed:id), id) order — every shard
    holds exactly rows_per_shard rows except the last.  id_col must be
    unique (ties under duplicate ids would be nondeterministic) and is
    hashed via its string cast, so any castable type works.

    bucket_bits=None (default) sizes the bucket count to the input: a
    FIXED bucket count means bucket size grows with N (the within-bucket
    window is one task per bucket — at 10^12 rows, 2^8 buckets would be
    the single-task hot-group pathology), so bits are chosen from one
    aggregate-only count() targeting ~2^22 rows per bucket, clamped to
    [8, 30].  The assignment itself is bucket-invariant (two-level rank
    == global rank for any split), so the choice never changes results —
    the seeded-net test pins that across bit settings."""
    if rows_per_shard < 1:
        raise ValueError(f"rows_per_shard={rows_per_shard} must be >= 1")
    if bucket_bits is None:
        n = df.count()
        bucket_bits = max(8, min(30, int(max(n // (1 << 22), 1)).bit_length()))
    if not (1 <= bucket_bits <= 30):
        raise ValueError(f"bucket_bits={bucket_bits} out of range")
    sseed = str(seed).replace("'", "''")
    h_sql = TS.md5_prefix_int_sql(
        f"concat('{sseed}', ':', CAST({id_col} AS STRING))", TS.SPARK
    )
    d = df.select(F.col(id_col), F.expr(h_sql).alias("__h")).withColumn(
        "__bkt", F.expr(f"__h DIV {1 << (60 - bucket_bits)}L")
    )
    counts = sorted(
        (r["__bkt"], r["__n"])
        for r in d.groupBy("__bkt").agg(F.count("*").alias("__n")).collect()
    )
    offs, run = [], 0
    for b, n in counts:
        offs.append((int(b), int(run)))
        run += int(n)
    spark = df.sparkSession
    odf = local_frame(spark, offs, "__bkt long, __off long")
    w = Window.partitionBy("__bkt").orderBy("__h", id_col)
    return (
        d.join(F.broadcast(odf), "__bkt")
        .withColumn("__rn", F.row_number().over(w) - 1 + F.col("__off"))
        .select(
            F.col(id_col),
            F.expr(f"__rn DIV {int(rows_per_shard)}L").alias("shard"),
            F.expr(f"__rn % {int(rows_per_shard)}L").alias("pos"),
        )
    )


def write_shards(
    df: DataFrame,
    base: str,
    snapshot: str,
    rows_per_shard: int,
    seed: str,
    id_col: str = "doc_id",
    bucket_bits: int | None = None,
    n_batches: int = 8,
    fail_after_batch: int | None = None,
) -> list[dict]:
    """Materialize the seeded shuffle: join the shard assignment back to
    the full rows (co-keyed equi-join on id) and write shard directories
    through the checkpointed batch writer — resumable at batch
    granularity (_SUCCESS markers), per-batch lineage records, per-shard
    rows+bytes metrics under base/_metrics.  Rows inside each shard file
    are sorted by pos (the shuffle order), so readers stream the epoch
    in the seeded order without re-sorting.  Returns the lineage records
    (plans/checkpoint.write_tiles_checkpointed contract, incl. the
    fail_after_batch crash-simulation hook the resume test drives)."""
    from ..plans.checkpoint import write_tiles_checkpointed

    asg = shard_assignments(df, rows_per_shard, seed, id_col, bucket_bits)
    rows = df.join(asg, id_col)
    return write_tiles_checkpointed(
        rows,
        base,
        snapshot,
        tile_col="shard",
        sort_cols=("pos",),
        n_batches=n_batches,
        fail_after_batch=fail_after_batch,
    )
