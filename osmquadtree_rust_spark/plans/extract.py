"""Filtered extract (reference `mergechanges` / `mergechanges-sort`).

End-to-end: parse the filter spec -> prune tiles (interior vs boundary,
reference filelist.rs:121-218 + filter_elements.rs:252-273) -> combine
snapshots latest-wins with Delete/Remove drop (combine_block.rs) -> build
the id-closure (filter_elements.rs:298-376) -> keep closure members ->
optional global (type,id) re-sort + regroup into 8000-element blocks
(mergechanges/inmem.rs:271, writetemp.rs:426).

Spark shape: tile pruning is a partition filter when data is stored
partitioned by tile; the closure is a chain of left_semi joins; the global
re-sort is repartitionByRange — Spark's range exchange replaces the
reference's hand-bucketed external sort (id>>21 buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parse import bbox_from_str
from ..operators import filter as FL
from ..operators import merge as M
from ..session import local_frame

EXTRACT_BLOCK_SIZE = 8000  # reference mergechanges/inmem.rs:271


def extract(
    nodes_snapshots: list[DataFrame],
    ways_snapshots: list[DataFrame],
    rels_snapshots: list[DataFrame],
    filter_spec: str | tuple,
    poly: FL.Poly | None = None,
    tile_col: str | None = "tile",
    global_sort: bool = True,
) -> dict[str, DataFrame]:
    """Returns {'nodes','ways','relations'} DataFrames of the extract."""
    bbox = (
        bbox_from_str(filter_spec) if isinstance(filter_spec, str) else tuple(filter_spec)
    )

    nodes = (
        M.merge_changes(nodes_snapshots[0], list(nodes_snapshots[1:]))
        if len(nodes_snapshots) > 1
        else nodes_snapshots[0]
    )
    ways = (
        M.merge_changes(ways_snapshots[0], list(ways_snapshots[1:]))
        if len(ways_snapshots) > 1
        else ways_snapshots[0]
    )
    rels = (
        M.merge_changes(rels_snapshots[0], list(rels_snapshots[1:]))
        if len(rels_snapshots) > 1
        else rels_snapshots[0]
    )

    ids = FL.id_closure(nodes, ways, rels, bbox, poly)
    keep_nodes = ids["nodes"].unionByName(ids["exnodes"])
    out_nodes = nodes.join(keep_nodes, "id", "left_semi")
    out_ways = ways.join(ids["ways"], "id", "left_semi")
    out_rels = rels.join(ids["relations"], "id", "left_semi")

    if global_sort:
        out_nodes = out_nodes.repartitionByRange("id").sortWithinPartitions("id")
        out_ways = out_ways.repartitionByRange("id").sortWithinPartitions("id")
        out_rels = out_rels.repartitionByRange("id").sortWithinPartitions("id")
    return {"nodes": out_nodes, "ways": out_ways, "relations": out_rels}


def regroup_blocks(
    df: DataFrame, block_size: int = EXTRACT_BLOCK_SIZE, bucket_shift: int = 21
) -> DataFrame:
    """Stamp an output block index in global (id) order — the 8000-element
    regrouping of the reference's extract writer (GroupBlocks).

    Scale shape: a global un-partitioned Window would force every row
    through one task.  Instead, mirror the reference's own id>>21
    bucketing (writetemp.rs:426): bucket rows by a DATA-derived coarse
    key, count per bucket (metadata-scale), broadcast cumulative offsets,
    and compute block = (bucket_offset + local_rank) / block_size with a
    window partitioned by bucket — every stage is parallel, and the
    bucket key is derived from the data so the two passes agree without
    persisting.  Requires unique `id`s (true post-merge per type)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    bkt = F.shiftright(F.col("id"), bucket_shift)
    counts = sorted(
        (int(r["__bkt"]), int(r["n"]))
        for r in df.groupBy(bkt.alias("__bkt")).agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for b, n in counts:
        offsets.append((b, acc))
        acc += n
    if not offsets:
        return df.withColumn("block", F.lit(0).cast("long"))
    off_df = local_frame(spark, offsets, "__bkt long, __off long")
    w = Window.partitionBy("__bkt").orderBy("id")
    return (
        df.withColumn("__bkt", bkt)
        .join(F.broadcast(off_df), "__bkt")
        .withColumn(
            "block",
            F.floor(
                (F.col("__off") + F.row_number().over(w) - 1) / block_size
            ).cast("long"),
        )
        .drop("__bkt", "__off")
    )
