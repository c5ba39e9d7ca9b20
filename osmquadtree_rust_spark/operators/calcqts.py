"""Cell assignment (the reference's `calcqts` stage) as a DataFrame DAG.

Semantics follow the authoritative in-memory spec
(reference src/calcqts/calcinmem.rs:151-242) plus the finalize rules of the
out-of-core writer (calculate.rs:774-855: negative rel qts -> 0):

- way qt   = Quadtree.calculate(bbox of its nodes, level, buffer)
- node qt  = LCA of the qts of the ways containing it, else point qt
- rel qt   = LCA over member node/way qts; empty-member rels -> 0;
             rel->rel references propagate for exactly 5 sequential passes
             (Gauss-Seidel in ascending rel-id order — the reference walks
             a BTreeMap), then negatives -> 0.

Spark mapping (SURVEY.md §2.4/2.5): explode(refs) is the way->node edge
list; bbox aggregation and the LCA reduce ride native partial+final hash
aggregation (agg_lca compiles to min/max + bit math); only the
bbox->cell encode crosses into an Arrow-batched pandas UDF.  The rel->rel
fixed point runs on the driver: rel->rel edges are metadata-scale (a few
thousand at planet scale) and the reference's in-pass update order cannot
be reproduced by bulk-synchronous joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import qt_numpy as qtn
from ..functions import qt_spark as qs
from ..session import local_frame


def way_node_edges(ways: DataFrame) -> DataFrame:
    """Invert ways: (way_id, node_id) pairs (PackWayNodes analog,
    reference src/calcqts/packwaynodes.rs:465-753 — the hand-rolled bucket
    sort there is Spark's shuffle here)."""
    return ways.select(
        F.col("id").alias("way_id"), F.explode("refs").alias("node_id")
    )


def way_qts(
    nodes: DataFrame,
    ways: DataFrame,
    maxlevel: int = qtn.QT_MAX_LEVEL,
    buffer: float = qtn.QT_BUFFER,
) -> DataFrame:
    """(way_id, qt): bbox of member nodes -> cell.

    Bbox agg = groupBy(way_id).min/max (reference expand_wayboxes.rs
    WayBoxesSplit flat arrays ≙ Spark partial+final hash agg)."""
    edges = way_node_edges(ways)
    joined = edges.join(
        nodes.select(F.col("id").alias("node_id"), "lon", "lat"), "node_id"
    )
    boxes = joined.groupBy("way_id").agg(
        F.min("lon").alias("minlon"),
        F.min("lat").alias("minlat"),
        F.max("lon").alias("maxlon"),
        F.max("lat").alias("maxlat"),
    )
    return qs.with_bbox_qt(
        boxes, "minlon", "minlat", "maxlon", "maxlat", "qt", maxlevel, buffer
    ).select(F.col("way_id").alias("id"), "qt")


def node_qts(
    nodes: DataFrame,
    ways: DataFrame,
    wqts: DataFrame | None = None,
    maxlevel: int = qtn.QT_MAX_LEVEL,
    buffer: float = qtn.QT_BUFFER,
) -> DataFrame:
    """(node_id, qt): LCA of containing ways' qts, else point qt
    (calcinmem.rs:178-193)."""
    if wqts is None:
        wqts = way_qts(nodes, ways, maxlevel, buffer)
    edges = way_node_edges(ways)
    from_ways = qs.agg_lca(
        edges.join(wqts.withColumnRenamed("id", "way_id"), "way_id"),
        ["node_id"],
        "qt",
        "qt",
    ).withColumnRenamed("node_id", "id")
    uncovered = nodes.join(from_ways, "id", "left_anti")
    from_points = qs.with_point_qt(
        uncovered, "lon", "lat", "qt", maxlevel, buffer
    ).select("id", "qt")
    return from_ways.select("id", "qt").unionByName(from_points)


def rel_qts(
    relations: DataFrame,
    nqts: DataFrame,
    wqts: DataFrame,
    spark: SparkSession | None = None,
    finalize: bool = True,
) -> DataFrame:
    """(rel_id, qt) per calcinmem.rs:197-241 + calculate.rs:820-855.

    Distributed part: member explode + LCA aggregate over node/way member
    qts.  Driver part: the exactly-5-pass Gauss-Seidel rel->rel propagation
    over the (metadata-scale) rel->rel edge list, in ascending rel-id order.
    """
    spark = spark or relations.sparkSession
    mems = relations.select(
        F.col("id").alias("rel_id"),
        F.explode_outer("members").alias("m"),
    ).select(
        "rel_id", F.col("m.mem_type").alias("mem_type"), F.col("m.mem_ref").alias("mem_ref")
    )

    node_side = (
        mems.filter(F.col("mem_type") == 0)
        .join(nqts.withColumnRenamed("id", "mem_ref"), "mem_ref")
        .select("rel_id", "qt")
    )
    way_side = (
        mems.filter(F.col("mem_type") == 1)
        .join(wqts.withColumnRenamed("id", "mem_ref"), "mem_ref")
        .select("rel_id", "qt")
    )
    base = qs.agg_lca(node_side.unionByName(way_side), ["rel_id"], "qt", "qt")

    empty = (
        relations.filter(F.size(F.coalesce(F.col("members"), F.array())) == 0)
        .select(F.col("id").alias("rel_id"), F.lit(0).cast("long").alias("qt"))
    )
    base = base.unionByName(empty)

    # rel->rel edges are metadata-scale (~1e5 at planet scale): collect the
    # EDGE LIST only, then use broadcast semi/anti joins — never IN-lists of
    # ids inlined into the plan, and never per-row driver round-trips.
    relrels = [
        (int(r.rel_id), int(r.mem_ref))
        for r in mems.filter(F.col("mem_type") == 2)
        .select("rel_id", "mem_ref")
        .collect()
    ]
    relrels.sort()  # ascending (a, member-order) == BTreeMap walk order
    if relrels:
        # only rels on a rel->rel edge need driver-side state; the rest of
        # `base` (data-scale) never leaves the cluster.  Harvest that state
        # via a broadcast semi-join + Arrow (toPandas), not isin(list).
        touched = sorted({a for a, _ in relrels} | {b for _, b in relrels})
        a_ids = {a for a, _ in relrels}
        touched_df = local_frame(spark, [(t,) for t in touched], "rel_id long")
        # NULL qt rows must be dropped SPARK-side: a single NULL makes
        # pandas promote the whole int64 qt column to float64, and int(v)
        # then silently corrupts every qt using bits above 2^53 (qt packs
        # bits up to 62).  With no NULLs the Arrow column stays int64.
        pdf = (
            base.join(F.broadcast(touched_df), "rel_id", "left_semi")
            .filter(F.col("qt").isNotNull())
            .toPandas()
        )
        state = {int(k): int(v) for k, v in zip(pdf["rel_id"], pdf["qt"])}
        for it in range(5):
            for a, b in relrels:
                if b in state:
                    q = state[b]
                    state[a] = (
                        qtn.common_scalar(state[a], q) if a in state else int(q)
                    )
                elif it == 4:
                    # calculate.rs:829-834: missing parent on the last pass
                    # contributes cell 0
                    state[a] = 0 if a not in state else qtn.common_scalar(state[a], 0)
        updated = local_frame(
            spark,
            [(int(k), int(v)) for k, v in state.items() if k in a_ids],
            "rel_id long, qt long",
        )
        a_df = local_frame(spark, [(a,) for a in sorted(a_ids)], "rel_id long")
        out = base.join(F.broadcast(a_df), "rel_id", "left_anti").unionByName(
            updated
        )
    else:
        out = base
    if finalize:
        # reference writes 0 for any non-positive result (calculate.rs:
        # 846-855); agg_lca can yield NULL for a group with no valid
        # member qt, which must also land on 0, not propagate NULL
        out = out.withColumn(
            "qt",
            F.coalesce(
                F.when(F.col("qt") < 0, F.lit(0).cast("long")).otherwise(
                    F.col("qt")
                ),
                F.lit(0).cast("long"),
            ),
        )
    return out.select(F.col("rel_id").alias("id"), "qt")


def calc_qts(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    maxlevel: int = qtn.QT_MAX_LEVEL,
    buffer: float = qtn.QT_BUFFER,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full calcqts: returns (node_qts, way_qts, rel_qts) DataFrames of
    (id, qt).  Way/node parts are lazy DataFrames; the rel part triggers a
    metadata-scale collect for the rel->rel fixed point."""
    wq = way_qts(nodes, ways, maxlevel, buffer)
    nq = node_qts(nodes, ways, wq, maxlevel, buffer)
    rq = rel_qts(relations, nq, wq)
    return nq, wq, rq
