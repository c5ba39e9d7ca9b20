"""End-to-end OSM-shaped tiling: calcqts -> weight-balanced groups ->
tile routing (the reference's calcqts + sortblocks chain).

Weight model: nodes + 8*ways + 20*relations
(reference src/elements/primitive_block.rs:134-136); group histogram at
level 17 (prep_block, prepgraph.rs:53-101); routing = deepest group
ancestor (QuadtreeTree::find).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import calcqts as C
from . import pipeline as P

WEIGHTS = {0: 1, 1: 8, 2: 20}  # node, way, relation


def element_qts(
    nodes: DataFrame, ways: DataFrame, relations: DataFrame
) -> DataFrame:
    """(etype, id, qt) for every element."""
    nq, wq, rq = C.calc_qts(nodes, ways, relations)
    return (
        nq.select(F.lit(0).alias("etype"), "id", "qt")
        .unionByName(wq.select(F.lit(1).alias("etype"), "id", "qt"))
        .unionByName(rq.select(F.lit(2).alias("etype"), "id", "qt"))
    )


def tile_elements(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    target: int = P.DEFAULT_TARGET,
) -> tuple[DataFrame, np.ndarray]:
    """Full chain; returns ((etype,id,qt,tile), group cells).  The final
    store is written sorted by (etype, id) within tile partitions —
    the reference's global element order (traits.rs:52-59)."""
    eq = element_qts(nodes, ways, relations)
    et = F.col("etype")
    weight = F.when(et == 0, WEIGHTS[0]).when(et == 1, WEIGHTS[1]).otherwise(WEIGHTS[2])
    assigned, groups = P.assign_tiles(eq.withColumn("w", weight), "qt", "w", target)
    return assigned.select("etype", "id", "qt", "tile"), groups
