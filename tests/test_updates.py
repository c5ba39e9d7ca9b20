"""Incremental update decision table (find_update.rs:536-668 semantics)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import oracle_qt as O
from osmquadtree_rust_spark.functions import qt_numpy as Q
from osmquadtree_rust_spark.operators.merge import (
    CREATE,
    DELETE,
    MODIFY,
    NORMAL,
    REMOVE,
    UNCHANGED,
)
from osmquadtree_rust_spark.streaming import updates as U


@pytest.fixture()
def scenario(spark):
    # two far-apart tiles; groups = the two level-1 cells A and B
    group_cells = np.array(
        sorted([O.from_string("A"), O.from_string("B")]), dtype=np.int64
    )
    # node 1 sits in tile A, will move to tile B; node 2 deleted;
    # node 3 modified in place; node 4 created
    nodes = spark.createDataFrame(
        [(1, -900000000, 400000000), (2, -800000000, 300000000), (3, -700000000, 200000000)],
        "id long, lon long, lat long",
    )
    ways = spark.createDataFrame([], "id long, refs array<long>")
    qt1_old = int(Q.calculate_point(np.array([-900000000]), np.array([400000000]))[0])
    qt2 = int(Q.calculate_point(np.array([-800000000]), np.array([300000000]))[0])
    qt3 = int(Q.calculate_point(np.array([-700000000]), np.array([200000000]))[0])
    a = O.from_string("A")
    stored = spark.createDataFrame(
        [(0, 1, qt1_old, a), (0, 2, qt2, a), (0, 3, qt3, a)],
        "etype int, id long, qt long, alloc long",
    )
    change_nodes = spark.createDataFrame(
        [
            (1, 900000000, 400000000, MODIFY),   # move A -> B
            (2, 0, 0, DELETE),
            (3, -700000001, 200000000, MODIFY),  # stays in A
            (4, 800000000, 300000000, CREATE),  # new, lands in B (NE)
        ],
        "id long, lon long, lat long, changetype int",
    )
    change_ways = spark.createDataFrame([], "id long, refs array<long>, changetype int")
    return nodes, ways, change_nodes, change_ways, stored, group_cells


def test_update_decision_table(spark, scenario):
    nodes, ways, change_nodes, change_ways, stored, group_cells = scenario
    delta, merged_nodes, _ = U.run_update(
        nodes, ways, change_nodes, change_ways, stored, group_cells
    )
    rows = [(r.id, r.tile, r.qt, r.changetype) for r in delta.collect()]
    a, b = O.from_string("A"), O.from_string("B")

    by_id = {}
    for rid, tile, qt, ct in rows:
        by_id.setdefault(rid, []).append((tile, qt, ct))

    # node 1: Modify row in tile B + Remove tombstone in old tile A
    e1 = sorted(by_id[1])
    assert len(e1) == 2
    kinds = {ct for _, _, ct in e1}
    assert kinds == {MODIFY, REMOVE}
    for tile, qt, ct in e1:
        if ct == MODIFY:
            assert tile == b and qt >= 0
        else:
            assert tile == a and qt == 0

    # node 2: Delete emitted at old alloc with qt 0
    assert by_id[2] == [(a, 0, DELETE)]

    # node 3: Modify in place -> single row in A, no tombstone
    e3 = by_id[3]
    assert len(e3) == 1 and e3[0][0] == a and e3[0][2] == MODIFY

    # node 4: Create -> row in B
    e4 = by_id[4]
    assert len(e4) == 1 and e4[0][0] == b and e4[0][2] == CREATE

    # merged element table respects apply-change semantics
    ids = sorted(r.id for r in merged_nodes.collect())
    assert ids == [1, 3, 4]


def test_update_way_harvest(spark):
    # moving a node recomputes the qt of the way containing it and emits
    # an Unchanged row for the harvested way when its cell moves
    group_cells = np.array(
        sorted([O.from_string("A"), O.from_string("B")]), dtype=np.int64
    )
    nodes = spark.createDataFrame(
        [(1, -900000000, 400000000), (2, -890000000, 410000000)],
        "id long, lon long, lat long",
    )
    ways = spark.createDataFrame([(10, [1, 2])], "id long, refs array<long>")
    wq_old = int(
        O.calculate(-900000000, 400000000, -890000000, 410000000)
    )
    a = O.from_string("A")
    nq1 = int(Q.calculate_point(np.array([-900000000]), np.array([400000000]))[0])
    nq2 = int(Q.calculate_point(np.array([-890000000]), np.array([410000000]))[0])
    stored = spark.createDataFrame(
        [(0, 1, nq1, a), (0, 2, nq2, a), (1, 10, wq_old, a)],
        "etype int, id long, qt long, alloc long",
    )
    change_nodes = spark.createDataFrame(
        [(1, 900000000, 400000000, MODIFY)], "id long, lon long, lat long, changetype int"
    )
    change_ways = spark.createDataFrame([], "id long, refs array<long>, changetype int")
    delta, _, _ = U.run_update(nodes, ways, change_nodes, change_ways, stored, group_cells)
    rows = {(r.etype, r.id, r.changetype): (r.tile, r.qt) for r in delta.collect()}
    # way 10 now spans A..B -> qt becomes a shallow cell; harvested row
    assert any(k[0] == 1 and k[1] == 10 for k in rows), rows
    way_rows = [(k, v) for k, v in rows.items() if k[0] == 1]
    assert any(k[2] in (UNCHANGED, REMOVE) for k, _ in way_rows)


def test_update_relations_leg(spark):
    group_cells = np.array(
        sorted([O.from_string("A"), O.from_string("B")]), dtype=np.int64
    )
    a, b = O.from_string("A"), O.from_string("B")
    rels = spark.createDataFrame(
        [
            (301, [{"mem_type": 0, "mem_ref": 1}]),
            (302, [{"mem_type": 2, "mem_ref": 301}]),
        ],
        "id long, members array<struct<mem_type:int, mem_ref:long>>",
    )
    change_rels = spark.createDataFrame(
        [],
        "id long, members array<struct<mem_type:int, mem_ref:long>>, changetype int",
    )
    # node 1 moved from A to B: new node qt in B
    nq_new = int(Q.calculate_point(np.array([900000000]), np.array([400000000]))[0])
    node_qts = spark.createDataFrame([(1, nq_new)], "id long, qt long")
    way_qts = spark.createDataFrame([], "id long, qt long")
    changed_nodes = spark.createDataFrame([(1,)], "id long")
    changed_ways = spark.createDataFrame([], "id long")
    qa = int(Q.calculate_point(np.array([-900000000]), np.array([400000000]))[0])
    stored = spark.createDataFrame(
        [(2, 301, qa, a), (2, 302, qa, a)], "etype int, id long, qt long, alloc long"
    )
    delta = U.run_update_relations(
        rels, change_rels, node_qts, way_qts, changed_nodes, changed_ways,
        stored, group_cells,
    )
    rows = {(r.id, r.changetype): (r.tile, r.qt) for r in delta.collect()}
    # both relations move A -> B: harvested Unchanged rows in B + Remove
    # tombstones in A (rel 302 reached via the rel->rel harvest)
    assert (301, UNCHANGED) in rows and rows[(301, UNCHANGED)][0] == b
    assert (301, REMOVE) in rows and rows[(301, REMOVE)] == (a, 0)
    assert (302, UNCHANGED) in rows and rows[(302, UNCHANGED)][0] == b
    assert (302, REMOVE) in rows and rows[(302, REMOVE)] == (a, 0)


def test_update_store_build_leaves_no_cached_frame(spark, tmp_path):
    """The update_roundtrip store build reads only the synthetic tiling's
    group cells: it must leave no persisted frame behind (a persisted
    input of assign_tiles is unreachable from its result, so no caller
    could release it)."""
    import shutil

    from osmquadtree_rust_spark import gate as G

    sf_dir = str(tmp_path)
    spark.range(6000).select(
        F.expr("id div 4").alias("l_orderkey"),
        ((F.col("id") * 7919) % 1500).alias("l_partkey"),
    ).write.parquet(f"{sf_dir}/lineitem.parquet")
    spark.catalog.clearCache()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    G.GATE["update_roundtrip"]["spark"](spark, sf_dir)
    after = persistent().size()
    shutil.rmtree(G._UPD_STORES.pop(sf_dir))
    assert after == before
