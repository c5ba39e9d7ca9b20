"""Executed-plan regression tests for the scale claims in PLANS.md.

These pin the PHYSICAL shape of the headline operators on small inputs —
a silent planner regression (a broadcast turning into a shuffle, a
banded join degenerating into a nested-loop cross product, a filter not
reaching the scan) fails here long before it would show up as a
100x-scale incident.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _embeddings(spark, n=300, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    vecs = rng.rand(n, dim).astype(np.float32)
    return spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


def test_neardup_plans_have_no_nested_loop_join(spark):
    """Every near-dup candidate path must be an equi-join on band keys —
    BroadcastNestedLoopJoin/CartesianProduct is the quadratic plan class
    VERDICT r01 flagged and r02 eliminated."""
    from osmquadtree_rust_spark.operators import dedup as D
    from osmquadtree_rust_spark.operators import similarity as SIM

    sigs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(50), "simhash": range(50)})
    )
    for df in [
        D.simhash_neardup_pairs(sigs, max_hamming=3),
        D.simhash_neardup_pairs(sigs, max_hamming=3, m_blocks=6),
        SIM.cosine_neardup_pairs(_embeddings(spark), dim=16),
        SIM.cosine_neardup_pairs_int8(
            SIM.quantize_int8(_embeddings(spark)).select("vec_id", "q"),
            dim=16,
        ),
    ]:
        p = _plan(df)
        assert "BroadcastNestedLoopJoin" not in p, p[:1500]
        assert "CartesianProduct" not in p, p[:1500]


def test_small_dimension_joins_broadcast(spark):
    """The per-tile rollup join must broadcast its small side, never
    shuffle the big side on the join key."""
    from osmquadtree_rust_spark.functions import qt_spark as qs

    cells = spark.createDataFrame(
        pd.DataFrame(
            {"id": range(1000), "qt": [i % 97 for i in range(1000)],
             "tile": [i % 7 for i in range(1000)]}
        )
    )
    per_tile = qs.agg_lca(cells, ["tile"], "qt", "lca",
                          extra_aggs=(F.count("*").alias("n"),))
    joined = cells.join(F.broadcast(per_tile), "tile")
    assert "BroadcastHashJoin" in _plan(joined)


def test_partial_aggregation_before_shuffle(spark):
    """Histogram-style aggregations must map-side combine (two HashAggregate
    nodes around the exchange), or every row crosses the shuffle."""
    df = spark.range(10000).select((F.col("id") % 50).alias("cell"))
    agg = df.groupBy("cell").agg(F.count("*").alias("w"))
    p = _plan(agg)
    assert p.count("HashAggregate") >= 2, p[:1500]
    assert "Exchange" in p


def test_snapshot_read_prunes_tiles_and_columns(spark, tmp_path):
    """A tile-filtered, 2-column read of the tile store must push the tile
    filter into partition pruning (no tile=3 files scanned) and prune the
    schema to the selected columns."""
    from osmquadtree_rust_spark.plans import checkpoint as CK

    base = str(tmp_path / "store")
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 4).alias("tile"),
        (F.col("id") * 3).alias("qt"),
        F.lit(0).alias("changetype"),
        (F.col("id") * 7).alias("payload"),
    )
    CK.write_tiles_checkpointed(df, base, "s0", n_batches=2)
    rd = (
        CK.read_snapshot(spark, base, "s0")
        .filter(F.col("tile") == 2)
        .select("id", "qt")
    )
    files = [
        r[0]
        for r in rd.select(F.input_file_name()).distinct().collect()
    ]
    assert files and all("tile=2" in f for f in files), files
    p = _plan(rd)
    assert "payload" not in p.split("ReadSchema")[-1][:200], p[-800:]


def test_asof_join_single_shuffle_on_key(spark):
    """asof_join is the union + ONE keyed window — no join node at all."""
    from osmquadtree_rust_spark.operators.temporal import asof_join

    ev = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "ts": [10, 20], "e": [1, 2]})
    )
    up = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "ts": [5, 15], "px": [0.5, 0.7]})
    )
    p = _plan(asof_join(ev, up))
    assert "Join" not in p.replace("JoinedRow", ""), p[:1500]
    assert p.count("Window") == 1, p[:1500]


def test_ngram_and_multimodal_neardup_plans(spark):
    """The n-gram shared-shingle candidate join and the multimodal
    composition must stay equi-joins (no nested-loop/cartesian), and the
    incremental read must push the tile filter into the parquet scan."""
    from osmquadtree_rust_spark.operators import dedup as D
    from osmquadtree_rust_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h") for i in range(40)],
        "doc_id long, text string",
    )
    p = _plan(D.ngram_neardup_pairs(docs, df_cap=8))
    assert "BroadcastNestedLoopJoin" not in p, p[:1500]
    assert "CartesianProduct" not in p, p[:1500]

    mm = spark.createDataFrame(
        [(i, i * 7, f"w{i} a b c d e f g h") for i in range(40)],
        "image_id long, phash long, caption string",
    )
    for policy in ("both", "any"):
        p = _plan(MM.multimodal_neardup_pairs(mm, policy=policy))
        assert "BroadcastNestedLoopJoin" not in p, p[:1500]
        assert "CartesianProduct" not in p, p[:1500]


def test_incremental_read_prunes_tiles(spark, tmp_path):
    """read_changes_between(tiles=...) must reach the scan as a partition
    filter — pruned tiles are never read from storage."""
    from osmquadtree_rust_spark.plans import checkpoint as CK

    base = str(tmp_path / "store")
    s0 = spark.range(0, 40).select(
        F.col("id"), F.lit(0).cast("long").alias("changetype"),
        (F.col("id") % 4).alias("tile"),
    )
    s1 = spark.range(0, 20).select(
        F.col("id"), F.lit(0).cast("long").alias("changetype"),
        (F.col("id") % 4).alias("tile"),
    )
    CK.write_tiles_checkpointed(s0, base, "s0", n_batches=2)
    CK.append_filelist(base, "s0", 100, "base")
    CK.write_tiles_checkpointed(s1, base, "s1", n_batches=2)
    CK.append_filelist(base, "s1", 200, "change")

    pruned = CK.read_changes_between(spark, base, 100, 200, tiles=[1, 3])
    rows = pruned.collect()
    assert {r.tile for r in rows} == {1, 3}
    assert {r.id for r in rows} == {i for i in range(20) if i % 4 in (1, 3)}
    # the tile filter reaches the scan as a PARTITION filter (pruned
    # directories are never opened); input_file_name() is unusable here —
    # the fold's shuffle erases file provenance
    p = _plan(pruned)
    pf = [c[:80] for c in p.split("PartitionFilters: ")[1:]]
    assert pf and all("tile" in c and "IN (1,3)" in c for c in pf), pf


def test_round4_ops_no_quadratic_or_single_partition(spark):
    """Round-4 operators: no nested-loop/cartesian pair generation (the
    broadcast cross against a literal <=9-row offsets frame is the one
    sanctioned NLJ) and no SinglePartition window over data-scale input."""
    import numpy as np

    from osmquadtree_rust_spark.functions import qt_numpy as Q
    from osmquadtree_rust_spark.operators import sketch as SK
    from osmquadtree_rust_spark.operators import similarity as SIM
    from osmquadtree_rust_spark.operators.spatial_join import (
        knn_within_radius,
        qt_neighbors,
    )
    from osmquadtree_rust_spark.operators.text import (
        token_cooccurrence,
        top_frac_per_group,
    )

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "alpha beta gamma delta " * 3) for i in range(60)],
        "doc_id long, source string, text string",
    )
    pts = spark.createDataFrame(
        [(i, 100000000 + i * 37917, 450000000 + i * 70123) for i in range(50)],
        "id long, lon long, lat long",
    )
    cells = spark.createDataFrame(
        [(i, int(Q.from_xyz(np.array([i % 8]), np.array([i % 8]), np.array([5]))[0]))
         for i in range(20)],
        "id long, qt long",
    )
    emb = _embeddings(spark, n=60, dim=8)
    # filter, not limit(): GlobalLimit plans its own SinglePartition
    # exchange and would trip the window assertion below spuriously
    queries = emb.filter("vec_id < 4").withColumnRenamed("vec_id", "query_id")
    cents = [[float(j == d) for d in range(8)] for j in range(3)]

    scored = docs.withColumn("quality", F.length("text").cast("long"))
    plans = {
        "cooc": _plan(token_cooccurrence(docs, window=2)),
        "top_frac": _plan(top_frac_per_group(scored)),
        "knn": _plan(knn_within_radius(pts, 300000, k=2)),
        "qt_nbrs": _plan(qt_neighbors(cells, 5)),
        "hh": _plan(SK.heavy_hitters(docs, threshold=5)),
        "annj": _plan(SIM.ivf_topk_join(queries, emb, cents, k=3, n_probe=2)),
    }
    for name, p in plans.items():
        assert "CartesianProduct" not in p, (name, p[:1500])
        # windows must never run on one task: every windowspecdefinition
        # needs a hashpartitioning Exchange upstream, not SinglePartition
        if "windowspecdefinition" in p:
            assert "Exchange SinglePartition" not in p, (name, p[:2000])
    # the only NLJ allowed anywhere is the <=9-row offsets broadcast
    for name in ("cooc", "top_frac", "hh", "annj"):
        assert "BroadcastNestedLoopJoin" not in plans[name], name


def test_update_decision_table_single_pass(spark, tmp_path):
    """The decision table reads its join + route frame once: each snapshot
    of the as-of `stored` fold is scanned once, the route and encode UDFs
    each cross into Python once, and a moved element yields its new-tile
    row plus exactly one Remove tombstone.  The output schema is the one
    the former row/tombstone union had."""
    import oracle_qt as O
    from osmquadtree_rust_spark.functions import qt_numpy as Q
    from osmquadtree_rust_spark.functions import qt_spark as qs
    from osmquadtree_rust_spark.operators.merge import CREATE, DELETE, MODIFY, REMOVE
    from osmquadtree_rust_spark.plans import checkpoint as CK
    from osmquadtree_rust_spark.plans.pipeline import make_route_udf
    from osmquadtree_rust_spark.streaming import updates as U

    a, b = O.from_string("A"), O.from_string("B")
    route = make_route_udf(spark, np.array(sorted([a, b]), dtype=np.int64))
    west = [(i, -900000000 + 1000 * i, 400000000) for i in range(1, 6)]
    qts = Q.calculate_point(np.array([p[1] for p in west]), np.array([p[2] for p in west]))
    base = str(tmp_path / "store")
    rows = [(i, int(q), a, 0) for (i, _, _), q in zip(west, qts)]
    for snap, ts, part in (("s0", 100, rows[:4]), ("s1", 200, rows[4:])):
        df = spark.createDataFrame(part, "id long, qt long, tile long, changetype int")
        CK.write_tiles_checkpointed(df, base, snap, n_batches=2)
        CK.append_filelist(base, snap, ts, "base" if snap == "s0" else "change")
    stored = CK.read_snapshot_as_of(spark, base, 200, keys=("tile", "id")).select(
        "id", F.col("qt").alias("qt_old"), F.col("tile").alias("alloc")
    )
    changes = spark.createDataFrame(
        [(1, MODIFY), (2, DELETE), (3, MODIFY), (6, CREATE)], "id long, changetype int"
    )
    moved_to = {1: (900000000, 400000000), 3: (-899996999, 400000000), 6: (800000000, 300000000)}
    new_qts = qs.with_bbox_qt(
        spark.createDataFrame(
            [(i, x, y, x, y) for i, (x, y) in moved_to.items()],
            "id long, minlon long, minlat long, maxlon long, maxlat long",
        ),
        "minlon", "minlat", "maxlon", "maxlat", "qt",
    ).select("id", "qt")

    delta = U.update_decision_table(changes, stored, new_qts, route)
    got = sorted((r.id, r.tile, r.changetype) for r in delta.collect())
    assert got == [
        (1, a, REMOVE), (1, b, MODIFY), (2, a, DELETE), (3, a, MODIFY), (6, b, CREATE)
    ]
    assert delta.dtypes == [
        ("id", "bigint"), ("tile", "bigint"), ("qt", "bigint"), ("changetype", "int")
    ]
    # after execution the adaptive plan string holds the final plan first,
    # then the initial one.  The fold must read both snapshots, so two
    # scans means each is scanned once
    p = _plan(delta).split("== Initial Plan ==")[0]
    assert p.count("FileScan parquet") == 2, p
    assert p.count("ArrowEvalPython") == 2, p


def _exchanges(df) -> list[str]:
    return [ln for ln in _plan(df).splitlines() if "Exchange" in ln]


def test_stage_pin_fixes_exchange_count(spark):
    """pin(df, k) IS the exchange the window on k needs, at the core
    count; pin(df) is one round-robin spread to the core count."""
    import re

    from pyspark.sql import Window

    from osmquadtree_rust_spark.stages import pin

    par = spark.sparkContext.defaultParallelism
    df = spark.range(200).withColumn("k", F.col("id") % 7)
    ranked = pin(df, "k").withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    ex = _exchanges(ranked)
    assert len(ex) == 1, ex
    assert re.search(rf"hashpartitioning\(k#\d+L?, {par}\)", ex[0]), ex

    ex = _exchanges(pin(df))
    assert len(ex) == 1 and f"RoundRobinPartitioning({par})" in ex[0], ex


def test_stage_spread_only_widens_narrow_scans(spark, tmp_path):
    from osmquadtree_rust_spark.stages import spread

    par = spark.sparkContext.defaultParallelism
    one = str(tmp_path / "one")
    spark.range(200).coalesce(1).write.parquet(one)
    narrow = spark.read.parquet(one)
    assert narrow.rdd.getNumPartitions() < par
    ex = _exchanges(spread(narrow))
    assert len(ex) == 1 and f"RoundRobinPartitioning({par})" in ex[0], ex

    many = str(tmp_path / "many")
    spark.range(200).repartition(par).write.parquet(many)
    wide = spark.read.parquet(many)
    assert wide.rdd.getNumPartitions() >= par
    assert _exchanges(spread(wide)) == []


def _local_frame_cases():
    import datetime

    from pyspark.sql.types import (
        DateType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    def keyed(gtype, keys):
        # the histogram-round frames: group key typed from user data
        schema = StructType([StructField("__rg", gtype), StructField("__rnid", LongType())])
        return [(k, i) for i, k in enumerate(keys)], schema

    return {
        "long": ([(1, 2**62 + 1), (2, None), (None, -(2**63))], "rel_id long, qt long"),
        "int": ([(0, -1, 1), (1, None, 0)], "k int, dx int, dy int"),
        "double": (
            [(1, float("nan")), (2, None), (3, 0.5), (4, float("inf")), (5, -0.0)],
            "id long, dist_sq double",
        ),
        "string_binary": (
            [("v0", b"\x00\xff"), (None, b""), ("", None), ("v3", bytearray(b"ab"))],
            "video_id string, bytes binary",
        ),
        "array_long": (
            [(1, [1, 2**62 + 1]), (2, []), (3, None), (4, [None, -1])],
            "id long, refs array<long>",
        ),
        "array_struct_dicts": (
            [
                (1, [{"role": "outer", "mem_type": 1, "mem_ref": 2**62 + 1}]),
                (2, [{"role": "", "mem_type": 2, "mem_ref": None}]),
                (3, []),
                (4, None),
            ],
            "id long, members array<struct<role:string, mem_type:int, mem_ref:long>>",
        ),
        "array_struct_tuples": (
            [(1, [("", 2, 7), ("inner", 0, None)]), (2, []), (3, None)],
            "id long, members array<struct<role:string, mem_type:int, mem_ref:long>>",
        ),
        "empty": ([], "id long, fp long, sz long"),
        "not_null": (
            [("a", 1, 0), (None, 2, 5)],
            StructType([
                StructField("__g", StringType()),
                StructField("__bkt", LongType(), False),
                StructField("__off", LongType(), False),
            ]),
        ),
        "date_key": keyed(DateType(), [datetime.date(2024, 2, 29), None]),
        "timestamp_key": keyed(
            TimestampType(), [datetime.datetime(2024, 2, 29, 23, 59, 59, 999999), None]
        ),
    }


@pytest.mark.parametrize("case", sorted(_local_frame_cases()))
def test_local_frame_matches_row_path(spark, case):
    """local_frame gives the rows and schema the row-list path gives —
    NaN stays NaN, NULL stays NULL, int64 stays exact above 2**53 — and
    plans as a local relation with no Python-RDD scan."""
    from osmquadtree_rust_spark.session import local_frame

    rows, schema = _local_frame_cases()[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_rel_qt_fixpoint_has_no_python_rdd(spark, tmp_path):
    """The rel->rel fixed point ships its driver-side state back as local
    relations: the executed plan holds no Python-RDD scan, and its one
    Python boundary is the node point encode."""
    from osmquadtree_rust_spark.gate import GATE

    spark.range(1, 3000).select(F.col("id").alias("o_orderkey")).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    df = GATE["rel_qt_fixpoint"]["spark"](spark, str(tmp_path))
    df.write.format("noop").mode("overwrite").save()
    p = _plan(df)
    assert "ExistingRDD" not in p and "LogicalRDD" not in p, p
    assert p.split("== Initial Plan ==")[0].count("ArrowEvalPython") == 1, p


def test_driver_frames_only_through_local_frame():
    """Driver-built frames have one way in: `createDataFrame(` and
    `parallelize(` appear in the package only inside session.local_frame."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "osmquadtree_rust_spark"
    session = pkg / "session.py"
    (fn,) = [
        n
        for n in ast.walk(ast.parse(session.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    ]
    found = [
        (str(path.relative_to(pkg)), i)
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\b(createDataFrame|parallelize)\(", line)
        and not (path == session and fn.lineno <= i <= fn.end_lineno)
    ]
    assert found == [], found
