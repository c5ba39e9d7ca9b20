"""Correctness-gate query registry.

Each entry pairs a Spark implementation (running the *engine* code paths:
pandas-UDF cell encode, native bit-math aggregates, operator modules) with
an independent DuckDB oracle SQL string over the same inputs.  Inputs are
either the driver's parquet tables (region nation customer supplier part
orders lineitem events documents embeddings) or deterministic `range(n)`
synthetics whose derivation (sources/synth.py) is dialect-neutral SQL both
engines evaluate identically.

Column names and types are normalized on both sides (explicit CASTs) so
the driver's row-count / schema / value-hash comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import geo_sql
from .functions import parse as PARSE
from .functions import qt_spark as qs
from .functions import qt_sql as qsql
from .operators import merge as M
from .sources import synth
from .session import local_frame
from .stages import pin, spread

GATE: dict[str, dict] = {}


def _register(name):
    def deco(fn):
        GATE.setdefault(name, {})["spark"] = fn
        return fn

    return deco


def _oracle(name):
    def deco(fn):
        GATE.setdefault(name, {})["oracle"] = fn
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t plus stages.spread, for gates whose first heavy stage is a
    derived PROJECTION over the raw table (text splits/shingles,
    synthetic md5 embeddings, regex scrubs): measured, redact_pii — a
    pure projection — spent its whole 3.6 s wall single-task at sf1.0.
    Scan-pushdown-sensitive gates keep using _t."""
    return spread(_t(spark, sf_dir, name))


# ===========================================================================
# 1. TPC-H Q1 style pricing summary (baseline agg path)
# ===========================================================================

_Q1_SQL = """
SELECT
  l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
       AS sum_disc_price,
  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))
       * CAST(1.0 + l_tax AS DECIMAL(18,2)) AS DECIMAL(30,6))) AS DOUBLE)
       AS sum_charge,
  CAST(FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
       * 1000000.0 / COUNT(*)) AS BIGINT) AS avg_qty_ppm,
  CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
       * 1000000.0 / COUNT(*)) AS BIGINT) AS avg_price_ppm,
  CAST(FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
       * 1000000.0 / COUNT(*)) AS BIGINT) AS avg_disc_ppm,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@_register("tpch_q1_pricing")
def _q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q1_SQL)


@_oracle("tpch_q1_pricing")
def _q1_o() -> str:
    return _Q1_SQL


# ===========================================================================
# 2. point cells: synthetic footprints on events -> qt level-18 point cells
# ===========================================================================

def _events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < _EVENTS_CAP)
        .select("event_id")
    )
    e = synth.synth_geo_exprs("event_id")
    return ev.withColumn("lon", F.expr(e["lon"])).withColumn("lat", F.expr(e["lat"]))


_EV_SYNTH_SQL = None


def _events_synth_sql() -> str:
    e = synth.synth_geo_exprs("event_id")
    return (
        f"SELECT event_id, {e['lon']} AS lon, {e['lat']} AS lat, "
        f"{e['minlon']} AS minlon, {e['minlat']} AS minlat, "
        f"{e['maxlon']} AS maxlon, {e['maxlat']} AS maxlat FROM events "
        f"WHERE event_id < {_EVENTS_CAP}"
    )


@_register("qt_point_cells")
def _qpc(spark, sf_dir):
    pts = _events_points(spark, sf_dir)
    return qs.with_point_qt(pts, "lon", "lat").select(
        "event_id", F.col("qt").cast("long").alias("qt")
    )


@_oracle("qt_point_cells")
def _qpc_o() -> str:
    inner = qsql.qt_calculate_point_subquery(
        _events_synth_sql(), "lon", "lat", "qt", ("event_id",)
    )
    return f"SELECT event_id, CAST(qt AS BIGINT) AS qt FROM ({inner}) q"


@_register("qt_cell_histogram")
def _qch(spark, sf_dir):
    pts = _events_points(spark, sf_dir)
    cells = qs.with_point_qt(pts, "lon", "lat")
    return (
        cells.withColumn("cell", qs.qt_round("qt", 17))
        .groupBy("cell")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("cell").cast("long"), F.col("cnt").cast("long"))
    )


@_oracle("qt_cell_histogram")
def _qch_o() -> str:
    inner = qsql.qt_calculate_point_subquery(
        _events_synth_sql(), "lon", "lat", "qt", ("event_id",)
    )
    r17 = qsql.qt_round_sql("qt", 17)
    return (
        f"SELECT CAST({r17} AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS cnt "
        f"FROM ({inner}) q GROUP BY 1"
    )


_ROLLUP_DEPTHS = (4, 10, 17)


@_register("qt_rollup_pyramid")
def _qrp(spark, sf_dir):
    # tile-pyramid rollup: one pass produces every level's histogram;
    # level consistency (parent count == sum of children) is implied by
    # the per-level hash match against the independently-computed oracle
    from .operators import count as CNT

    pts = _events_points(spark, sf_dir)
    cells = qs.with_point_qt(pts, "lon", "lat")
    return CNT.qt_rollup(cells, depths=_ROLLUP_DEPTHS).select(
        F.col("depth").cast("long"),
        F.col("cell").cast("long"),
        F.col("cnt").cast("long"),
    )


@_oracle("qt_rollup_pyramid")
def _qrp_o() -> str:
    inner = qsql.qt_calculate_point_subquery(
        _events_synth_sql(), "lon", "lat", "qt", ("event_id",)
    )
    levels = " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS depth, "
        f"CAST({qsql.qt_round_sql('qt', d)} AS BIGINT) AS cell, "
        f"CAST(COUNT(*) AS BIGINT) AS cnt FROM pts GROUP BY 1, 2"
        for d in _ROLLUP_DEPTHS
    )
    return f"WITH pts AS MATERIALIZED ({inner}) {levels}"


@_register("qt_footprint_cells")
def _qfc(spark, sf_dir):
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < _EVENTS_CAP)
        .select("event_id")
    )
    e = synth.synth_geo_exprs("event_id")
    fp = ev
    for c in ("minlon", "minlat", "maxlon", "maxlat"):
        fp = fp.withColumn(c, F.expr(e[c]))
    return qs.with_bbox_qt(fp, "minlon", "minlat", "maxlon", "maxlat").select(
        "event_id", F.col("qt").cast("long").alias("qt")
    )


@_oracle("qt_footprint_cells")
def _qfc_o() -> str:
    inner = qsql.qt_calculate_subquery(
        _events_synth_sql(), "minlon", "minlat", "maxlon", "maxlat", "qt", ("event_id",)
    )
    return f"SELECT event_id, CAST(qt AS BIGINT) AS qt FROM ({inner}) q"


# ===========================================================================
# 3. flagship tile assignment on the fixed-size synthetic image table
# ===========================================================================

_TILE_N = 20000
_TILE_TARGET = 4000


@_register("tile_assignment")
def _ta(spark, sf_dir):
    from .plans import pipeline as P

    # persist=False: a cached encode would outlive the query, unreachable
    # from the returned frame
    assigned, _ = P.tile_synthetic_images(
        spark, _TILE_N, target=_TILE_TARGET, persist=False
    )
    return assigned.select(
        F.col("id").cast("long").alias("img_id"),
        F.col("qt").cast("long").alias("qt"),
        F.col("tile").cast("long").alias("tile"),
    )


def _oracle_synth_enc_sql(n: int = _TILE_N) -> str:
    """DuckDB qt-encode subquery over the n-row synthetic footprint
    table (shared by the tile_assignment / raster_tiles / update oracles)."""
    e = synth.synth_geo_exprs("id")
    base = (
        f"SELECT id, {e['minlon']} AS minlon, {e['minlat']} AS minlat, "
        f"{e['maxlon']} AS maxlon, {e['maxlat']} AS maxlat "
        f"FROM range({n}) t(id)"
    )
    return qsql.qt_calculate_subquery(
        base, "minlon", "minlat", "maxlon", "maxlat", "qt", ("id",)
    )


def _oracle_synth_groups(
    n: int = _TILE_N, target: int = _TILE_TARGET
) -> tuple[list[int], str]:
    """(group cells, VALUES literal) via the INDEPENDENT insertion-order
    scalar oracle tree (tests/oracle_tiles.py — shares no code with
    operators/tiles.py) over the DuckDB-computed level-17 histogram of the
    synthetic footprint cells.  Single source of truth for every oracle
    that needs the synthetic tiling; changing the grouping semantics here
    changes all of them together."""
    import os
    import sys

    import duckdb

    tests_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
    )
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    import oracle_tiles as OT

    enc = _oracle_synth_enc_sql(n)
    con = duckdb.connect()
    r17 = qsql.qt_round_sql("qt", 17)
    hist = con.execute(
        f"SELECT {r17} AS cell, COUNT(*) AS w FROM ({enc}) q GROUP BY 1"
    ).fetchall()
    otree = OT.OracleTree()
    for c, w in sorted(hist):
        otree.add(int(c), int(w))
    gcells = sorted(c for c, _ in otree.find_tree_groups(target, target // 2))
    gvals = ", ".join(f"({int(c)}, {int(c) & 31})" for c in gcells)
    return [int(c) for c in gcells], gvals


def _oracle_route_sql(qt_expr: str) -> str:
    """Deepest-group-ancestor routing of a qt expression against the
    `groups(cell, d)` CTE (COALESCE 0 = unrouted fallback)."""
    rnd = (
        f"(CASE WHEN (({qt_expr}) & 31) <= g.d THEN ({qt_expr}) "
        f"ELSE ((({qt_expr}) >> (63 - 2*g.d)) << (63 - 2*g.d)) + g.d END)"
    )
    return (
        f"COALESCE((SELECT g.cell FROM groups g WHERE {rnd} = g.cell "
        f"ORDER BY g.d DESC LIMIT 1), 0)"
    )


@_oracle("tile_assignment")
def _ta_o() -> str:
    # Fully independent evaluation path: cells via the DuckDB encode
    # subquery; the (metadata-scale) group map via the independent oracle
    # tree; routing in SQL via a correlated deepest-ancestor lookup.
    enc = _oracle_synth_enc_sql()
    _, gvals = _oracle_synth_groups()
    return (
        f"WITH enc AS ({enc}), groups(cell, d) AS (VALUES {gvals}) "
        f"SELECT CAST(q.id AS BIGINT) AS img_id, CAST(q.qt AS BIGINT) AS qt, "
        f"CAST({_oracle_route_sql('q.qt')} AS BIGINT) AS tile FROM enc q"
    )


# ===========================================================================
# 4. way bbox -> cell, node LCA (calcqts semantics over lineitem/part keys)
# ===========================================================================

# ---------------------------------------------------------------------------
# Gate-corpus caps (r7 bench hygiene, VERDICT r6 task #3): bench.py now
# times the FULL registry at sf0.1, so gates whose cost is superlinear in
# corpus size (pair-quadratic dedup verify, eps-graph percolation, E2E
# store builds) cap their input at a fixed id prefix.  Every driver
# table's ids are 0..N-1 and every cap is >= the sf0.01 table size, so
# the driver's sf0.01 CORRECTNESS corpora are byte-identical to round 6;
# only the sf0.1 bench walls are bounded.  Caps live in the SHARED corpus
# helpers (the spark frame and the SQL-text generator change together),
# so Spark and DuckDB stay consistent by construction.
# ---------------------------------------------------------------------------
_EVENTS_CAP = 20000   # events: sf0.01 has 10k rows, sf0.1 100k
_EDGES_CAP = 24000    # lineitem orderkeys: sf0.01 max 14999, sf0.1 149999
_ORDERS_CAP = 30000   # orders: sf0.01 max 14999, sf0.1 149999
_DOCS2_CAP = 600      # pair-quadratic documents corpora: sf0.01 has 500
#                       (ids 0..499, so the cap is a no-op there); the
#                       templated corpus makes pair cost quadratic in
#                       dup-group size, so 600-vs-1000 is ~0.36x pairs
_EMB_CAP = 500        # doubled embeddings: exactly the sf0.01 table
#                       (ids 0..499) — sf0.1 adds nothing but wall time


def _lineitem_edges(spark, sf_dir):
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < _EDGES_CAP)
        .select(
            F.col("l_orderkey").alias("way_id"),
            F.col("l_partkey").alias("node_id"),
        )
    )
    e = synth.synth_geo_exprs("node_id")
    return li.withColumn("lon", F.expr(e["lon"])).withColumn("lat", F.expr(e["lat"]))


_EDGES_SQL = None


def _edges_sql() -> str:
    e = synth.synth_geo_exprs("node_id")
    return (
        f"SELECT way_id, node_id, {e['lon']} AS lon, {e['lat']} AS lat FROM "
        f"(SELECT l_orderkey AS way_id, l_partkey AS node_id FROM lineitem "
        f"WHERE l_orderkey < {_EDGES_CAP}) __e"
    )


def _way_boxes_sql() -> str:
    return (
        f"SELECT way_id, MIN(lon) AS minlon, MIN(lat) AS minlat, "
        f"MAX(lon) AS maxlon, MAX(lat) AS maxlat FROM ({_edges_sql()}) e GROUP BY way_id"
    )


@_register("way_bbox_qt")
def _wbq(spark, sf_dir):
    edges = _lineitem_edges(spark, sf_dir)
    boxes = edges.groupBy("way_id").agg(
        F.min("lon").alias("minlon"),
        F.min("lat").alias("minlat"),
        F.max("lon").alias("maxlon"),
        F.max("lat").alias("maxlat"),
    )
    return qs.with_bbox_qt(boxes, "minlon", "minlat", "maxlon", "maxlat").select(
        F.col("way_id").cast("long"), F.col("qt").cast("long").alias("qt")
    )


@_oracle("way_bbox_qt")
def _wbq_o() -> str:
    enc = qsql.qt_calculate_subquery(
        _way_boxes_sql(), "minlon", "minlat", "maxlon", "maxlat", "qt", ("way_id",)
    )
    return f"SELECT CAST(way_id AS BIGINT) AS way_id, CAST(qt AS BIGINT) AS qt FROM ({enc}) q"


@_register("node_lca_qt")
def _nlq(spark, sf_dir):
    edges = _lineitem_edges(spark, sf_dir)
    boxes = edges.groupBy("way_id").agg(
        F.min("lon").alias("minlon"),
        F.min("lat").alias("minlat"),
        F.max("lon").alias("maxlon"),
        F.max("lat").alias("maxlat"),
    )
    wq = qs.with_bbox_qt(boxes, "minlon", "minlat", "maxlon", "maxlat").select(
        "way_id", "qt"
    )
    return qs.agg_lca(
        edges.select("way_id", "node_id").join(wq, "way_id"), ["node_id"], "qt", "qt"
    ).select(F.col("node_id").cast("long"), F.col("qt").cast("long").alias("qt"))


@_oracle("node_lca_qt")
def _nlq_o() -> str:
    enc = qsql.qt_calculate_subquery(
        _way_boxes_sql(), "minlon", "minlat", "maxlon", "maxlat", "qt", ("way_id",)
    )
    agg = qsql.qt_common_agg_sql("qt")
    return (
        f"WITH wq AS ({enc}), ed AS (SELECT DISTINCT l_orderkey AS way_id, "
        f"l_partkey AS node_id FROM lineitem WHERE l_orderkey < {_EDGES_CAP}) "
        f"SELECT CAST(ed.node_id AS BIGINT) AS node_id, CAST({agg} AS BIGINT) AS qt "
        f"FROM ed JOIN wq ON ed.way_id = wq.way_id GROUP BY ed.node_id"
    )


# ===========================================================================
# 5. snapshot merge: latest-wins + Delete/Remove drop (combine_block.rs)
# ===========================================================================

@_register("snapshot_merge")
def _sm(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    s = o.select(
        F.expr("CAST((o_orderkey - (o_orderkey % 3)) / 3 AS BIGINT)").alias("id"),
        F.expr("o_orderkey % 3").alias("snapshot"),
        F.expr("CAST(o_orderkey % 6 AS BIGINT)").alias("changetype"),
        F.col("o_totalprice").alias("val"),
    )
    snaps = [s.filter(F.col("snapshot") == i).drop("snapshot") for i in range(3)]
    out = M.merge_changes(snaps[0], snaps[1:], keys=("id",))
    return out.select(
        F.col("id").cast("long"),
        F.col("val").cast("double"),
        F.col("changetype").cast("long"),
    )


@_oracle("snapshot_merge")
def _sm_o() -> str:
    return """
WITH s AS (
  SELECT CAST((o_orderkey - (o_orderkey % 3)) / 3 AS BIGINT) AS id,
         o_orderkey % 3 AS snap,
         CAST(o_orderkey % 6 AS BIGINT) AS changetype,
         o_totalprice AS val
  FROM orders
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY snap DESC) AS rn FROM s
)
SELECT id, CAST(val AS DOUBLE) AS val, CAST(0 AS BIGINT) AS changetype
FROM r WHERE rn = 1 AND changetype NOT IN (1, 2)
"""


# ===========================================================================
# 5b. snapshot-as-of extract: write 4 timestamped snapshots through the
#     checkpointed tile writer + filelist log, then read back "as of"
#     T=200 with tile pruning (reference get_file_locs timestamp cut,
#     filelist.rs:101-219).  The DuckDB oracle derives the same rows
#     relationally from `orders`, so the entire write -> filelist ->
#     as-of read -> latest-wins merge path is gated end-to-end.
# ===========================================================================

_ASOF_TS = 200
_ASOF_TILES = range(8)


def _asof_snapshots(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < _ORDERS_CAP)
    s = o.select(
        F.expr("CAST((o_orderkey - (o_orderkey % 4)) / 4 AS BIGINT)").alias("id"),
        F.expr("o_orderkey % 4").alias("snap"),
        F.expr(
            "CASE WHEN o_orderkey % 4 = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(o_orderkey % 6 AS BIGINT) END"
        ).alias("changetype"),
        F.col("o_totalprice").alias("val"),
    ).withColumn("tile", F.expr("CAST(id % 16 AS BIGINT)"))
    return [s.filter(F.col("snap") == i).drop("snap") for i in range(4)]


_ASOF_STORES: dict[str, str] = {}


@_register("extract_as_of")
def _asof(spark, sf_dir):
    import tempfile

    from .plans import checkpoint as CK

    # one store per (process, sf_dir): repeated gate invocations reuse it
    # instead of leaking a fresh tempdir each run (the result DataFrame is
    # lazy, so the store must outlive this function)
    base = _ASOF_STORES.get(sf_dir)
    if base is None:
        base = tempfile.mkdtemp(prefix="asof_gate_")
        for i, snap in enumerate(_asof_snapshots(spark, sf_dir)):
            CK.write_tiles_checkpointed(snap, base, f"s{i}", n_batches=2)
            CK.append_filelist(base, f"s{i}", timestamp=i * 100,
                               kind="base" if i == 0 else "change")
        _ASOF_STORES[sf_dir] = base
    out = CK.read_snapshot_as_of(spark, base, _ASOF_TS, tiles=_ASOF_TILES)
    return out.select(
        F.col("id").cast("long"),
        F.col("tile").cast("long"),
        F.col("val").cast("double"),
        F.col("changetype").cast("long"),
    )


@_oracle("extract_as_of")
def _asof_o() -> str:
    return f"""
WITH s AS (
  SELECT CAST((o_orderkey - (o_orderkey % 4)) / 4 AS BIGINT) AS id,
         o_orderkey % 4 AS snap,
         CASE WHEN o_orderkey % 4 = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(o_orderkey % 6 AS BIGINT) END AS changetype,
         o_totalprice AS val
  FROM orders WHERE o_orderkey < {_ORDERS_CAP}
), cut AS (
  SELECT * FROM s WHERE snap * 100 <= {_ASOF_TS}
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY snap DESC) AS rn FROM cut
)
SELECT CAST(id AS BIGINT) AS id, CAST(id % 16 AS BIGINT) AS tile,
       CAST(val AS DOUBLE) AS val, CAST(0 AS BIGINT) AS changetype
FROM r WHERE rn = 1 AND changetype NOT IN (1, 2) AND (id % 16) < 8
"""


# ===========================================================================
# 5b'. update_roundtrip: the full §2.10 chain in ONE plan — OSC-style
#      change frame (node modifies/deletes/creates + way deletes) ->
#      touched-id harvest -> restricted qt recompute -> decision table
#      incl. Remove tombstones for moved elements (find_update.rs:536-668)
#      -> change tiles written through the checkpointed writer -> filelist
#      registration -> read_snapshot_as_of returns the post-update world
#      (run_update.rs:201-354 analog).  The tiling (group cells) is the
#      FIXED synthetic partitioning — updates reuse the base snapshot's
#      tiling exactly as the reference does; the as-of merge folds per
#      (tile, id) so a moved element's old-tile tombstone kills the old
#      copy while its new-tile row survives.
# ===========================================================================

_UPD_TS = 100
_UPD_CREATE_OFF = 10_000_000_000
_UPD_MOD_SHIFT = 777777
_UPD_STORES: dict[str, str] = {}


def _upd_change_nodes(nodes):
    from .operators.merge import CREATE, DELETE, MODIFY

    em = synth.synth_geo_exprs(f"(id + {_UPD_MOD_SHIFT})")
    mods = (
        nodes.filter(F.expr("id % 7 = 3"))
        .select(
            "id",
            F.expr(em["lon"]).alias("lon"),
            F.expr(em["lat"]).alias("lat"),
        )
        .withColumn("changetype", F.lit(MODIFY))
    )
    dels = nodes.filter(F.expr("id % 11 = 5 AND id % 7 <> 3")).withColumn(
        "changetype", F.lit(DELETE)
    )
    ec = synth.synth_geo_exprs(f"(id + {_UPD_CREATE_OFF})")
    creates = (
        nodes.filter(F.expr("id % 13 = 2"))
        .select(
            (F.col("id") + _UPD_CREATE_OFF).alias("id"),
            F.expr(ec["lon"]).alias("lon"),
            F.expr(ec["lat"]).alias("lat"),
        )
        .withColumn("changetype", F.lit(CREATE))
    )
    return mods.unionByName(dels).unionByName(creates)


@_register("update_roundtrip")
def _ur(spark, sf_dir):
    import tempfile

    from .operators import calcqts as C
    from .operators.merge import DELETE
    from .plans import checkpoint as CK
    from .plans import pipeline as P
    from .streaming import updates as U

    base = _UPD_STORES.get(sf_dir)
    if base is None:
        base = tempfile.mkdtemp(prefix="upd_gate_")
        edges = _lineitem_edges(spark, sf_dir)
        ways = (
            edges.groupBy("way_id")
            .agg(F.collect_list("node_id").alias("refs"))
            .select(F.col("way_id").alias("id"), "refs")
        )
        nodes = edges.select(F.col("node_id").alias("id"), "lon", "lat").distinct()
        wq = C.way_qts(nodes, ways)
        nq = C.node_qts(nodes, ways, wq)
        allq = nq.withColumn("etype", F.lit(0)).unionByName(
            wq.withColumn("etype", F.lit(1))
        )
        # fixed tiling from the synthetic world (tile_assignment's groups):
        # updates route into the EXISTING partitioning, they never re-tile.
        # Only the group cells are read, so nothing is persisted
        _, group_cells = P.tile_synthetic_images(
            spark, _TILE_N, target=_TILE_TARGET, persist=False
        )
        route = P.make_route_udf(spark, group_cells)
        assigned = allq.withColumn("tile", route(F.col("qt"))).persist()
        uid = (F.col("id") * 4 + F.col("etype")).cast("long")
        base_rows = assigned.select(
            uid.alias("id"),
            F.col("tile").cast("long").alias("tile"),
            F.col("qt").cast("long").alias("qt"),
            F.lit(0).cast("int").alias("changetype"),
        )
        CK.write_tiles_checkpointed(base_rows, base, "s0", n_batches=2)
        CK.append_filelist(base, "s0", timestamp=0, kind="base")

        change_nodes = _upd_change_nodes(nodes)
        change_ways = ways.filter(F.expr("id % 17 = 4")).withColumn(
            "changetype", F.lit(DELETE)
        )
        stored = assigned.select(
            "etype", "id", "qt", F.col("tile").alias("alloc")
        )
        delta, _, _ = U.run_update(
            nodes, ways, change_nodes, change_ways, stored, group_cells
        )
        delta_rows = delta.select(
            (F.col("id") * 4 + F.col("etype")).cast("long").alias("id"),
            F.col("tile").cast("long").alias("tile"),
            F.col("qt").cast("long").alias("qt"),
            F.col("changetype").cast("int").alias("changetype"),
        )
        CK.write_tiles_checkpointed(delta_rows, base, "s1", n_batches=2)
        CK.append_filelist(base, "s1", timestamp=_UPD_TS, kind="change")
        assigned.unpersist()
        _UPD_STORES[sf_dir] = base
    out = CK.read_snapshot_as_of(spark, base, _UPD_TS, keys=("tile", "id"))
    return out.select(
        F.col("id").cast("long"),
        F.col("tile").cast("long"),
        F.col("qt").cast("long"),
        F.col("changetype").cast("long"),
    )


def _upd_delta_with() -> str:
    """Shared WITH-prefix deriving the update run's change set (`delta`)
    relationally from the input tables — consumed by the update_roundtrip
    oracle (which folds it onto the stored base) and the incremental_read
    oracle (which reads it verbatim)."""
    # group cells via the shared independent oracle-tree construction
    # (same tiling the tile_assignment / raster_tiles oracles pin)
    _, gvals = _oracle_synth_groups()
    rt = _oracle_route_sql

    en = synth.synth_geo_exprs("node_id")
    em = synth.synth_geo_exprs(f"(id + {_UPD_MOD_SHIFT})")
    ec = synth.synth_geo_exprs(f"(id + {_UPD_CREATE_OFF})")
    wq0 = qsql.qt_calculate_subquery(
        _way_boxes_sql(), "minlon", "minlat", "maxlon", "maxlat", "qt", ("way_id",)
    )
    wb1_base = (
        "SELECT ed.way_id, MIN(n1.lon) AS minlon, MIN(n1.lat) AS minlat, "
        "MAX(n1.lon) AS maxlon, MAX(n1.lat) AS maxlat "
        "FROM ed JOIN n1 ON ed.node_id = n1.id "
        "WHERE ed.way_id IN (SELECT id FROM sw) GROUP BY ed.way_id"
    )
    wq1 = qsql.qt_calculate_subquery(
        wb1_base, "minlon", "minlat", "maxlon", "maxlat", "qt", ("way_id",)
    )
    nq1b = qsql.qt_calculate_point_subquery(
        "SELECT id, lon, lat FROM uncov", "lon", "lat", "qt", ("id",)
    )
    agg = qsql.qt_common_agg_sql("qt")
    return f"""
WITH groups(cell, d) AS (VALUES {gvals}),
ed AS MATERIALIZED (SELECT DISTINCT l_orderkey AS way_id, l_partkey AS node_id
      FROM lineitem WHERE l_orderkey < {_EDGES_CAP}),
n0 AS MATERIALIZED (SELECT node_id AS id, {en['lon']} AS lon, {en['lat']} AS lat
       FROM (SELECT DISTINCT l_partkey AS node_id FROM lineitem
             WHERE l_orderkey < {_EDGES_CAP}) __n),
wq0 AS MATERIALIZED ({wq0}),
nq0 AS MATERIALIZED (SELECT ed.node_id AS id, {agg} AS qt
        FROM ed JOIN wq0 ON ed.way_id = wq0.way_id GROUP BY ed.node_id),
base_el AS MATERIALIZED (SELECT 0 AS etype, id, qt FROM nq0
            UNION ALL SELECT 1, way_id, qt FROM wq0),
stored AS MATERIALIZED (SELECT etype, id, qt AS qt_old, {rt('qt')} AS alloc FROM base_el),
cn AS MATERIALIZED (
  SELECT id, {em['lon']} AS lon, {em['lat']} AS lat, 4 AS ct FROM n0 WHERE id % 7 = 3
  UNION ALL SELECT id, lon, lat, 1 FROM n0 WHERE id % 11 = 5 AND id % 7 <> 3
  UNION ALL SELECT id + {_UPD_CREATE_OFF}, {ec['lon']}, {ec['lat']}, 5
    FROM n0 WHERE id % 13 = 2),
wdel AS MATERIALIZED (SELECT DISTINCT way_id AS id FROM ed WHERE way_id % 17 = 4),
n1 AS MATERIALIZED (SELECT id, lon, lat FROM n0 WHERE id NOT IN (SELECT id FROM cn)
       UNION ALL SELECT id, lon, lat FROM cn WHERE ct NOT IN (1, 2)),
tw AS MATERIALIZED (SELECT DISTINCT way_id AS id FROM ed
       WHERE node_id IN (SELECT id FROM cn)
         AND way_id NOT IN (SELECT id FROM wdel)
       UNION SELECT id FROM wdel),
sw AS MATERIALIZED (SELECT id FROM tw WHERE id NOT IN (SELECT id FROM wdel)),
wq1 AS MATERIALIZED ({wq1}),
refs1 AS MATERIALIZED (SELECT DISTINCT node_id AS id FROM ed
          WHERE way_id IN (SELECT id FROM sw)),
ncs AS MATERIALIZED (SELECT id, ct FROM cn
        UNION ALL SELECT id, 0 FROM refs1
         WHERE id NOT IN (SELECT id FROM cn)),
nq1a AS MATERIALIZED (SELECT ed.node_id AS id, {agg} AS qt
         FROM ed JOIN wq1 ON ed.way_id = wq1.way_id GROUP BY ed.node_id),
subn AS MATERIALIZED (SELECT n1.id, n1.lon, n1.lat FROM n1
         WHERE n1.id IN (SELECT id FROM cn) OR n1.id IN (SELECT id FROM refs1)),
uncov AS MATERIALIZED (SELECT id, lon, lat FROM subn WHERE id NOT IN (SELECT id FROM nq1a)),
nq1b AS MATERIALIZED ({nq1b}),
nq1 AS MATERIALIZED (SELECT id, qt FROM nq1a UNION ALL SELECT id, qt FROM nq1b),
ndj AS MATERIALIZED (SELECT c.id, c.ct, s.qt_old, s.alloc, q.qt AS qt_new,
               {rt('COALESCE(q.qt, 0)')} AS na
        FROM ncs c
        LEFT JOIN (SELECT * FROM stored WHERE etype = 0) s ON s.id = c.id
        LEFT JOIN nq1 q ON q.id = c.id),
wcs AS MATERIALIZED (SELECT id, 1 AS ct FROM wdel
        UNION ALL SELECT id, 0 FROM tw WHERE id NOT IN (SELECT id FROM wdel)),
wdj AS MATERIALIZED (SELECT c.id, c.ct, s.qt_old, s.alloc, q.qt AS qt_new,
               {rt('COALESCE(q.qt, 0)')} AS na
        FROM wcs c
        LEFT JOIN (SELECT * FROM stored WHERE etype = 1) s ON s.id = c.id
        LEFT JOIN (SELECT way_id AS id, qt FROM wq1) q ON q.id = c.id),
delta AS MATERIALIZED (
  SELECT id * 4 + 0 AS uid, na AS tile, qt_new AS qt, 3 AS ct FROM ndj
   WHERE ct = 0 AND alloc IS NOT NULL AND qt_new IS NOT NULL AND qt_new <> qt_old
  UNION ALL SELECT id * 4, alloc, 0, 1 FROM ndj
   WHERE ct = 1 AND alloc IS NOT NULL
  UNION ALL SELECT id * 4, na, qt_new, 4 FROM ndj
   WHERE ct = 4 AND alloc IS NOT NULL AND qt_new IS NOT NULL
  UNION ALL SELECT id * 4, na, qt_new, ct FROM ndj
   WHERE ct IN (4, 5) AND alloc IS NULL AND qt_new IS NOT NULL
  UNION ALL SELECT id * 4, alloc, 0, 2 FROM ndj
   WHERE ct IN (0, 4) AND alloc IS NOT NULL AND qt_new IS NOT NULL
     AND na <> alloc AND (ct = 4 OR qt_new <> qt_old)
  UNION ALL SELECT id * 4 + 1, na, qt_new, 3 FROM wdj
   WHERE ct = 0 AND alloc IS NOT NULL AND qt_new IS NOT NULL AND qt_new <> qt_old
  UNION ALL SELECT id * 4 + 1, alloc, 0, 1 FROM wdj
   WHERE ct = 1 AND alloc IS NOT NULL
  UNION ALL SELECT id * 4 + 1, alloc, 0, 2 FROM wdj
   WHERE ct = 0 AND alloc IS NOT NULL AND qt_new IS NOT NULL
     AND na <> alloc AND qt_new <> qt_old)"""


@_oracle("update_roundtrip")
def _ur_o() -> str:
    return (
        _upd_delta_with()
        + """,
world AS MATERIALIZED (
  SELECT 0 AS snap, id * 4 + etype AS uid, alloc AS tile, qt_old AS qt, 0 AS ct
    FROM stored
  UNION ALL SELECT 1, uid, tile, qt, ct FROM delta),
rr AS MATERIALIZED (SELECT *, ROW_NUMBER() OVER (PARTITION BY tile, uid ORDER BY snap DESC) AS rn
       FROM world)
SELECT CAST(uid AS BIGINT) AS id, CAST(tile AS BIGINT) AS tile,
       CAST(qt AS BIGINT) AS qt, CAST(0 AS BIGINT) AS changetype
FROM rr WHERE rn = 1 AND ct NOT IN (1, 2)
"""
    )


@_register("incremental_read")
def _inc(spark, sf_dir):
    # Iceberg-analog incremental scan over the same store update_roundtrip
    # builds: the net change in (0, _UPD_TS], tombstones included.  The
    # oracle is the relationally-derived update delta itself — so this
    # gate pins that read_changes_between returns EXACTLY what the update
    # run committed, without touching the base snapshot.
    from .plans import checkpoint as CK

    _ur(spark, sf_dir)  # ensure the cached store exists
    base = _UPD_STORES[sf_dir]
    out = CK.read_changes_between(spark, base, 0, _UPD_TS, keys=("tile", "id"))
    return out.select(
        F.col("id").cast("long"),
        F.col("tile").cast("long"),
        F.col("qt").cast("long"),
        F.col("changetype").cast("long"),
    )


@_oracle("incremental_read")
def _inc_o() -> str:
    return (
        _upd_delta_with()
        + """
SELECT CAST(uid AS BIGINT) AS id, CAST(tile AS BIGINT) AS tile,
       CAST(qt AS BIGINT) AS qt, CAST(ct AS BIGINT) AS changetype
FROM delta
"""
    )


@_register("dedup_max_version")
def _dmv(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    s = o.select(
        F.expr("o_orderkey % 1000").alias("id"),
        F.col("o_orderkey").alias("version"),
        F.col("o_totalprice").alias("val"),
    )
    return M.dedup_max_version(s, keys=("id",), version_col="version").select(
        F.col("id").cast("long"), F.col("version").cast("long"), F.col("val").cast("double")
    )


@_oracle("dedup_max_version")
def _dmv_o() -> str:
    return """
WITH s AS (
  SELECT o_orderkey % 1000 AS id, o_orderkey AS version, o_totalprice AS val
  FROM orders
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY version DESC) AS rn FROM s
)
SELECT CAST(id AS BIGINT) AS id, CAST(version AS BIGINT) AS version,
       CAST(val AS DOUBLE) AS val
FROM r WHERE rn = 1
"""


# ===========================================================================
# 5c. relation qt fixpoint: the exactly-5-pass rel->rel propagation
#     (calcinmem.rs:197-241 + calculate.rs:786-855) over a synthetic
#     relation graph with ascending (a < b) edges — for such edges the
#     reference's in-pass Gauss-Seidel order equals Jacobi (a is always
#     processed before its parent b, so it sees b's previous-pass value),
#     which lets the DuckDB oracle unroll the 5 passes exactly.  Chains of
#     length 4 exercise multi-pass propagation; dangling parents exercise
#     the pass-5 missing-parent -> 0 rule; k%13 rels are empty -> qt 0.
# ===========================================================================

@_register("rel_qt_fixpoint")
def _rqf(spark, sf_dir):
    from .operators import calcqts as CQ

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < _ORDERS_CAP)
        .select(F.col("o_orderkey").alias("k"))
    )
    e = synth.synth_geo_exprs("k")
    nodes = o.select(
        F.col("k").alias("id"),
        F.expr(e["lon"]).alias("lon"),
        F.expr(e["lat"]).alias("lat"),
    )
    nqts = qs.with_point_qt(nodes, "lon", "lat", "qt").select("id", "qt")
    members = F.expr(
        """CASE
        WHEN k % 13 = 0 THEN array()
        WHEN k % 5 = 0 THEN array(named_struct('mem_type', 0, 'mem_ref', k))
        WHEN k % 11 = 0 THEN array(
            named_struct('mem_type', 2, 'mem_ref', k + 1),
            named_struct('mem_type', 2, 'mem_ref', k * 1000 + 7))
        ELSE array(named_struct('mem_type', 2, 'mem_ref', k + 1))
        END"""
    )
    relations = o.select(F.col("k").alias("id"), members.alias("members"))
    wqts = local_frame(spark, [], "id long, qt long")
    rq = CQ.rel_qts(relations, nqts, wqts, spark)
    return rq.select(F.col("id").cast("long"), F.col("qt").cast("long"))


@_oracle("rel_qt_fixpoint")
def _rqf_o() -> str:
    e = synth.synth_geo_exprs("k")
    pts = qsql.qt_calculate_point_subquery(
        f"SELECT o_orderkey AS k, {e['lon']} AS lon, {e['lat']} AS lat "
        f"FROM orders WHERE o_orderkey < {_ORDERS_CAP}",
        "lon",
        "lat",
        "qt",
        ("k",),
    )
    agg = qsql.qt_common_agg_sql("qt")
    passes = []
    for p in range(1, 6):
        prev = f"s{p - 1}"
        missing = (
            f" UNION ALL SELECT e.a AS id, CAST(0 AS BIGINT) AS qt "
            f"FROM edges e LEFT JOIN {prev} ps ON ps.id = e.b WHERE ps.id IS NULL"
            if p == 5
            else ""
        )
        passes.append(
            f"v{p} AS (SELECT id, qt FROM {prev} "
            f"UNION ALL SELECT e.a AS id, ps.qt FROM edges e JOIN {prev} ps ON ps.id = e.b"
            f"{missing}), "
            f"s{p} AS (SELECT id, CAST({agg} AS BIGINT) AS qt FROM v{p} GROUP BY id)"
        )
    return f"""
WITH pts AS ({pts}),
rels AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < {_ORDERS_CAP}),
s0 AS (
  SELECT r.k AS id, CAST(p.qt AS BIGINT) AS qt FROM rels r JOIN pts p ON p.k = r.k
  WHERE r.k % 5 = 0 AND r.k % 13 != 0
  UNION ALL
  SELECT k AS id, CAST(0 AS BIGINT) AS qt FROM rels WHERE k % 13 = 0
),
edges AS (
  SELECT k AS a, k + 1 AS b FROM rels WHERE k % 5 != 0 AND k % 13 != 0
  UNION ALL
  SELECT k AS a, k * 1000 + 7 AS b FROM rels
  WHERE k % 11 = 0 AND k % 5 != 0 AND k % 13 != 0
),
{', '.join(passes)}
SELECT CAST(id AS BIGINT) AS id,
       CAST(CASE WHEN qt < 0 OR qt IS NULL THEN 0 ELSE qt END AS BIGINT) AS qt
FROM s5
"""


# ===========================================================================
# 5d. as-of (point-in-time) join: events pick the latest price update with
#     update.ts <= event.ts per user.  Spark: union + keyed-window trick
#     (operators/temporal.asof_join — one shuffle, no theta join); oracle:
#     DuckDB's NATIVE ASOF LEFT JOIN executor — a genuinely independent
#     implementation of the same semantics.
# ===========================================================================

_ASOF_USERS = 150
_ASOF_TS0 = 1704000000
_ASOF_SPAN = 2700000


def _asof_updates(spark, sf_dir):
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    u0 = o.select(
        (F.col("o_custkey") % _ASOF_USERS).alias("user_id"),
        (F.lit(_ASOF_TS0) + (F.col("o_orderkey") * 37) % _ASOF_SPAN).alias("ets"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderkey"),
    )
    w = Window.partitionBy("user_id", "ets").orderBy(F.col("o_orderkey").desc())
    # pin the dedup window's stage (byte-coalesced to 1 task at sf1.0)
    return (
        pin(u0, "user_id", "ets")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ets", "price")
    )


@_register("asof_join_prices")
def _asof_join(spark, sf_dir):
    from .operators import temporal as TMP

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("ets"),
    )
    upd = _asof_updates(spark, sf_dir)
    out = TMP.asof_join(ev, upd, key="user_id", ts="ets")
    return out.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.col("ets").cast("long"),
        F.col("price").cast("double"),
    )


@_oracle("asof_join_prices")
def _asof_join_o() -> str:
    return f"""
WITH ev AS (
  SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ets
  FROM events
),
u0 AS (
  SELECT o_custkey % {_ASOF_USERS} AS user_id,
         {_ASOF_TS0} + (o_orderkey * 37) % {_ASOF_SPAN} AS ets,
         o_totalprice AS price, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey % {_ASOF_USERS},
             {_ASOF_TS0} + (o_orderkey * 37) % {_ASOF_SPAN}
             ORDER BY o_orderkey DESC) AS rn
  FROM orders
),
upd AS (SELECT user_id, ets, price FROM u0 WHERE rn = 1)
SELECT e.event_id, e.user_id, e.ets, CAST(u.price AS DOUBLE) AS price
FROM ev e ASOF LEFT JOIN upd u
  ON e.user_id = u.user_id AND e.ets >= u.ets
"""


_ASOF_TOL = 50000  # staleness cutoff (seconds) — bites on a real fraction


@_register("asof_join_tolerance")
def _asof_join_t(spark, sf_dir):
    # same inputs as asof_join_prices, with a staleness tolerance: a
    # matched price older than event.ts - tolerance reverts to NULL.  The
    # oracle is DuckDB's native ASOF executor plus the same cutoff on the
    # matched update timestamp.
    from .operators import temporal as TMP

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("ets"),
    )
    upd = _asof_updates(spark, sf_dir)
    out = TMP.asof_join(ev, upd, key="user_id", ts="ets", tolerance=_ASOF_TOL)
    return out.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.col("ets").cast("long"),
        F.col("price").cast("double"),
    )


@_oracle("asof_join_tolerance")
def _asof_join_t_o() -> str:
    return f"""
WITH ev AS (
  SELECT CAST(event_id AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ets
  FROM events
),
u0 AS (
  SELECT o_custkey % {_ASOF_USERS} AS user_id,
         {_ASOF_TS0} + (o_orderkey * 37) % {_ASOF_SPAN} AS ets,
         o_totalprice AS price, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey % {_ASOF_USERS},
             {_ASOF_TS0} + (o_orderkey * 37) % {_ASOF_SPAN}
             ORDER BY o_orderkey DESC) AS rn
  FROM orders
),
upd AS (SELECT user_id, ets, price FROM u0 WHERE rn = 1)
SELECT e.event_id, e.user_id, e.ets,
       CAST(CASE WHEN u.ets >= e.ets - {_ASOF_TOL} THEN u.price END
            AS DOUBLE) AS price
FROM ev e ASOF LEFT JOIN upd u
  ON e.user_id = u.user_id AND e.ets >= u.ets
"""


@_register("asof_join_bucketed_prices")
def _asof_join_b(spark, sf_dir):
    # identical inputs and oracle as asof_join_prices, driven through the
    # SKEW-SAFE bucketed implementation — DuckDB's native ASOF executor
    # gates both forms, pinning their equivalence on real data
    from .operators import temporal as TMP

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("ets"),
    )
    upd = _asof_updates(spark, sf_dir)
    out = TMP.asof_join_bucketed(
        ev, upd, key="user_id", ts="ets", bucket=86400
    )
    return out.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.col("ets").cast("long"),
        F.col("price").cast("double"),
    )


@_oracle("asof_join_bucketed_prices")
def _asof_join_b_o() -> str:
    return _asof_join_o()


# ===========================================================================
# 11b. bucketed range join: events against validity intervals — candidate
#      generation via bucket explode + equi-join; the DuckDB oracle is the
#      plain inequality join the operator must reproduce exactly
# ===========================================================================

_RJ_IV_LEN0 = 600
_RJ_IV_MOD = 7200


def _rj_intervals(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.expr("o_orderkey % 20 = 0"))
    return o.select(
        F.col("o_orderkey").cast("long").alias("iv_id"),
        (F.lit(_ASOF_TS0) + (F.col("o_orderkey") * 53) % _ASOF_SPAN)
        .cast("long")
        .alias("start"),
        (
            F.lit(_ASOF_TS0)
            + (F.col("o_orderkey") * 53) % _ASOF_SPAN
            + _RJ_IV_LEN0
            + F.col("o_orderkey") % _RJ_IV_MOD
        )
        .cast("long")
        .alias("end"),
    )


@_register("range_join_intervals")
def _rj(spark, sf_dir):
    from .operators import temporal as TMP

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("ets"),
    )
    iv = _rj_intervals(spark, sf_dir)
    out = TMP.bucketed_range_join(
        ev, iv, ts="ets", start="start", end="end", bucket_seconds=3600
    )
    return out.select(
        F.col("event_id").cast("long"),
        F.col("iv_id").cast("long"),
        F.col("ets").cast("long"),
    )


@_oracle("range_join_intervals")
def _rj_o() -> str:
    return f"""
WITH ev AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ets
  FROM events
),
iv AS (
  SELECT CAST(o_orderkey AS BIGINT) AS iv_id,
         {_ASOF_TS0} + (o_orderkey * 53) % {_ASOF_SPAN} AS s,
         {_ASOF_TS0} + (o_orderkey * 53) % {_ASOF_SPAN}
           + {_RJ_IV_LEN0} + o_orderkey % {_RJ_IV_MOD} AS e
  FROM orders WHERE o_orderkey % 20 = 0
)
SELECT ev.event_id, iv.iv_id, ev.ets
FROM ev JOIN iv ON iv.s <= ev.ets AND ev.ets < iv.e
"""


# ===========================================================================
# 6. count statistics (count.rs)
# ===========================================================================

@_register("count_stats")
def _cs(spark, sf_dir):
    pts = _events_points(spark, sf_dir)
    return pts.agg(
        F.count("*").cast("long").alias("num"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
        F.min("lon").cast("long").alias("minlon"),
        F.min("lat").cast("long").alias("minlat"),
        F.max("lon").cast("long").alias("maxlon"),
        F.max("lat").cast("long").alias("maxlat"),
    )


@_oracle("count_stats")
def _cs_o() -> str:
    return (
        f"SELECT CAST(COUNT(*) AS BIGINT) AS num, "
        f"CAST(MIN(event_id) AS BIGINT) AS min_id, "
        f"CAST(MAX(event_id) AS BIGINT) AS max_id, "
        f"CAST(MIN(lon) AS BIGINT) AS minlon, CAST(MIN(lat) AS BIGINT) AS minlat, "
        f"CAST(MAX(lon) AS BIGINT) AS maxlon, CAST(MAX(lat) AS BIGINT) AS maxlat "
        f"FROM ({_events_synth_sql()}) e"
    )


@_register("count_by_changetype")
def _cbc(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("changetype", F.expr("CAST(event_id % 6 AS BIGINT)"))
        .groupBy("changetype")
        .agg(
            F.count("*").cast("long").alias("num"),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
    )


@_oracle("count_by_changetype")
def _cbc_o() -> str:
    return (
        "SELECT CAST(event_id % 6 AS BIGINT) AS changetype, "
        "CAST(COUNT(*) AS BIGINT) AS num, CAST(MIN(event_id) AS BIGINT) AS min_id, "
        "CAST(MAX(event_id) AS BIGINT) AS max_id FROM events GROUP BY 1"
    )


# ===========================================================================
# 7. spatial filter: bbox + concave-polygon PIP (filter_elements.rs)
# ===========================================================================

_POLY_VX = [0.0, 40.0, 40.0, 20.0, 20.0, 0.0]
_POLY_VY = [0.0, 0.0, 20.0, 20.0, 45.0, 45.0]
_FILTER_BBOX = (-100000000, -100000000, 500000000, 500000000)


@_register("filter_bbox_poly")
def _fbp(spark, sf_dir):
    from .operators import filter as FL

    pts = _events_points(spark, sf_dir)
    poly = FL.Poly(_POLY_VX, _POLY_VY)
    out = FL.filter_points(pts, _FILTER_BBOX, poly)
    return out.select(F.col("event_id").cast("long"))


@_oracle("filter_bbox_poly")
def _fbp_o() -> str:
    bb = geo_sql.bbox_contains_point_sql(_FILTER_BBOX, "lon", "lat")
    pip = geo_sql.pnpoly_sql(
        _POLY_VX, _POLY_VY, "CAST(lon AS DOUBLE) * 0.0000001", "CAST(lat AS DOUBLE) * 0.0000001"
    )
    return (
        f"SELECT CAST(event_id AS BIGINT) AS event_id FROM ({_events_synth_sql()}) e "
        f"WHERE {bb} AND {pip}"
    )


# ===========================================================================
# 8. id-closure semi-joins (filter_elements.rs:298-376)
# ===========================================================================

_CLOSURE_BBOX = (0, -200000000, 400000000, 300000000)


@_register("id_closure")
def _ic(spark, sf_dir):
    from .operators.filter import bbox_contains_point

    edges = _lineitem_edges(spark, sf_dir)
    in_nodes = (
        edges.filter(bbox_contains_point(_CLOSURE_BBOX))
        .select("node_id")
        .distinct()
    )
    sel_ways = (
        edges.join(in_nodes, "node_id", "left_semi").select("way_id").distinct()
    )
    exnodes = (
        edges.join(sel_ways, "way_id", "left_semi")
        .select("node_id")
        .distinct()
        .join(in_nodes, "node_id", "left_anti")
    )
    return (
        in_nodes.select(F.lit("node").alias("cls"), F.col("node_id").cast("long").alias("id"))
        .unionByName(
            exnodes.select(F.lit("exnode").alias("cls"), F.col("node_id").cast("long").alias("id"))
        )
        .unionByName(
            sel_ways.select(F.lit("way").alias("cls"), F.col("way_id").cast("long").alias("id"))
        )
    )


@_oracle("id_closure")
def _ic_o() -> str:
    a, b, c, d = _CLOSURE_BBOX
    return f"""
WITH edges AS ({_edges_sql()}),
in_nodes AS (
  SELECT DISTINCT node_id FROM edges
  WHERE lon >= {a} AND lat >= {b} AND lon <= {c} AND lat <= {d}
),
sel_ways AS (
  SELECT DISTINCT way_id FROM edges WHERE node_id IN (SELECT node_id FROM in_nodes)
),
exnodes AS (
  SELECT DISTINCT node_id FROM edges
  WHERE way_id IN (SELECT way_id FROM sel_ways)
    AND node_id NOT IN (SELECT node_id FROM in_nodes)
)
SELECT 'node' AS cls, CAST(node_id AS BIGINT) AS id FROM in_nodes
UNION ALL
SELECT 'exnode' AS cls, CAST(node_id AS BIGINT) AS id FROM exnodes
UNION ALL
SELECT 'way' AS cls, CAST(way_id AS BIGINT) AS id FROM sel_ways
"""


# ===========================================================================
# mergechanges composed end-to-end (the reference's flagship extract
# command, utils/src/commands/mergechanges.rs): apply changes (node moves
# + way deletes, via the REAL merge operator) -> bbox filter -> id
# closure (ways complete, exnodes included) -> qt per surviving element.
# The individual stages are each gated; this pins their interaction —
# moved nodes change closure membership AND way bboxes/qts, deleted ways
# drop their exclusive nodes.
# ===========================================================================

_MX_SHIFT = 5_000_000


@_register("mergechanges_extract")
def _mx(spark, sf_dir):
    from .operators import merge as M
    from .operators.filter import bbox_contains_point

    edges = _lineitem_edges(spark, sf_dir)
    em = synth.synth_geo_exprs(f"(node_id + {_MX_SHIFT})")

    nodes0 = edges.select("node_id", "lon", "lat").distinct().withColumn(
        "changetype", F.lit(0)
    )
    moved = (
        nodes0.filter(F.col("node_id") % 9 == 2)
        .withColumn("lon", F.expr(em["lon"]))
        .withColumn("lat", F.expr(em["lat"]))
        .withColumn("changetype", F.lit(M.MODIFY))
    )
    mnodes = M.apply_changes(nodes0, moved, keys=("node_id",)).drop("changetype")

    ways0 = edges.select("way_id").distinct().withColumn("changetype", F.lit(0))
    wdel = ways0.filter(F.col("way_id") % 23 == 1).withColumn(
        "changetype", F.lit(M.DELETE)
    )
    mways = M.apply_changes(ways0, wdel, keys=("way_id",)).select("way_id")

    medges = (
        edges.select("way_id", "node_id")
        .join(mways, "way_id", "left_semi")
        .join(mnodes, "node_id")
    )
    in_nodes = (
        medges.filter(bbox_contains_point(_CLOSURE_BBOX))
        .select("node_id")
        .distinct()
    )
    sel_ways = (
        medges.join(in_nodes, "node_id", "left_semi").select("way_id").distinct()
    )
    exnodes = (
        medges.join(sel_ways, "way_id", "left_semi")
        .select("node_id")
        .distinct()
        .join(in_nodes, "node_id", "left_anti")
    )
    sel_nodes = in_nodes.select(F.lit("node").alias("cls"), "node_id").unionByName(
        exnodes.select(F.lit("exnode").alias("cls"), "node_id")
    )
    nq = qs.with_point_qt(sel_nodes.join(mnodes, "node_id"), "lon", "lat")
    boxes = (
        medges.join(sel_ways, "way_id", "left_semi")
        .groupBy("way_id")
        .agg(
            F.min("lon").alias("minlon"),
            F.min("lat").alias("minlat"),
            F.max("lon").alias("maxlon"),
            F.max("lat").alias("maxlat"),
        )
    )
    wq = qs.with_bbox_qt(boxes, "minlon", "minlat", "maxlon", "maxlat")
    return nq.select(
        "cls", F.col("node_id").cast("long").alias("id"), F.col("qt").cast("long")
    ).unionByName(
        wq.select(
            F.lit("way").alias("cls"),
            F.col("way_id").cast("long").alias("id"),
            F.col("qt").cast("long"),
        )
    )


@_oracle("mergechanges_extract")
def _mx_o() -> str:
    a, b, c, d = _CLOSURE_BBOX
    em = synth.synth_geo_exprs(f"(node_id + {_MX_SHIFT})")
    nq = qsql.qt_calculate_point_subquery(
        "SELECT s.cls, s.node_id, n.lon, n.lat FROM sel_nodes s "
        "JOIN mnodes n ON n.node_id = s.node_id",
        "lon",
        "lat",
        "qt",
        ("cls", "node_id"),
    )
    wq = qsql.qt_calculate_subquery(
        "SELECT way_id, MIN(lon) AS minlon, MIN(lat) AS minlat, "
        "MAX(lon) AS maxlon, MAX(lat) AS maxlat FROM medges "
        "WHERE way_id IN (SELECT way_id FROM sel_ways) GROUP BY way_id",
        "minlon",
        "minlat",
        "maxlon",
        "maxlat",
        "qt",
        ("way_id",),
    )
    return f"""
WITH edges AS MATERIALIZED ({_edges_sql()}),
mnodes AS MATERIALIZED (
  SELECT DISTINCT node_id,
         CASE WHEN node_id % 9 = 2 THEN {em['lon']} ELSE lon END AS lon,
         CASE WHEN node_id % 9 = 2 THEN {em['lat']} ELSE lat END AS lat
  FROM edges
),
medges AS MATERIALIZED (
  SELECT e.way_id, e.node_id, n.lon, n.lat
  FROM (SELECT way_id, node_id FROM edges WHERE way_id % 23 <> 1) e
  JOIN mnodes n ON n.node_id = e.node_id
),
in_nodes AS MATERIALIZED (
  SELECT DISTINCT node_id FROM medges
  WHERE lon >= {a} AND lat >= {b} AND lon <= {c} AND lat <= {d}
),
sel_ways AS MATERIALIZED (
  SELECT DISTINCT way_id FROM medges
  WHERE node_id IN (SELECT node_id FROM in_nodes)
),
sel_nodes AS MATERIALIZED (
  SELECT 'node' AS cls, node_id FROM in_nodes
  UNION ALL
  SELECT 'exnode', node_id FROM (
    SELECT DISTINCT node_id FROM medges
    WHERE way_id IN (SELECT way_id FROM sel_ways)
      AND node_id NOT IN (SELECT node_id FROM in_nodes)
  ) x
)
SELECT cls, CAST(node_id AS BIGINT) AS id, CAST(qt AS BIGINT) AS qt FROM ({nq}) nqq
UNION ALL
SELECT 'way' AS cls, CAST(way_id AS BIGINT) AS id, CAST(qt AS BIGINT) AS qt FROM ({wq}) wqq
"""


# ===========================================================================
# 9. windowed event aggregation (streaming shape on the static frame;
#    hour buckets as epoch ints so both engines bucket identically)
# ===========================================================================

@_register("windowed_event_counts")
def _wec(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "win_start",
            F.expr("CAST(FLOOR(unix_timestamp(ts) / 3600) * 3600 AS BIGINT)"),
        )
        .groupBy("win_start", "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.expr(
                "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("total_value"),
        )
    )


@_oracle("windowed_event_counts")
def _wec_o() -> str:
    return (
        "SELECT CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start, "
        "event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value "
        "FROM events GROUP BY 1, 2"
    )


@_register("hopping_window_counts")
def _hwc(spark, sf_dir):
    # sliding windows (1h window, 30m slide): each event in exactly 2
    # windows — integer window-start arithmetic shared with the oracle
    from .streaming.ingest import hopping_window_counts

    ev = _t(spark, sf_dir, "events")
    out = hopping_window_counts(ev, window_seconds=3600, slide_seconds=1800)
    return out.select(
        F.col("win_start").cast("long"),
        F.col("event_type"),
        F.col("n").cast("long"),
        F.col("total_value"),
    )


@_oracle("hopping_window_counts")
def _hwc_o() -> str:
    return """
WITH ex AS (
  SELECT (FLOOR(FLOOR(epoch(ts)) / 1800) - i) * 1800 AS win_start,
         event_type, value
  FROM events, UNNEST(range(0, 2)) AS u(i)
)
SELECT CAST(win_start AS BIGINT) AS win_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM ex GROUP BY 1, 2
"""


_SESSION_GAP = 7200


@_register("session_stats")
def _sess(spark, sf_dir):
    # batch sessionization (gaps-and-islands): per-user sessions with a
    # 2h inactivity gap — the exact relational twin of the
    # applyInPandasWithState streaming operator (streaming/sessions.py)
    from .streaming.sessions import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    out = sessionize_batch(ev, gap_seconds=_SESSION_GAP)
    return out.select(
        F.col("user_id").cast("long"),
        F.col("session_start").cast("long"),
        F.col("session_end").cast("long"),
        F.col("n_events").cast("long"),
        F.col("total_value"),
    )


@_oracle("session_stats")
def _sess_o() -> str:
    return f"""
WITH e AS MATERIALIZED (
  SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS secs, value
  FROM events
),
flagged AS MATERIALIZED (
  SELECT user_id, event_id, secs, value,
         CASE WHEN LAG(secs) OVER w IS NULL
                   OR secs - LAG(secs) OVER w > {_SESSION_GAP}
              THEN 1 ELSE 0 END AS newf
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY secs, event_id)
),
islands AS MATERIALIZED (
  SELECT user_id, secs, value,
         SUM(newf) OVER (PARTITION BY user_id ORDER BY secs, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(MIN(secs) AS BIGINT) AS session_start,
       CAST(MAX(secs) AS BIGINT) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM islands GROUP BY user_id, sid
"""


# ===========================================================================
# 10. classified dataset diff (compareelements.rs analog)
# ===========================================================================

@_register("compare_datasets")
def _cmp(spark, sf_dir):
    from .operators import compare as CMP

    o = _t(spark, sf_dir, "orders")
    left = o.select(F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("val"))
    right = (
        o.filter("o_orderkey % 101 != 0")
        .select(
            F.col("o_orderkey").alias("id"),
            F.when(F.expr("o_orderkey % 97 = 0"), F.col("o_totalprice") + 1.0)
            .otherwise(F.col("o_totalprice"))
            .alias("val"),
        )
    )
    diff = CMP.compare_datasets(left, right, keys=("id",), data_cols=("val",))
    return CMP.compare_summary(diff)


@_oracle("compare_datasets")
def _cmp_o() -> str:
    return """
WITH l AS (SELECT o_orderkey AS id, o_totalprice AS val FROM orders),
r AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS val
  FROM orders WHERE o_orderkey % 101 != 0
),
j AS (
  SELECT COALESCE(l.id, r.id) AS id,
         CASE WHEN r.id IS NULL THEN 'OnlyLeft'
              WHEN l.id IS NULL THEN 'OnlyRight'
              WHEN l.val != r.val THEN 'DifferentData'
              ELSE 'Same' END AS cls
  FROM l FULL OUTER JOIN r ON l.id = r.id
)
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY cls
"""


# ===========================================================================
# 11. multi-join path: TPC-H Q5-style local-supplier revenue (broadcast
#     dims -> SMJ facts; one dialect-neutral SQL for engine and oracle)
# ===========================================================================

_Q5_SQL = """
SELECT n_name,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE)
       AS revenue,
  COUNT(*) AS n_items
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
GROUP BY n_name
"""


@_register("tpch_q5_join_path")
def _q5(spark, sf_dir):
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q5_SQL)


@_oracle("tpch_q5_join_path")
def _q5_o() -> str:
    return _Q5_SQL


# ===========================================================================
# 12. embedding-cosine near-duplicate pairs, LSH-banded (the 100 TB path:
#     sign-LSH bands -> equi-join candidates -> exact cosine verify; no
#     cross product anywhere).  Near-duplicates are planted by unioning a
#     deterministically perturbed copy of each vector (delta integer-derived
#     from (vec_id, dim), identical IEEE arithmetic in both engines), so the
#     planted pairs sit at cos ~0.998 and random pairs below ~0.6.
# ===========================================================================

_EMB_SHIFT = 1000000
_EMB_BANDS = 3
_EMB_PLANES = 12
_EMB_DIM = 64
_EMB_THRESHOLD = 0.8
_EMB_DELTA = "(((vec_id * 31 + {i} * 17) % 13) - 6) * 0.002"


def _doubled_embeddings(spark, sf_dir):
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _EMB_CAP)
        .select("vec_id", "embedding")
    )
    orig = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    delta = _EMB_DELTA.format(i="i")
    pert = emb.select(
        (F.col("vec_id") + _EMB_SHIFT).alias("vec_id"),
        F.expr(
            f"transform(embedding, (x, i) -> CAST(x AS DOUBLE) + {delta})"
        ).alias("embedding"),
    )
    return orig.unionByName(pert)


@_register("embedding_neardup")
def _end(spark, sf_dir):
    from .operators import similarity as SIM

    emb = _doubled_embeddings(spark, sf_dir)
    return SIM.cosine_neardup_pairs(
        emb,
        threshold=_EMB_THRESHOLD,
        bands=_EMB_BANDS,
        planes_per_band=_EMB_PLANES,
        dim=_EMB_DIM,
    )


@_oracle("embedding_neardup")
def _end_o() -> str:
    from .operators.similarity import plane_weights

    orig_elems = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE)" for i in range(_EMB_DIM)
    )
    pert_elems = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) + " + _EMB_DELTA.format(i=i)
        for i in range(_EMB_DIM)
    )

    def bucket_sql(band: int) -> str:
        parts = []
        for j in range(_EMB_PLANES):
            w = plane_weights(band * _EMB_PLANES + j, _EMB_DIM)
            proj = " + ".join(f"e[{i + 1}] * {w[i]}" for i in range(_EMB_DIM))
            parts.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << j} ELSE 0 END)")
        return "(" + " + ".join(parts) + ")"

    banded = " UNION ALL ".join(
        f"SELECT vec_id AS a, {b} AS band, CAST({bucket_sql(b)} AS BIGINT) AS bucket FROM demb"
        for b in range(_EMB_BANDS)
    )
    dot = " + ".join(f"l.e[{i + 1}] * r.e[{i + 1}]" for i in range(_EMB_DIM))
    nrm = lambda t: (
        "SQRT("
        + " + ".join(f"{t}.e[{i + 1}] * {t}.e[{i + 1}]" for i in range(_EMB_DIM))
        + ")"
    )
    cos = f"(({dot}) / ({nrm('l')} * {nrm('r')}))"
    return f"""
WITH demb AS (
  SELECT vec_id, [{orig_elems}] AS e FROM embeddings WHERE vec_id < {_EMB_CAP}
  UNION ALL
  SELECT vec_id + {_EMB_SHIFT} AS vec_id, [{pert_elems}] AS e
  FROM embeddings WHERE vec_id < {_EMB_CAP}
),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT bl.a AS a, br.a AS b
  FROM banded bl JOIN banded br
    ON bl.band = br.band AND bl.bucket = br.bucket AND bl.a < br.a
)
SELECT CAST(c.a AS BIGINT) AS a, CAST(c.b AS BIGINT) AS b,
       CAST(FLOOR({cos} * 1000000.0) AS BIGINT) AS cos_ppm
FROM cand c
JOIN demb l ON l.vec_id = c.a
JOIN demb r ON r.vec_id = c.b
WHERE {cos} >= {_EMB_THRESHOLD}
"""


# ===========================================================================
# 12b. int8-quantized near-dup: quantize the doubled corpus, band, then a
#      PURE INTEGER cos² >= threshold verify — no float anywhere in the
#      predicate, so the comparison is trivially engine-exact
# ===========================================================================

_EMB_I8_THRESHOLD_PPM = 640000  # cos >= 0.8 -> cos² >= 0.64


@_register("embedding_neardup_int8")
def _eni8(spark, sf_dir):
    from .operators import similarity as SIM

    emb = _doubled_embeddings(spark, sf_dir)
    q = SIM.quantize_int8(emb).select("vec_id", "q")
    return SIM.cosine_neardup_pairs_int8(
        q,
        threshold_ppm=_EMB_I8_THRESHOLD_PPM,
        bands=_EMB_BANDS,
        planes_per_band=_EMB_PLANES,
        dim=_EMB_DIM,
    )


@_oracle("embedding_neardup_int8")
def _eni8_o() -> str:
    from .operators.similarity import plane_weights

    orig_elems = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE)" for i in range(_EMB_DIM)
    )
    pert_elems = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) + " + _EMB_DELTA.format(i=i)
        for i in range(_EMB_DIM)
    )

    def bucket_sql(band: int) -> str:
        parts = []
        for j in range(_EMB_PLANES):
            w = plane_weights(band * _EMB_PLANES + j, _EMB_DIM)
            proj = " + ".join(f"q[{i + 1}] * {w[i]}" for i in range(_EMB_DIM))
            parts.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << j} ELSE 0 END)")
        return "(" + " + ".join(parts) + ")"

    banded = " UNION ALL ".join(
        f"SELECT vec_id AS a, {b} AS band, CAST({bucket_sql(b)} AS BIGINT) AS bucket FROM qemb"
        for b in range(_EMB_BANDS)
    )
    dot = " + ".join(f"l.q[{i + 1}] * r.q[{i + 1}]" for i in range(_EMB_DIM))
    nrm = lambda t: " + ".join(
        f"{t}.q[{i + 1}] * {t}.q[{i + 1}]" for i in range(_EMB_DIM)
    )
    return f"""
WITH demb AS (
  SELECT vec_id, [{orig_elems}] AS e FROM embeddings WHERE vec_id < {_EMB_CAP}
  UNION ALL
  SELECT vec_id + {_EMB_SHIFT} AS vec_id, [{pert_elems}] AS e
  FROM embeddings WHERE vec_id < {_EMB_CAP}
),
qemb AS MATERIALIZED (
  SELECT vec_id,
         list_transform(e, x -> CASE WHEN amax = 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(FLOOR(x / amax * 127.0) AS BIGINT) END) AS q
  FROM (SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) AS amax
        FROM demb) t
),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT bl.a AS a, br.a AS b
  FROM banded bl JOIN banded br
    ON bl.band = br.band AND bl.bucket = br.bucket AND bl.a < br.a
),
v AS (
  SELECT c.a, c.b, ({dot}) AS d, ({nrm('l')}) AS na, ({nrm('r')}) AS nb
  FROM cand c
  JOIN qemb l ON l.vec_id = c.a
  JOIN qemb r ON r.vec_id = c.b
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST((d * d * 1000000) // (na * nb) AS BIGINT) AS cos2_ppm
FROM v
WHERE d > 0 AND na > 0 AND nb > 0
  AND d * d * 1000000 >= {_EMB_I8_THRESHOLD_PPM} * na * nb
"""


# ===========================================================================
# 13. geohash index (public-spec alternate hierarchical cell code; exact
#     in both engines via integer bit math)
# ===========================================================================

_GHN_CHARS = 6


@_register("geohash_neighbors")
def _ghn(spark, sf_dir):
    # up-to-8 surrounding cells per point: the recall-complete equi-join
    # prefilter for geohash radius joins (antimeridian wraps, pole rows
    # dropped) — pure shared integer bit math on the (x, y) grid
    from .operators.spatial_join import geohash_neighbors

    pts = _events_points(spark, sf_dir)
    return geohash_neighbors(
        pts, chars=_GHN_CHARS, id_col="event_id"
    ).select(
        F.col("event_id").cast("long"),
        F.col("k").cast("long"),
        F.col("neighbor").cast("long"),
    )


@_oracle("geohash_neighbors")
def _ghn_o() -> str:
    from .functions import geohash as GH

    lon_bits, lat_bits = GH._bits_for(_GHN_CHARS)
    m = 1 << lon_bits
    x, y = GH.geohash_xy_sql("lon", "lat", _GHN_CHARS)
    code = GH.interleave_sql(f"((x + dx + {m}) % {m})", "(y + dy)", _GHN_CHARS)
    from .operators.spatial_join import NEIGHBOR_OFFSETS

    vals = ", ".join(
        f"({k}, {dx}, {dy})" for k, (dx, dy) in enumerate(NEIGHBOR_OFFSETS)
    )
    return f"""
WITH pts AS MATERIALIZED ({_events_synth_sql()}),
g AS MATERIALIZED (SELECT event_id, {x} AS x, {y} AS y FROM pts),
o(k, dx, dy) AS (VALUES {vals})
SELECT CAST(event_id AS BIGINT) AS event_id, CAST(k AS BIGINT) AS k,
       CAST({code} AS BIGINT) AS neighbor
FROM g CROSS JOIN o
WHERE y + dy >= 0 AND y + dy < {1 << lat_bits}
"""


_GRJ_D = 40000  # 0.004 deg in 1e-7 fixed-point — under the chars=6 cell span
_GRJ_FOLD = "((%s %% 10000000 + 10000000) %% 10000000)"  # densify into 1x1 deg


@_register("geohash_radius_join")
def _grj(spark, sf_dir):
    # radius self-join through the neighbor-cell candidate generator;
    # points folded into a 1x1-degree window so the synthetic world is
    # dense enough for pairs to exist (the fold is shared SQL text)
    from .operators.spatial_join import geohash_radius_join

    pts = _events_points(spark, sf_dir).select(
        "event_id",
        F.expr(_GRJ_FOLD % "lon").alias("flon"),
        F.expr(_GRJ_FOLD % "lat").alias("flat"),
    )
    return geohash_radius_join(
        pts, _GRJ_D, lon="flon", lat="flat", chars=6, id_col="event_id"
    ).select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("dist_sq").cast("long"),
    )


@_oracle("geohash_radius_join")
def _grj_o() -> str:
    fold_lon = _GRJ_FOLD % "lon"
    fold_lat = _GRJ_FOLD % "lat"
    return f"""
WITH pts AS MATERIALIZED (
  SELECT event_id, {fold_lon} AS flon, {fold_lat} AS flat
  FROM ({_events_synth_sql()}) e
)
SELECT CAST(a.event_id AS BIGINT) AS a, CAST(b.event_id AS BIGINT) AS b,
       CAST(LEAST(ABS(a.flon - b.flon), 3600000000 - ABS(a.flon - b.flon))
            * LEAST(ABS(a.flon - b.flon), 3600000000 - ABS(a.flon - b.flon))
            + ABS(a.flat - b.flat) * ABS(a.flat - b.flat) AS BIGINT) AS dist_sq
FROM pts a JOIN pts b ON a.event_id < b.event_id
WHERE LEAST(ABS(a.flon - b.flon), 3600000000 - ABS(a.flon - b.flon))
      * LEAST(ABS(a.flon - b.flon), 3600000000 - ABS(a.flon - b.flon))
      + ABS(a.flat - b.flat) * ABS(a.flat - b.flat) <= {_GRJ_D * _GRJ_D}
"""


_ERG_BS = 512


@_register("extract_regroup")
def _erg(spark, sf_dir):
    # the extract writer's 8000-element regrouping (bucketed two-pass, no
    # global single-task window) pinned against the plain definition:
    # block = floor(global id rank / block_size)
    from .plans.extract import regroup_blocks

    ids = (
        _lineitem_edges(spark, sf_dir)
        .select((F.col("way_id") * 100000 + F.col("node_id")).alias("id"))
        .distinct()
    )
    return regroup_blocks(ids, block_size=_ERG_BS).select(
        F.col("id").cast("long"), F.col("block").cast("long")
    )


@_oracle("extract_regroup")
def _erg_o() -> str:
    return f"""
WITH ids AS (
  SELECT DISTINCT l_orderkey * 100000 + l_partkey AS id FROM lineitem
  WHERE l_orderkey < {_EDGES_CAP}
)
SELECT CAST(id AS BIGINT) AS id,
       CAST(FLOOR(CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS DOUBLE)
                  / {_ERG_BS}) AS BIGINT) AS block
FROM ids
"""


_GHR_LEVELS = (2, 4, 6)


@_register("geohash_rollup")
def _ghr(spark, sf_dir):
    # prefix pyramid over the geohash index — qt_rollup's shape on the
    # alternate index, one shuffle for every level
    from .functions import geohash as GH
    from .operators import count as CNT

    pts = _events_points(spark, sf_dir)
    code = F.expr(GH.geohash_int_sql("lon", "lat", 8, dialect="spark"))
    return CNT.geohash_rollup(
        pts.withColumn("gh", code), levels=_GHR_LEVELS
    ).select(
        F.col("chars").cast("long"),
        F.col("prefix").cast("long"),
        F.col("cnt").cast("long"),
    )


@_oracle("geohash_rollup")
def _ghr_o() -> str:
    from .functions import geohash as GH

    g = GH.geohash_int_sql("lon", "lat", 8)
    levels = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS chars, "
        f"CAST(gh >> {5 * (8 - k)} AS BIGINT) AS prefix, "
        f"CAST(COUNT(*) AS BIGINT) AS cnt FROM codes GROUP BY 1, 2"
        for k in _GHR_LEVELS
    )
    return (
        f"WITH codes AS MATERIALIZED "
        f"(SELECT {g} AS gh FROM ({_events_synth_sql()}) e) {levels}"
    )


_BIJ_CAP = 200000  # span cap so chars=6 coverings stay ~3x3 cells


@_register("bbox_intersection_join")
def _bij(spark, sf_dir):
    # rectangle-intersection self-join of the synthetic footprints via
    # grid-covering candidates + reference-point dedup; spans capped and
    # boxes folded into a dense 1x1-degree window (shared SQL text)
    from .operators.spatial_join import bbox_intersection_join

    e = synth.synth_geo_exprs("event_id")
    fp = _t(spark, sf_dir, "events").filter(
        F.col("event_id") < _EVENTS_CAP
    ).select(
        "event_id",
        F.expr(_GRJ_FOLD % f"({e['minlon']})").alias("minlon"),
        F.expr(_GRJ_FOLD % f"({e['minlat']})").alias("minlat"),
        F.expr(f"LEAST(({e['maxlon']}) - ({e['minlon']}), {_BIJ_CAP})").alias("__sx"),
        F.expr(f"LEAST(({e['maxlat']}) - ({e['minlat']}), {_BIJ_CAP})").alias("__sy"),
    ).select(
        "event_id",
        "minlon",
        "minlat",
        (F.col("minlon") + F.col("__sx")).alias("maxlon"),
        (F.col("minlat") + F.col("__sy")).alias("maxlat"),
    )
    return bbox_intersection_join(fp, chars=6, id_col="event_id").select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("ix_area").cast("long"),
    )


@_oracle("bbox_intersection_join")
def _bij_o() -> str:
    e = synth.synth_geo_exprs("event_id")
    fl = _GRJ_FOLD % f"({e['minlon']})"
    fb = _GRJ_FOLD % f"({e['minlat']})"
    sx = f"LEAST(({e['maxlon']}) - ({e['minlon']}), {_BIJ_CAP})"
    sy = f"LEAST(({e['maxlat']}) - ({e['minlat']}), {_BIJ_CAP})"
    return f"""
WITH fp AS MATERIALIZED (
  SELECT event_id, {fl} AS minlon, {fb} AS minlat,
         {fl} + {sx} AS maxlon, {fb} + {sy} AS maxlat
  FROM events WHERE event_id < {_EVENTS_CAP}
)
SELECT CAST(a.event_id AS BIGINT) AS a, CAST(b.event_id AS BIGINT) AS b,
       CAST((LEAST(a.maxlon, b.maxlon) - GREATEST(a.minlon, b.minlon))
            * (LEAST(a.maxlat, b.maxlat) - GREATEST(a.minlat, b.minlat))
            AS BIGINT) AS ix_area
FROM fp a JOIN fp b ON a.event_id < b.event_id
WHERE a.minlon <= b.maxlon AND b.minlon <= a.maxlon
  AND a.minlat <= b.maxlat AND b.minlat <= a.maxlat
"""


@_register("geohash_cells")
def _gh(spark, sf_dir):
    from .functions import geohash as GH

    pts = _events_points(spark, sf_dir)
    g = F.expr(GH.geohash_int_sql("lon", "lat", 8, dialect="spark"))
    out = pts.withColumn("gh", g)
    # prefix bucket = first 4 chars = top 20 bits of the 40-bit code
    return out.select(
        F.col("event_id").cast("long"),
        F.col("gh").cast("long"),
        F.expr("shiftright(gh, 20)").cast("long").alias("gh4"),
    )


@_oracle("geohash_cells")
def _gh_o() -> str:
    from .functions import geohash as GH

    g = GH.geohash_int_sql("lon", "lat", 8)
    return (
        f"SELECT CAST(event_id AS BIGINT) AS event_id, CAST({g} AS BIGINT) AS gh, "
        f"CAST(({g}) >> 20 AS BIGINT) AS gh4 FROM ({_events_synth_sql()}) e"
    )


# ===========================================================================
# 14. way/relation count statistics (count.rs WayCount) over synthesized
#     ways; the oracle expresses the same stats via the edge table
# ===========================================================================

@_register("way_stats")
def _ws(spark, sf_dir):
    from .operators import count as CN

    li = _t(spark, sf_dir, "lineitem")
    ways = (
        li.groupBy(F.col("l_orderkey").alias("id"))
        .agg(F.collect_list("l_partkey").alias("refs"))
    )
    return CN.way_stats(ways)


@_oracle("way_stats")
def _ws_o() -> str:
    return """
WITH per_way AS (
  SELECT l_orderkey AS id, COUNT(*) AS n_refs,
         MIN(l_partkey) AS mn, MAX(l_partkey) AS mx
  FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS num,
       CAST(MIN(id) AS BIGINT) AS min_id,
       CAST(MAX(id) AS BIGINT) AS max_id,
       CAST(SUM(n_refs) AS BIGINT) AS num_refs,
       CAST(MAX(n_refs) AS BIGINT) AS max_refs_len,
       CAST(MIN(mn) AS BIGINT) AS min_ref,
       CAST(MAX(mx) AS BIGINT) AS max_ref
FROM per_way
"""


# ===========================================================================
# all-points kNN within radius: geohash_radius_join candidates symmetrized
# + the salted skew-safe top-k, ranked by exact integer distance
# (operators/spatial_join.knn_within_radius)
# ===========================================================================

_KNN_RJ_K = 3


@_register("knn_radius_join")
def _knnrj(spark, sf_dir):
    from .operators.spatial_join import knn_within_radius

    # event_id % 2 halves the points (quarters the candidate pairs):
    # bench hygiene — this was the single most expensive gate (~16% of
    # the r4 bench wall); the operator's own scale behavior is covered
    # by the full-density geohash_radius_join gate + sf0.1 bench
    pts = _events_points(spark, sf_dir).filter(
        F.col("event_id") % 2 == 0
    ).select(
        "event_id",
        F.expr(_GRJ_FOLD % "lon").alias("flon"),
        F.expr(_GRJ_FOLD % "lat").alias("flat"),
    )
    out = knn_within_radius(
        pts, _GRJ_D, k=_KNN_RJ_K, lon="flon", lat="flat", id_col="event_id"
    )
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("dist_sq").cast("long"),
        F.col("rk").cast("long"),
    )


@_oracle("knn_radius_join")
def _knnrj_o() -> str:
    fold_lon = _GRJ_FOLD % "lon"
    fold_lat = _GRJ_FOLD % "lat"
    dl = "ABS(a.flon - b.flon)"
    dist = (
        f"LEAST({dl}, 3600000000 - {dl}) * LEAST({dl}, 3600000000 - {dl}) "
        f"+ ABS(a.flat - b.flat) * ABS(a.flat - b.flat)"
    )
    return f"""
WITH pts AS MATERIALIZED (
  SELECT event_id, {fold_lon} AS flon, {fold_lat} AS flat
  FROM ({_events_synth_sql()}) e
  WHERE event_id % 2 = 0
),
pairs AS MATERIALIZED (
  SELECT a.event_id AS a, b.event_id AS b, CAST({dist} AS BIGINT) AS dist_sq
  FROM pts a JOIN pts b ON a.event_id != b.event_id
  WHERE {dist} <= {_GRJ_D * _GRJ_D}
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, dist_sq,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT a, b, dist_sq,
         ROW_NUMBER() OVER (PARTITION BY a ORDER BY dist_sq, b) AS rk
  FROM pairs
) WHERE rk <= {_KNN_RJ_K}
"""


# ===========================================================================
# interval merge + coverage report (operators/temporal.merge_intervals /
# coverage_stats): per-user validity intervals synthesized from events
# (duration = 1800 + event_id % 7200, shared SQL text), merged into
# maximal islands, folded to covered/islands/span/max_gap
# ===========================================================================

_IVC_DUR = "(1800 + (event_id % 7200))"


@_register("interval_coverage")
def _ivc(spark, sf_dir):
    from .operators.temporal import coverage_stats

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("start"),
        F.expr(
            f"CAST(FLOOR(unix_timestamp(ts)) AS BIGINT) + {_IVC_DUR}"
        ).alias("end"),
    )
    out = coverage_stats(iv, key="user_id")
    return out.select(
        F.col("user_id").cast("long"),
        F.col("covered").cast("long"),
        F.col("n_islands").cast("long"),
        F.col("span").cast("long"),
        F.col("max_gap").cast("long"),
    )


@_oracle("interval_coverage")
def _ivc_o() -> str:
    return f"""
WITH iv AS MATERIALIZED (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CAST(FLOOR(epoch(ts)) AS BIGINT) + {_IVC_DUR} AS e
  FROM events
),
flagged AS MATERIALIZED (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER wp IS NULL OR s > MAX(e) OVER wp
              THEN 1 ELSE 0 END AS newf
  FROM iv
  WINDOW wp AS (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
islands AS MATERIALIZED (
  SELECT user_id, s, e,
         SUM(newf) OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS UNBOUNDED PRECEDING) AS isl
  FROM flagged
),
m AS MATERIALIZED (
  SELECT user_id, MIN(s) AS island_start, MAX(e) AS island_end
  FROM islands GROUP BY user_id, isl
),
g AS MATERIALIZED (
  SELECT user_id, island_start, island_end,
         island_start - LAG(island_end) OVER (PARTITION BY user_id
                                              ORDER BY island_start) AS gap
  FROM m
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(island_end - island_start) AS BIGINT) AS covered,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MAX(island_end) - MIN(island_start) AS BIGINT) AS span,
       CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap
FROM g GROUP BY user_id
"""


# ===========================================================================
# qt_neighbors: 8-neighbor expansion on the NATIVE quadtree index
# (operators/spatial_join.qt_neighbors) — level-14 cells of the event
# points (boundary points that encode shallower than 14 are filtered on
# both sides, shared semantics)
# ===========================================================================

_QTN_LEVEL = 14


@_register("qt_neighbors")
def _qtn(spark, sf_dir):
    from .operators.spatial_join import qt_neighbors

    pts = _events_points(spark, sf_dir)
    cells = (
        qs.with_point_qt(pts, "lon", "lat")
        .withColumn("cell", qs.qt_round("qt", _QTN_LEVEL))
        .filter(F.expr(f"(cell & 31) = {_QTN_LEVEL}"))
        .select("event_id", "cell")
    )
    out = qt_neighbors(
        cells, _QTN_LEVEL, qt_col="cell", id_col="event_id"
    )
    return out.select(
        F.col("event_id").cast("long"),
        F.col("k").cast("long"),
        F.col("neighbor").cast("long"),
    )


@_oracle("qt_neighbors")
def _qtn_o() -> str:
    from .operators.spatial_join import NEIGHBOR_OFFSETS

    inner = qsql.qt_calculate_point_subquery(
        _events_synth_sql(), "lon", "lat", "qt", ("event_id",)
    )
    # stage the raw encode FIRST: qt_round_sql references its argument 4x
    # and the depth filter doubles that — inlining the 18-level encode
    # chain 8x is the DuckDB substitution blowup (CLAUDE.md); each later
    # stage only ever touches materialized columns
    r = qsql.qt_round_sql("qt", _QTN_LEVEL)
    xs = qsql.qt_to_x_sql("cell", _QTN_LEVEL)
    ys = qsql.qt_to_y_sql("cell", _QTN_LEVEL)
    m = 1 << _QTN_LEVEL
    arms = []
    for k, (dx, dy) in enumerate(NEIGHBOR_OFFSETS):
        xn = f"((x + ({dx}) + {m}) % {m})"
        yn = f"(y + ({dy}))"
        code = qsql.qt_from_xyz_sql(xn, yn, _QTN_LEVEL)
        arms.append(
            f"SELECT event_id, CAST({k} AS BIGINT) AS k, "
            f"CAST({code} AS BIGINT) AS neighbor FROM xy "
            f"WHERE {yn} >= 0 AND {yn} < {m}"
        )
    return f"""
WITH q0 AS MATERIALIZED (
  SELECT event_id, CAST(qt AS BIGINT) AS qt FROM ({inner}) q
),
cells AS MATERIALIZED (
  SELECT event_id, CAST({r} AS BIGINT) AS cell FROM q0
),
cells14 AS MATERIALIZED (
  SELECT event_id, cell FROM cells WHERE (cell & 31) = {_QTN_LEVEL}
),
xy AS MATERIALIZED (
  SELECT event_id, {xs} AS x, {ys} AS y FROM cells14
)
{" UNION ALL ".join(arms)}
"""


# ===========================================================================
# exact integer shoelace polygon stats (operators/filter.polygon_stats):
# rings synthesized per user from the event points (seq = event_id) —
# shoelace is well-defined for any closed polyline, so no geometric
# simplicity is needed for the correctness gate
# ===========================================================================

@_register("polygon_stats")
def _pstats(spark, sf_dir):
    from .operators.filter import polygon_stats

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    pts = _events_points(spark, sf_dir).select(
        "event_id",
        F.expr(_GRJ_FOLD % "lon").alias("lon"),
        F.expr(_GRJ_FOLD % "lat").alias("lat"),
    )
    verts = ev.join(pts, "event_id").select(
        F.col("user_id").alias("poly_id"),
        F.col("event_id").alias("seq"),
        "lon",
        "lat",
    )
    out = polygon_stats(verts)
    return out.select(
        F.col("poly_id").cast("long"),
        F.col("n_vertices").cast("long"),
        F.col("area2").cast("long"),
        F.col("abs_area2").cast("long"),
        F.col("ccw").cast("long"),
        F.col("minlon").cast("long"),
        F.col("minlat").cast("long"),
        F.col("maxlon").cast("long"),
        F.col("maxlat").cast("long"),
    )


@_oracle("polygon_stats")
def _pstats_o() -> str:
    return f"""
WITH pts AS MATERIALIZED (
  SELECT e.user_id AS poly_id, s.event_id AS seq,
         CAST({_GRJ_FOLD % "s.lon"} AS BIGINT) AS x,
         CAST({_GRJ_FOLD % "s.lat"} AS BIGINT) AS y
  FROM ({_events_synth_sql()}) s JOIN events e ON s.event_id = e.event_id
),
t AS MATERIALIZED (
  SELECT poly_id, seq, x, y,
         x - MIN(x) OVER (PARTITION BY poly_id) AS tx,
         y - MIN(y) OVER (PARTITION BY poly_id) AS ty
  FROM pts
),
edges AS MATERIALIZED (
  SELECT poly_id, x, y, tx, ty,
         COALESCE(LEAD(tx) OVER w, FIRST_VALUE(tx) OVER w) AS nx,
         COALESCE(LEAD(ty) OVER w, FIRST_VALUE(ty) OVER w) AS ny
  FROM t
  WINDOW w AS (PARTITION BY poly_id ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT CAST(poly_id AS BIGINT) AS poly_id,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(SUM(tx * ny - nx * ty) AS BIGINT) AS area2,
       CAST(ABS(SUM(tx * ny - nx * ty)) AS BIGINT) AS abs_area2,
       CAST(CASE WHEN SUM(tx * ny - nx * ty) > 0 THEN 1 ELSE 0 END AS BIGINT) AS ccw,
       CAST(MIN(x) AS BIGINT) AS minlon, CAST(MIN(y) AS BIGINT) AS minlat,
       CAST(MAX(x) AS BIGINT) AS maxlon, CAST(MAX(y) AS BIGINT) AS maxlat
FROM edges GROUP BY poly_id
"""


# ===========================================================================
# great-circle radius join (operators/spatial_join.haversine_radius_join):
# the metric-radius generalization of geohash_radius_join.  Points are
# md5-uniform in a 0.1 x 0.1 degree window at 45 deg latitude (so
# cos(lat) genuinely shrinks longitude degrees; the md5 derivation is
# the shared cross-engine hash, giving a density the events synth's
# hotspot skew cannot distort) and paired within 500 m great-circle.
# The hav term is numpy sin/cos == libm == DuckDB (measured boundary);
# the threshold is ONE repr literal in both engines.  The oracle
# brute-forces pairs behind a cheap integer planar prefilter whose
# bound (computed at the window's max latitude) is a strict superset of
# the operator's candidate bound — both supersets of the true
# hav <= thr set, so the final predicate decides identically.
# ===========================================================================

_HRJ_D_M = 500.0
_HRJ_WIN = 1000000  # 0.1 degree in 1e-7 fixed-point


def _hrj_pt_sql(dialect: str) -> tuple[str, str]:
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    from .functions import text_sql as TS

    lon = TS.md5_prefix_int_sql(
        f"concat('hrjlon:', CAST(doc_id AS {cast}))", dialect
    )
    lat = TS.md5_prefix_int_sql(
        f"concat('hrjlat:', CAST(doc_id AS {cast}))", dialect
    )
    return (
        f"(({lon}) % {_HRJ_WIN})",
        f"(({lat}) % {_HRJ_WIN} + 450000000)",
    )


@_register("haversine_radius_join")
def _hrj(spark, sf_dir):
    from .operators.spatial_join import haversine_radius_join

    lon_sql, lat_sql = _hrj_pt_sql("spark")
    pts = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("pid"),
        F.expr(lon_sql).alias("flon"),
        F.expr(lat_sql).alias("flat"),
    )
    return haversine_radius_join(
        pts, _HRJ_D_M, lon="flon", lat="flat", id_col="pid"
    ).select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("hav_ppq").cast("long"),
    )


@_oracle("haversine_radius_join")
def _hrj_o() -> str:
    from .functions import geodesic as GEO

    thr = repr(GEO.hav_threshold(_HRJ_D_M))
    pre = GEO.planar_bound_fixed(_HRJ_D_M, 450000000 + _HRJ_WIN)
    lon_sql, lat_sql = _hrj_pt_sql("duckdb")
    wl = "LEAST(ABS(a.flon - b.flon), 3600000000 - ABS(a.flon - b.flon))"
    da = "ABS(a.flat - b.flat)"
    return f"""
WITH pts AS MATERIALIZED (
  SELECT doc_id AS pid, {lon_sql} AS flon, {lat_sql} AS flat
  FROM documents
),
cand AS MATERIALIZED (
  SELECT a.pid AS a, b.pid AS b,
         a.flon, a.flat, b.flon AS blon, b.flat AS blat
  FROM pts a JOIN pts b ON a.pid < b.pid
  WHERE {wl} * {wl} + {da} * {da} <= {pre * pre}
),
verified AS (
  SELECT a, b,
         {GEO.hav_sql("flon", "flat", "blon", "blat")} AS hav
  FROM cand
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(FLOOR(hav * 1.0e15) AS BIGINT) AS hav_ppq
FROM verified WHERE hav <= {thr}
"""


# ===========================================================================
# great-circle kNN join (operators/spatial_join.knn_great_circle): the
# metric twin of knn_radius_join over the same md5-uniform 0.1-degree
# window at 45N as haversine_radius_join; ranking by hav_ppq ascending
# (exactly true-distance order), neighbor-id tie-break.
# ===========================================================================

_KGC_K = 3


@_register("knn_great_circle")
def _kgc(spark, sf_dir):
    from .operators.spatial_join import knn_great_circle

    lon_sql, lat_sql = _hrj_pt_sql("spark")
    pts = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("pid"),
        F.expr(lon_sql).alias("flon"),
        F.expr(lat_sql).alias("flat"),
    )
    out = knn_great_circle(
        pts, _HRJ_D_M, k=_KGC_K, lon="flon", lat="flat", id_col="pid"
    )
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("hav_ppq").cast("long"),
        F.col("rk").cast("long"),
    )


@_oracle("knn_great_circle")
def _kgc_o() -> str:
    from .functions import geodesic as GEO

    thr = repr(GEO.hav_threshold(_HRJ_D_M))
    pre = GEO.planar_bound_fixed(_HRJ_D_M, 450000000 + _HRJ_WIN)
    lon_sql, lat_sql = _hrj_pt_sql("duckdb")
    wl = "LEAST(ABS(a.flon - b.flon), 3600000000 - ABS(a.flon - b.flon))"
    da = "ABS(a.flat - b.flat)"
    return f"""
WITH pts AS MATERIALIZED (
  SELECT doc_id AS pid, {lon_sql} AS flon, {lat_sql} AS flat
  FROM documents
),
cand AS MATERIALIZED (
  SELECT a.pid AS a, b.pid AS b,
         a.flon, a.flat, b.flon AS blon, b.flat AS blat
  FROM pts a JOIN pts b ON a.pid != b.pid
  WHERE {wl} * {wl} + {da} * {da} <= {pre * pre}
),
verified AS MATERIALIZED (
  SELECT a, b,
         {GEO.hav_sql("flon", "flat", "blon", "blat")} AS hav
  FROM cand
),
inrad AS MATERIALIZED (
  SELECT a, b, CAST(FLOOR(hav * 1.0e15) AS BIGINT) AS hav_ppq
  FROM verified WHERE hav <= {thr}
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, hav_ppq,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT a, b, hav_ppq,
         ROW_NUMBER() OVER (PARTITION BY a ORDER BY hav_ppq, b) AS rk
  FROM inrad
) WHERE rk <= {_KGC_K}
"""


# ===========================================================================
# trajectory analytics (operators/trajectory.py): per-entity ordered
# great-circle segment stats + polygon fence transitions.  Positions
# are the deterministic synthetic footprint centres (sources/synth.py)
# attached to the events stream, so both engines derive them from the
# same shared SQL text; segment lengths are integer-mm chords
# (trajectory.chord_mm_sql == _chord_mm_udf, sqrt/mul/floor IEEE).
# ===========================================================================


def _traj_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = synth.synth_geo_exprs("event_id")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.expr(e["lon"]).alias("lon"),
        F.expr(e["lat"]).alias("lat"),
    )


def _traj_synth_sql() -> str:
    e = synth.synth_geo_exprs("event_id")
    return (
        f"SELECT event_id, user_id, ts, {e['lon']} AS lon, "
        f"{e['lat']} AS lat FROM events"
    )


@_register("track_stats")
def _tst(spark, sf_dir):
    from .operators.trajectory import track_stats

    out = track_stats(_traj_events(spark, sf_dir))
    return out.select(
        F.col("user_id").cast("long"),
        F.col("n_points").cast("long"),
        F.col("n_segments").cast("long"),
        F.col("path_mm").cast("long"),
        F.col("max_seg_mm").cast("long"),
    )


@_oracle("track_stats")
def _tst_o() -> str:
    from .operators.trajectory import chord_mm_sql

    seg = chord_mm_sql("plon", "plat", "lon", "lat")
    return f"""
WITH pts AS MATERIALIZED (
  {_traj_synth_sql()}
),
lagged AS MATERIALIZED (
  SELECT user_id, lon, lat,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS MATERIALIZED (
  SELECT user_id,
         CASE WHEN plon IS NULL THEN NULL ELSE {seg} END AS seg_mm
  FROM lagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COUNT(seg_mm) AS BIGINT) AS n_segments,
       CAST(COALESCE(SUM(seg_mm), 0) AS BIGINT) AS path_mm,
       CAST(COALESCE(MAX(seg_mm), 0) AS BIGINT) AS max_seg_mm
FROM seg GROUP BY user_id
"""


@_register("geofence_transitions")
def _gft(spark, sf_dir):
    from .operators import filter as FL
    from .operators.trajectory import geofence_transitions

    poly = FL.Poly(_POLY_VX, _POLY_VY)
    out = geofence_transitions(_traj_events(spark, sf_dir), poly)
    return out.select(
        F.col("user_id").cast("long"),
        F.col("event_id").cast("long"),
        F.col("transition"),
    )


@_oracle("geofence_transitions")
def _gft_o() -> str:
    pip = geo_sql.pnpoly_sql(
        _POLY_VX,
        _POLY_VY,
        "CAST(lon AS DOUBLE) * 0.0000001",
        "CAST(lat AS DOUBLE) * 0.0000001",
    )
    return f"""
WITH pts AS MATERIALIZED (
  {_traj_synth_sql()}
),
flagged AS MATERIALIZED (
  SELECT user_id, event_id, ts, ({pip}) AS inf
  FROM pts
),
lagged AS MATERIALIZED (
  SELECT user_id, event_id, inf, LAG(inf) OVER w AS pin
  FROM flagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       CASE WHEN inf THEN 'enter' ELSE 'exit' END AS transition
FROM lagged WHERE pin IS NOT NULL AND pin != inf
"""


# ===========================================================================
# metric DBSCAN (operators/spatial_join.dbscan_metric): deterministic
# density clustering — grid-cover + hav-verified eps-neighborhoods,
# min-label components over core-core edges, min-comp border rule.
# Same md5-uniform 0.1-degree point window as haversine_radius_join.
# ===========================================================================

_DBS_EPS_M = 300.0
_DBS_MIN_PTS = 4


@_register("dbscan_clusters")
def _dbs(spark, sf_dir):
    from .operators.spatial_join import dbscan_metric

    lon_sql, lat_sql = _hrj_pt_sql("spark")
    # _DOCS2_CAP: the eps-graph percolates at sf0.1 density (CLAUDE.md —
    # ~190s measured); 2x the sf0.01 point count keeps the bench wall
    # bounded while the driver's sf0.01 corpus is unchanged
    pts = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _DOCS2_CAP
    ).select(
        F.col("doc_id").alias("pid"),
        F.expr(lon_sql).alias("flon"),
        F.expr(lat_sql).alias("flat"),
    )
    out = dbscan_metric(
        pts, _DBS_EPS_M, _DBS_MIN_PTS, lon="flon", lat="flat", id_col="pid"
    )
    return out.select(
        F.col("id").cast("long"),
        F.col("role"),
        F.col("comp").cast("long"),
    )


@_oracle("dbscan_clusters")
def _dbs_o() -> str:
    from .functions import geodesic as GEO

    thr = repr(GEO.hav_threshold(_DBS_EPS_M))
    pre = GEO.planar_bound_fixed(_DBS_EPS_M, 450000000 + _HRJ_WIN)
    lon_sql, lat_sql = _hrj_pt_sql("duckdb")
    wl = "LEAST(ABS(a.flon - b.flon), 3600000000 - ABS(a.flon - b.flon))"
    da = "ABS(a.flat - b.flat)"
    return f"""
WITH RECURSIVE pts AS MATERIALIZED (
  SELECT doc_id AS pid, {lon_sql} AS flon, {lat_sql} AS flat
  FROM documents WHERE doc_id < {_DOCS2_CAP}
),
cand AS MATERIALIZED (
  SELECT a.pid AS a, b.pid AS b,
         a.flon, a.flat, b.flon AS blon, b.flat AS blat
  FROM pts a JOIN pts b ON a.pid < b.pid
  WHERE {wl} * {wl} + {da} * {da} <= {pre * pre}
),
pairs AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT a, b, {GEO.hav_sql("flon", "flat", "blon", "blat")} AS hav
    FROM cand
  ) WHERE hav <= {thr}
),
sym AS MATERIALIZED (
  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
),
core AS MATERIALIZED (
  SELECT a AS id FROM sym GROUP BY a HAVING COUNT(*) + 1 >= {_DBS_MIN_PTS}
),
core_edges AS MATERIALIZED (
  SELECT s.a, s.b FROM sym s
  JOIN core c1 ON s.a = c1.id JOIN core c2 ON s.b = c2.id
),
reach(id, r) AS (
  SELECT id, id FROM core
  UNION
  SELECT reach.id, e.b FROM reach JOIN core_edges e ON e.a = reach.r
),
cc AS MATERIALIZED (
  SELECT id, MIN(r) AS comp FROM reach GROUP BY id
),
cls AS MATERIALIZED (
  SELECT s.a AS id, MIN(cb.comp) AS minbc
  FROM sym s LEFT JOIN cc cb ON s.b = cb.id
  GROUP BY s.a
),
lab AS MATERIALIZED (
  SELECT c.id,
         CASE WHEN cc.comp IS NOT NULL THEN 'core'
              WHEN c.minbc IS NOT NULL THEN 'border'
              ELSE 'noise' END AS role,
         COALESCE(cc.comp, c.minbc) AS comp
  FROM cls c LEFT JOIN cc ON c.id = cc.id
)
SELECT CAST(id AS BIGINT) AS id, role, CAST(comp AS BIGINT) AS comp
FROM lab
UNION ALL
SELECT CAST(p.pid AS BIGINT) AS id, 'noise' AS role,
       CAST(NULL AS BIGINT) AS comp
FROM pts p WHERE p.pid NOT IN (SELECT a FROM sym)
"""


# ===========================================================================
# trajectory position interpolation (operators/trajectory.
# interpolate_track): per-entity resampling at query timestamps —
# ignore-nulls bracket windows + the shared interp_exprs text (integer
# wrap math + one IEEE div/mul/add/FLOOR, identical both engines).
# Queries are derived from the events stream itself: every 7th event
# queries 7.78s after its own timestamp (interp/after_end), every 14th
# 11.6 days BEFORE it (exercises before_start for early-month events).
# ===========================================================================

_ITP_FWD = 7777777          # +7.78 s in microseconds
_ITP_BWD = -999999999999    # -11.57 days


@_register("interpolate_track")
def _itp(spark, sf_dir):
    from .operators.trajectory import interpolate_track

    pts = _traj_events(spark, sf_dir)
    ev = _t(spark, sf_dir, "events").filter(F.expr("event_id % 7 = 3"))
    qs = ev.select(
        "user_id",
        F.col("event_id").alias("qid"),
        (
            PARSE.epoch_micros(ev, "ts")
            + F.when(
                F.expr("event_id % 14 = 3"), F.lit(_ITP_BWD)
            ).otherwise(F.lit(_ITP_FWD))
        ).alias("qts"),
    )
    out = interpolate_track(pts, qs, keep_cols=("qid",))
    return out.select(
        F.col("qid").cast("long"),
        F.col("user_id").cast("long"),
        F.col("qus").cast("long"),
        F.col("mode"),
        F.col("lon").cast("long"),
        F.col("lat").cast("long"),
    )


@_oracle("interpolate_track")
def _itp_o() -> str:
    from .operators.trajectory import interp_exprs

    lon_sql, lat_sql = interp_exprs(
        "qus", "t0", "t1", "lon0", "lat0", "lon1", "lat1"
    )
    return f"""
WITH pts AS MATERIALIZED (
  {_traj_synth_sql()}
),
pp AS MATERIALIZED (
  SELECT user_id, epoch_us(ts) AS tus, lon, lat FROM pts
),
q AS MATERIALIZED (
  SELECT user_id, event_id AS qid,
         epoch_us(ts) + CASE WHEN event_id % 14 = 3
                             THEN {_ITP_BWD} ELSE {_ITP_FWD} END AS qus
  FROM events WHERE event_id % 7 = 3
),
b0 AS MATERIALIZED (
  SELECT q.qid, q.user_id, q.qus,
         arg_max(p.tus, p.tus) AS t0,
         arg_max(p.lon, p.tus) AS lon0,
         arg_max(p.lat, p.tus) AS lat0
  FROM q LEFT JOIN pp p ON q.user_id = p.user_id AND p.tus <= q.qus
  GROUP BY q.qid, q.user_id, q.qus
),
b1 AS MATERIALIZED (
  SELECT q.qid,
         arg_min(p.tus, p.tus) AS t1,
         arg_min(p.lon, p.tus) AS lon1,
         arg_min(p.lat, p.tus) AS lat1
  FROM q LEFT JOIN pp p ON q.user_id = p.user_id AND p.tus > q.qus
  GROUP BY q.qid
),
j AS MATERIALIZED (
  SELECT b0.qid, b0.user_id, b0.qus, t0, lon0, lat0, t1, lon1, lat1
  FROM b0 JOIN b1 ON b0.qid = b1.qid
  WHERE t0 IS NOT NULL OR t1 IS NOT NULL
)
SELECT CAST(qid AS BIGINT) AS qid,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(qus AS BIGINT) AS qus,
       CASE WHEN t0 IS NULL THEN 'before_start'
            WHEN t1 IS NULL THEN 'after_end'
            ELSE 'interp' END AS mode,
       CAST(CASE WHEN t0 IS NULL THEN lon1
                 WHEN t1 IS NULL THEN lon0
                 ELSE {lon_sql} END AS BIGINT) AS lon,
       CAST(CASE WHEN t0 IS NULL THEN lat1
                 WHEN t1 IS NULL THEN lat0
                 ELSE {lat_sql} END AS BIGINT) AS lat
FROM j
"""


# ===========================================================================
# trip segmentation + dwell detection (operators/trajectory.split_trips,
# dwell_episodes).  split_trips runs on the standard synthetic footprint
# positions (planetary hops exercise big exact integer-mm path sums);
# dwell_episodes needs genuine slow runs, so its positions derive from a
# 2-hour TIME BUCKET of the event timestamp — the device "parks" inside a
# bucket (+-0.0003 deg jitter per event ~ <=94 m steps) and relocates
# across buckets — via dialect-parameterized integer expression
# generators shared with the DuckDB oracle (all % and // on non-negative
# BIGINTs, engine-identical).
# ===========================================================================

_TRIP_GAP_US = 6 * 3600 * 1_000_000  # new trip after a 6 h silence

_DWELL_BUCKET_US = 2 * 3600 * 1_000_000
_DWELL_EPS_MM = 150_000              # 150 m: above the 94 m jitter ceiling
_DWELL_MAX_GAP_US = 4 * 3600 * 1_000_000
_DWELL_MIN_US = 30 * 60 * 1_000_000  # keep stays >= 30 min end-to-end


@_register("split_trips")
def _spt(spark, sf_dir):
    from .operators.trajectory import split_trips

    out = split_trips(_traj_events(spark, sf_dir), max_gap_us=_TRIP_GAP_US)
    return out.select(
        F.col("user_id").cast("long"),
        F.col("trip").cast("long"),
        F.col("n_points").cast("long"),
        F.col("start_us").cast("long"),
        F.col("end_us").cast("long"),
        F.col("duration_us").cast("long"),
        F.col("path_mm").cast("long"),
        F.col("max_seg_mm").cast("long"),
    )


@_oracle("split_trips")
def _spt_o() -> str:
    from .operators.trajectory import chord_mm_sql

    seg = chord_mm_sql("plon", "plat", "lon", "lat")
    return f"""
WITH pts AS MATERIALIZED (
  {_traj_synth_sql()}
),
pp AS MATERIALIZED (
  SELECT user_id, event_id, lon, lat, epoch_us(ts) AS tus FROM pts
),
lagged AS MATERIALIZED (
  SELECT user_id, event_id, lon, lat, tus,
         LAG(tus) OVER w AS ptus,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat
  FROM pp
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
tripped AS MATERIALIZED (
  SELECT user_id, tus,
         SUM(CASE WHEN ptus IS NULL OR tus - ptus > {_TRIP_GAP_US}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - 1 AS trip,
         CASE WHEN ptus IS NULL OR tus - ptus > {_TRIP_GAP_US}
              THEN NULL ELSE {seg} END AS seg_mm
  FROM lagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(trip AS BIGINT) AS trip,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(tus) AS BIGINT) AS start_us,
       CAST(MAX(tus) AS BIGINT) AS end_us,
       CAST(MAX(tus) - MIN(tus) AS BIGINT) AS duration_us,
       CAST(COALESCE(SUM(seg_mm), 0) AS BIGINT) AS path_mm,
       CAST(COALESCE(MAX(seg_mm), 0) AS BIGINT) AS max_seg_mm
FROM tripped GROUP BY user_id, trip
"""


def _dwell_pos_exprs(tus: str, eid: str, uid: str, dialect: str) -> dict:
    """lon/lat fixed-point expressions for the park-and-relocate synthetic
    track: base position hops per (user, 2-hour bucket), tiny per-event
    jitter inside the bucket.  Pure non-negative integer // and % —
    identical on both engines (text_sql.idiv_sql handles the dialect)."""
    from .functions.text_sql import idiv_sql

    bkt = idiv_sql(tus, str(_DWELL_BUCKET_US), dialect)
    seed = f"({bkt} * 1009 + CAST({uid} AS BIGINT) * 7919)"
    lon_b = f"((({seed} * 40503) % 3500000000) - 1750000000)"
    lat_b = f"((({seed} * 69069) % 1700000000) - 850000000)"
    jl = f"(((CAST({eid} AS BIGINT) * 97) % 6001) - 3000)"
    jt = f"(((CAST({eid} AS BIGINT) * 89) % 6001) - 3000)"
    return {"lon": f"({lon_b} + {jl})", "lat": f"({lat_b} + {jt})"}


@_register("dwell_episodes")
def _dwl(spark, sf_dir):
    from .functions.text_sql import SPARK as _SPARK_D
    from .operators.trajectory import dwell_episodes

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ev = ev.withColumn("__tus", PARSE.epoch_micros(ev, "ts"))
    pos = _dwell_pos_exprs("__tus", "event_id", "user_id", _SPARK_D)
    pts = ev.select(
        "event_id",
        "user_id",
        "__tus",
        F.expr(pos["lon"]).alias("lon"),
        F.expr(pos["lat"]).alias("lat"),
    )
    out = dwell_episodes(
        pts,
        ts_col="__tus",
        eps_mm=_DWELL_EPS_MM,
        max_gap_us=_DWELL_MAX_GAP_US,
        min_dwell_us=_DWELL_MIN_US,
    )
    return out.select(
        F.col("user_id").cast("long"),
        F.col("start_us").cast("long"),
        F.col("end_us").cast("long"),
        F.col("dwell_us").cast("long"),
        F.col("n_points").cast("long"),
    )


@_oracle("dwell_episodes")
def _dwl_o() -> str:
    from .functions.text_sql import DUCKDB as _DUCK_D
    from .operators.trajectory import chord_mm_sql

    pos = _dwell_pos_exprs("tus", "event_id", "user_id", _DUCK_D)
    seg = chord_mm_sql("plon", "plat", "lon", "lat")
    return f"""
WITH pp AS MATERIALIZED (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
),
pts AS MATERIALIZED (
  SELECT user_id, event_id, tus,
         {pos['lon']} AS lon, {pos['lat']} AS lat
  FROM pp
),
lagged AS MATERIALIZED (
  SELECT user_id, event_id, tus,
         LAG(tus) OVER w AS ptus,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat,
         lon, lat
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
slowed AS MATERIALIZED (
  SELECT user_id, event_id, tus, ptus,
         (ptus IS NOT NULL AND {seg} <= {_DWELL_EPS_MM}
          AND tus - ptus <= {_DWELL_MAX_GAP_US}) AS slow
  FROM lagged
),
pslowed AS MATERIALIZED (
  SELECT user_id, event_id, tus, ptus, slow,
         COALESCE(LAG(slow) OVER (PARTITION BY user_id
                                  ORDER BY tus, event_id),
                  FALSE) AS pslow
  FROM slowed
),
isl AS MATERIALIZED (
  SELECT user_id, tus, ptus, slow,
         SUM(CASE WHEN slow AND NOT pslow THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM pslowed
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(MIN(ptus) AS BIGINT) AS start_us,
       CAST(MAX(tus) AS BIGINT) AS end_us,
       CAST(MAX(tus) - MIN(ptus) AS BIGINT) AS dwell_us,
       CAST(COUNT(*) + 1 AS BIGINT) AS n_points
FROM isl WHERE slow
GROUP BY user_id, isl
HAVING MAX(tus) - MIN(ptus) >= {_DWELL_MIN_US}
"""


# ===========================================================================
# partition-skew diagnostic (operators/stats.skew_report): per-key
# heaviness over events.user_id + the summary row — the operational tool
# behind the engine's explicit salt-factor choices.  Rank ties break by
# the key's STRING form (the operator's deterministic tie-break); the
# summary key is NULL in the operator and -1-filled here for the value
# hash.
# ===========================================================================

_SKEW_TOP = 20
_SKEW_TARGET = 100


@_register("skew_report")
def _skw(spark, sf_dir):
    from .operators.stats import skew_report

    out = skew_report(
        _t(spark, sf_dir, "events").select("user_id"),
        "user_id",
        top=_SKEW_TOP,
        salt_target=_SKEW_TARGET,
    )
    return out.select(
        F.coalesce(F.col("user_id"), F.lit(-1)).cast("long").alias("user_id"),
        F.col("n_rows").cast("long"),
        F.col("rank").cast("long"),
        F.col("share_ppm").cast("long"),
        F.col("salt_factor").cast("long"),
    )


@_oracle("skew_report")
def _skw_o() -> str:
    return f"""
WITH c AS MATERIALIZED (
  SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id
),
t AS MATERIALIZED (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS nkeys
  FROM c
),
r AS MATERIALIZED (
  SELECT user_id, n_rows,
         ROW_NUMBER() OVER (ORDER BY n_rows DESC,
                            CAST(user_id AS VARCHAR)) AS rank
  FROM c
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(rank AS BIGINT) AS rank,
       CAST((n_rows * 1000000) // total AS BIGINT) AS share_ppm,
       CAST((n_rows + {_SKEW_TARGET} - 1) // {_SKEW_TARGET} AS BIGINT)
         AS salt_factor
FROM r CROSS JOIN t WHERE rank <= {_SKEW_TOP}
UNION ALL
SELECT -1, total, 0, 1000000,
       GREATEST(CAST(1 AS BIGINT),
                ((total // nkeys) + {_SKEW_TARGET} - 1) // {_SKEW_TARGET})
FROM t
"""


# ===========================================================================
# deterministic integer PageRank (operators/graph.pagerank): synthetic
# link graph over document ids (1 + id%4 out-edges per doc, dst =
# (97*id + 131*k) % N), 4 exact integer iterations.  The oracle UNROLLS
# the same stages as MATERIALIZED CTEs (the substitution-explosion rule)
# — rank mass is int64 fixed-point and damping the rational 85/100, so
# iteration order cannot leak and both engines agree bit-for-bit.
# ===========================================================================

_PR_ITERS = 4
_PR_SCALE = 10**12


def _pr_edges_sql(n: str) -> str:
    """Shared edge derivation given a SQL expression for the doc count."""
    return f"(doc_id * 97 + k * 131) % ({n})"


@_register("pagerank")
def _prk(spark, sf_dir):
    from .operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = docs.withColumn(
        "k", F.explode(F.expr("sequence(1, 1 + doc_id % 4)"))
    ).select(
        F.col("doc_id").alias("src"),
        F.expr(_pr_edges_sql(str(n))).alias("dst"),
    )
    out = pagerank(edges, iters=_PR_ITERS, scale=_PR_SCALE)
    return out.select(F.col("node").cast("long"), F.col("pr").cast("long"))


@_oracle("pagerank")
def _prk_o() -> str:
    scale = _PR_SCALE
    stages = []
    for t in range(_PR_ITERS):
        stages.append(f"""
p{t + 1} AS MATERIALIZED (
  SELECT p.node,
         CAST((15 * {scale} // (100 * c.n)) + COALESCE(s.m, 0) AS BIGINT) AS pr,
         p.od
  FROM p{t} p CROSS JOIN cnt c
  LEFT JOIN (
    SELECT e.v AS node,
           CAST(SUM((85 * q.pr) // (100 * q.od)) AS BIGINT) AS m
    FROM p{t} q JOIN e ON e.u = q.node
    WHERE q.od IS NOT NULL
    GROUP BY e.v
  ) s USING (node)
)""")
    return f"""
WITH raw AS MATERIALIZED (
  SELECT doc_id, UNNEST(generate_series(1, 1 + doc_id % 4)) AS k
  FROM documents
),
e AS MATERIALIZED (
  SELECT DISTINCT doc_id AS u,
         {_pr_edges_sql('SELECT COUNT(*) FROM documents')} AS v
  FROM raw
),
nodes AS MATERIALIZED (
  SELECT u AS node FROM e UNION SELECT v FROM e
),
cnt AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT u AS node, COUNT(*) AS od FROM e GROUP BY u),
p0 AS MATERIALIZED (
  SELECT n.node, CAST({scale} // c.n AS BIGINT) AS pr, od.od
  FROM nodes n CROSS JOIN cnt c LEFT JOIN od USING (node)
),{",".join(stages)}
SELECT CAST(node AS BIGINT) AS node, CAST(pr AS BIGINT) AS pr
FROM p{_PR_ITERS}
"""


# ===========================================================================
# time-in-fence aggregate (operators/trajectory.time_in_fence):
# left-continuous step integration of presence — interval [t_i, t_{i+1})
# counts when event i is inside the fence; gaps > 6 h dropped (signal
# loss is not presence).  Same polygon + synthetic positions as
# geofence_transitions; pnpoly via the shared generated SQL.
# ===========================================================================

_TIF_GAP_US = 6 * 3600 * 1_000_000


@_register("time_in_fence")
def _tif(spark, sf_dir):
    from .operators import filter as FL
    from .operators.trajectory import time_in_fence

    poly = FL.Poly(_POLY_VX, _POLY_VY)
    out = time_in_fence(
        _traj_events(spark, sf_dir), poly, max_gap_us=_TIF_GAP_US
    )
    return out.select(
        F.col("user_id").cast("long"),
        F.col("inside_us").cast("long"),
        F.col("n_events").cast("long"),
        F.col("n_inside").cast("long"),
    )


@_oracle("time_in_fence")
def _tif_o() -> str:
    pip = geo_sql.pnpoly_sql(
        _POLY_VX,
        _POLY_VY,
        "CAST(lon AS DOUBLE) * 0.0000001",
        "CAST(lat AS DOUBLE) * 0.0000001",
    )
    return f"""
WITH pts AS MATERIALIZED (
  {_traj_synth_sql()}
),
flagged AS MATERIALIZED (
  SELECT user_id, event_id, epoch_us(ts) AS tus, ({pip}) AS inf
  FROM pts
),
stepped AS MATERIALIZED (
  SELECT user_id, tus, inf,
         LEAD(tus) OVER (PARTITION BY user_id
                         ORDER BY tus, event_id) AS nt
  FROM flagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COALESCE(SUM(CASE WHEN nt IS NOT NULL
                               AND nt - tus <= {_TIF_GAP_US}
                               AND inf
                              THEN nt - tus ELSE 0 END), 0) AS BIGINT)
         AS inside_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN inf THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
FROM stepped GROUP BY user_id
"""


# ===========================================================================
# trajectory similarity join (operators/trajectory.track_hausdorff):
# symmetric discrete Hausdorff in integer-mm chords between bbox-
# overlapping tracks.  Candidates are integer bbox compares; distances
# are the shared sqrt-only chord (chord_mm_sql == _chord_mm_udf); the
# min/max cascade is pure integer aggregation — bit-identical engines.
# The gate decimates to every-4th event and every-10th entity so the
# |A|·|B| point-pair frame stays bounded at bench scale.
# ===========================================================================

_TH_STEP = 4
_TH_USER_MOD = 10


@_register("track_hausdorff")
def _thd(spark, sf_dir):
    from .operators.trajectory import track_hausdorff

    pts = _traj_events(spark, sf_dir).filter(
        F.col("user_id") % _TH_USER_MOD == 0
    )
    out = track_hausdorff(pts, step=_TH_STEP)
    return out.select(
        F.col("user_a").cast("long"),
        F.col("user_b").cast("long"),
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.col("hausdorff_mm").cast("long"),
    )


@_oracle("track_hausdorff")
def _thd_o() -> str:
    from .operators.trajectory import chord_mm_sql

    mm = chord_mm_sql("p.lon", "p.lat", "q.lon", "q.lat")
    return f"""
WITH pts AS MATERIALIZED (
  SELECT event_id, user_id, lon, lat FROM ({_traj_synth_sql()}) t
  WHERE user_id % {_TH_USER_MOD} = 0 AND event_id % {_TH_STEP} = 0
),
bbox AS MATERIALIZED (
  SELECT user_id, MIN(lon) AS minx, MAX(lon) AS maxx,
         MIN(lat) AS miny, MAX(lat) AS maxy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY user_id
),
cand AS MATERIALIZED (
  SELECT a.user_id AS ua, b.user_id AS ub, a.n AS na, b.n AS nb
  FROM bbox a JOIN bbox b
    ON a.user_id < b.user_id AND a.minx <= b.maxx AND b.minx <= a.maxx
   AND a.miny <= b.maxy AND b.miny <= a.maxy
),
d AS MATERIALIZED (
  SELECT c.ua, c.ub, c.na, c.nb, p.event_id AS ea, q.event_id AS eb,
         {mm} AS mm
  FROM cand c JOIN pts p ON p.user_id = c.ua JOIN pts q ON q.user_id = c.ub
),
s AS MATERIALIZED (
  SELECT ua, ub, na, nb, 0 AS dir, ea AS pt, mm FROM d
  UNION ALL
  SELECT ua, ub, na, nb, 1 AS dir, eb AS pt, mm FROM d
),
m1 AS MATERIALIZED (
  SELECT ua, ub, na, nb, dir, pt, MIN(mm) AS mn FROM s
  GROUP BY ua, ub, na, nb, dir, pt
)
SELECT CAST(ua AS BIGINT) AS user_a, CAST(ub AS BIGINT) AS user_b,
       na AS n_a, nb AS n_b, CAST(MAX(mn) AS BIGINT) AS hausdorff_mm
FROM m1 GROUP BY ua, ub, na, nb
"""


# ===========================================================================
# segment crossings (operators/trajectory.segment_crossings): proper
# segment-intersection counts between different entities' tracks.  The
# standard synthetic positions hash on event_id (planet hops — no local
# structure to cross), so this gate derives Lissajous-style walks: each
# user orbits a neighborhood centre (user_id % 16, centres >= 73e6
# fixed-point units apart) along two integer triangle waves with
# user-hashed phases, advanced by the user's event RANK (row_number
# over (ts, event_id) — event_id gaps between a user's consecutive
# events grow with the corpus's user count, so an event_id-driven wave
# would balloon segment extents at higher sf; the rank step is a
# constant 150 wave units = 6000 fixed-point extent at every sf).
# Pure non-negative integer % / ABS / mul, dialect-identical.  The
# oracle is the NAIVE pair join (equi-keyed on the neighborhood —
# sound because centres are >= 73e6 units apart while wave amplitude
# is <= 3e5, so cross-neighborhood bboxes can never overlap),
# independently verifying the grid-covering candidates' recall.
# ===========================================================================

_XING_SPAN = 100_000       # max per-axis segment extent (fixed-point)
_XING_NB = 16
_XING_PLON, _XING_PLAT = 7500, 6100   # triangle-wave half-periods
_XING_SLOPE = 40
_XING_STEP = 150           # wave units per event rank


def _xing_pos_exprs(rank: str, uid: str) -> dict[str, str]:
    """lon/lat fixed-point expressions for the crossing-walk synthetic
    track (dialect-neutral integer SQL, shared by both engines);
    `rank` is the 0-based per-user event rank."""
    e = f"(CAST({rank} AS BIGINT) * {_XING_STEP})"
    u = f"CAST({uid} AS BIGINT)"
    nb = f"({u} % {_XING_NB})"
    lon0 = f"((({nb} * 2654435761) % 3200000000) - 1600000000)"
    lat0 = f"((({nb} * 2246822519) % 1500000000) - 750000000)"
    phx = f"(({u} * 2654435761) % {2 * _XING_PLON})"
    phy = f"(({u} * 2246822519) % {2 * _XING_PLAT})"

    def tri(k: str, p: int) -> str:
        return f"ABS((({k}) % {2 * p}) - {p})"

    lon = f"({lon0} + {tri(f'{e} + {phx}', _XING_PLON)} * {_XING_SLOPE})"
    lat = f"({lat0} + {tri(f'{e} + {phy}', _XING_PLAT)} * {_XING_SLOPE})"
    return {"lon": lon, "lat": lat}


@_register("segment_crossings")
def _sxg(spark, sf_dir):
    from .operators.trajectory import segment_crossings

    out = segment_crossings(_xing_pts(spark, sf_dir), max_span_fixed=_XING_SPAN)
    return out.select(
        F.col("user_a").cast("long"),
        F.col("user_b").cast("long"),
        F.col("crossings").cast("long"),
    )


@_oracle("segment_crossings")
def _sxg_o() -> str:
    from .operators.trajectory import segment_cross_sql

    xs = segment_cross_sql(
        "a.x1", "a.y1", "a.x2", "a.y2", "b.x1", "b.y1", "b.x2", "b.y2"
    )
    return f"""
WITH {_xing_pts_sql()},
lagged AS MATERIALIZED (
  SELECT user_id, lon, lat,
         LAG(lon) OVER w AS px, LAG(lat) OVER w AS py
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS MATERIALIZED (
  SELECT user_id, (user_id % {_XING_NB}) AS nb,
         px AS x1, py AS y1, lon AS x2, lat AS y2,
         LEAST(px, lon) AS mnx, GREATEST(px, lon) AS mxx,
         LEAST(py, lat) AS mny, GREATEST(py, lat) AS mxy
  FROM lagged
  WHERE px IS NOT NULL
    AND ABS(lon - px) <= {_XING_SPAN} AND ABS(lat - py) <= {_XING_SPAN}
),
x AS MATERIALIZED (
  SELECT a.user_id AS ua, b.user_id AS ub
  FROM seg a JOIN seg b
    ON a.nb = b.nb AND a.user_id < b.user_id
   AND a.mnx <= b.mxx AND b.mnx <= a.mxx
   AND a.mny <= b.mxy AND b.mny <= a.mxy
   AND {xs}
)
SELECT CAST(ua AS BIGINT) AS user_a, CAST(ub AS BIGINT) AS user_b,
       CAST(COUNT(*) AS BIGINT) AS crossings
FROM x GROUP BY ua, ub
"""


# ===========================================================================
# track cell lengths (operators/trajectory.track_cell_lengths): exact
# length-weighted rasterization — per depth-8 grid cell, total integer-mm
# chord length of all intra-trip segments inside the cell.  Input is the
# same rank-driven Lissajous walk as segment_crossings.  The oracle is an
# INDEPENDENT window-function formulation (unnested crossings + cumulative
# axis counts + LEAD), sharing only the tiny expression generators
# (grid_threshold_sql boundary, chord_mm_sql, geohash_xy_sql) — pinning
# the array-domain prefix scan against a relational implementation.
# ===========================================================================

_TCL_CHARS = 8


@_register("track_cell_lengths")
def _tcl(spark, sf_dir):
    from .operators.trajectory import track_cell_lengths

    out = track_cell_lengths(
        _xing_pts(spark, sf_dir), max_span_fixed=_XING_SPAN, chars=_TCL_CHARS
    )
    return out.select(
        F.col("cell_x").cast("long"),
        F.col("cell_y").cast("long"),
        F.col("total_mm").cast("long"),
    )


@_oracle("track_cell_lengths")
def _tcl_o() -> str:
    from .functions import geohash as GH
    from .functions.text_sql import DUCKDB, idiv_sql
    from .operators.trajectory import chord_mm_sql, grid_threshold_sql

    cx1, cy1 = GH.geohash_xy_sql("x1", "y1", _TCL_CHARS, DUCKDB)
    cx2, cy2 = GH.geohash_xy_sql("x2", "y2", _TCL_CHARS, DUCKDB)
    mm = chord_mm_sql("px", "py", "lon", "lat")
    thrx = grid_threshold_sql("t.k", "lon", _TCL_CHARS, DUCKDB)
    thry = grid_threshold_sql("t.k", "lat", _TCL_CHARS, DUCKDB)
    clx = idiv_sql("t.mm * (t.sx * (({t}) - t.u1))".format(t=thrx),
                   "GREATEST(t.adu, 1)", DUCKDB)
    cly = idiv_sql("t.mm * (t.sy * (({t}) - t.v1))".format(t=thry),
                   "GREATEST(t.adv, 1)", DUCKDB)
    return f"""
WITH {_xing_pts_sql()},
lagged AS MATERIALIZED (
  SELECT user_id, event_id, lon, lat,
         LAG(lon) OVER w AS px, LAG(lat) OVER w AS py
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg0 AS MATERIALIZED (
  SELECT event_id AS sid, px AS x1, py AS y1, lon AS x2, lat AS y2,
         {mm} AS mm
  FROM lagged
  WHERE px IS NOT NULL
    AND ABS(lon - px) <= {_XING_SPAN} AND ABS(lat - py) <= {_XING_SPAN}
),
seg AS MATERIALIZED (
  SELECT sid, mm,
         x1 + 1800000000 AS u1, y1 + 900000000 AS v1,
         ABS(x2 - x1) AS adu, ABS(y2 - y1) AS adv,
         CASE WHEN x2 >= x1 THEN 1 ELSE -1 END AS sx,
         CASE WHEN y2 >= y1 THEN 1 ELSE -1 END AS sy,
         {cx1} AS cx1, {cy1} AS cy1, {cx2} AS cx2, {cy2} AS cy2
  FROM seg0
),
allc AS MATERIALIZED (
  SELECT t.sid, t.mm, t.cx1, t.cy1, t.sx, t.sy,
         (t.sx * (({thrx}) - t.u1)) * GREATEST(t.adv, 1) AS key, 1 AS axr,
         {clx} AS cl
  FROM (SELECT s.*,
               unnest(range(LEAST(s.cx1, s.cx2) + 1,
                            GREATEST(s.cx1, s.cx2) + 1)) AS k
        FROM seg s) t
  UNION ALL
  SELECT t.sid, t.mm, t.cx1, t.cy1, t.sx, t.sy,
         (t.sy * (({thry}) - t.v1)) * GREATEST(t.adu, 1) AS key, 2 AS axr,
         {cly} AS cl
  FROM (SELECT s.*,
               unnest(range(LEAST(s.cy1, s.cy2) + 1,
                            GREATEST(s.cy1, s.cy2) + 1)) AS k
        FROM seg s) t
),
sortedc AS MATERIALIZED (
  SELECT sid, mm, cx1, cy1, sx, sy, cl,
         CAST(SUM(CASE WHEN axr = 1 THEN 1 ELSE 0 END) OVER w AS BIGINT)
           AS cumx,
         CAST(SUM(CASE WHEN axr = 2 THEN 1 ELSE 0 END) OVER w AS BIGINT)
           AS cumy,
         LEAD(cl) OVER w AS nxt,
         ROW_NUMBER() OVER w AS rn
  FROM allc
  WINDOW w AS (PARTITION BY sid ORDER BY key, axr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
spans AS MATERIALIZED (
  SELECT s.cx1 AS cx, s.cy1 AS cy, COALESCE(f.cl, s.mm) AS mm
  FROM seg s LEFT JOIN (SELECT sid, cl FROM sortedc WHERE rn = 1) f
    USING (sid)
  UNION ALL
  SELECT cx1 + sx * cumx AS cx, cy1 + sy * cumy AS cy,
         COALESCE(nxt, mm) - cl AS mm
  FROM sortedc
)
SELECT CAST(cx AS BIGINT) AS cell_x, CAST(cy AS BIGINT) AS cell_y,
       CAST(SUM(mm) AS BIGINT) AS total_mm
FROM spans WHERE mm > 0 GROUP BY cx, cy
"""


# ===========================================================================
# turn stats + OD matrix (operators/trajectory.turn_stats / od_matrix)
# over the same rank-driven Lissajous walk: turn classification is exact
# integer cross/dot sign arithmetic (turn_class_sql, shared text); the
# OD matrix reuses the split_trips gap rule and the depth-6 grid.
# ===========================================================================

_ODM_GAP_US = 12 * 3600 * 1_000_000
_ODM_CHARS = 6


def _xing_pts(spark, sf_dir):
    from pyspark.sql import Window

    pos = _xing_pos_exprs("__rn", "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < _EVENTS_CAP)
        .select("event_id", "user_id", "ts")
        .withColumn("__rn", F.row_number().over(w) - F.lit(1))
        .select(
            "event_id",
            "user_id",
            "ts",
            F.expr(pos["lon"]).alias("lon"),
            F.expr(pos["lat"]).alias("lat"),
        )
    )


_XING_PTS_SQL = """
ranked AS MATERIALIZED (
  SELECT event_id, user_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS __rn
  FROM events WHERE event_id < {cap}
),
pts AS MATERIALIZED (
  SELECT event_id, user_id, ts, {lon} AS lon, {lat} AS lat
  FROM ranked
)"""


def _xing_pts_sql() -> str:
    pos = _xing_pos_exprs("__rn", "user_id")
    return _XING_PTS_SQL.format(cap=_EVENTS_CAP, lon=pos["lon"], lat=pos["lat"])


@_register("turn_stats")
def _tns(spark, sf_dir):
    from .operators.trajectory import turn_stats

    out = turn_stats(_xing_pts(spark, sf_dir), max_span_fixed=_XING_SPAN)
    return out.select(
        F.col("user_id").cast("long"),
        F.col("n_left").cast("long"),
        F.col("n_right").cast("long"),
        F.col("n_straight").cast("long"),
        F.col("n_uturn").cast("long"),
        F.col("n_turns").cast("long"),
    )


@_oracle("turn_stats")
def _tns_o() -> str:
    from .operators.trajectory import turn_class_sql

    tc = turn_class_sql(
        "bxx - axx", "byy - ayy", "lon - bxx", "lat - byy"
    )
    return f"""
WITH {_xing_pts_sql()},
lag2 AS MATERIALIZED (
  SELECT user_id, lon, lat,
         LAG(lon, 1) OVER w AS bxx, LAG(lat, 1) OVER w AS byy,
         LAG(lon, 2) OVER w AS axx, LAG(lat, 2) OVER w AS ayy
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
turns AS MATERIALIZED (
  SELECT user_id, {tc} AS turn
  FROM lag2
  WHERE axx IS NOT NULL
    AND ABS(bxx - axx) <= {_XING_SPAN} AND ABS(byy - ayy) <= {_XING_SPAN}
    AND ABS(lon - bxx) <= {_XING_SPAN} AND ABS(lat - byy) <= {_XING_SPAN}
    AND NOT (bxx - axx = 0 AND byy - ayy = 0)
    AND NOT (lon - bxx = 0 AND lat - byy = 0)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(CASE WHEN turn = 'left' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_left,
       CAST(SUM(CASE WHEN turn = 'right' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_right,
       CAST(SUM(CASE WHEN turn = 'straight' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_straight,
       CAST(SUM(CASE WHEN turn = 'uturn' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_uturn,
       CAST(COUNT(*) AS BIGINT) AS n_turns
FROM turns GROUP BY user_id
"""


@_register("od_matrix")
def _odm(spark, sf_dir):
    from .operators.trajectory import od_matrix

    out = od_matrix(
        _xing_pts(spark, sf_dir), max_gap_us=_ODM_GAP_US, chars=_ODM_CHARS
    )
    return out.select(
        F.col("o_x").cast("long"),
        F.col("o_y").cast("long"),
        F.col("d_x").cast("long"),
        F.col("d_y").cast("long"),
        F.col("n_trips").cast("long"),
    )


@_oracle("od_matrix")
def _odm_o() -> str:
    from .functions import geohash as GH

    xs, ys = GH.geohash_xy_sql("lon", "lat", _ODM_CHARS, "duckdb")
    return f"""
WITH {_xing_pts_sql()},
pp AS MATERIALIZED (
  SELECT user_id, event_id, ts, lon, lat, epoch_us(ts) AS tus FROM pts
),
lagged AS MATERIALIZED (
  SELECT user_id, event_id, ts, lon, lat, tus, LAG(tus) OVER w AS ptus
  FROM pp
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
tripped AS MATERIALIZED (
  SELECT user_id, event_id, ts, lon, lat, tus,
         CAST(SUM(CASE WHEN ptus IS NULL OR tus - ptus > {_ODM_GAP_US}
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY tus, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) - 1 AS trip
  FROM lagged
),
ends AS MATERIALIZED (
  SELECT user_id, trip, lon, lat,
         ROW_NUMBER() OVER (PARTITION BY user_id, trip
                            ORDER BY tus, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, trip
                            ORDER BY tus DESC, event_id DESC) AS rnd
  FROM tripped
),
cells AS MATERIALIZED (
  SELECT user_id, trip, rn, rnd, {xs} AS cx, {ys} AS cy
  FROM ends WHERE rn = 1 OR rnd = 1
),
od AS MATERIALIZED (
  SELECT user_id, trip,
         MIN(CASE WHEN rn = 1 THEN cx END) AS o_x,
         MIN(CASE WHEN rn = 1 THEN cy END) AS o_y,
         MIN(CASE WHEN rnd = 1 THEN cx END) AS d_x,
         MIN(CASE WHEN rnd = 1 THEN cy END) AS d_y
  FROM cells GROUP BY user_id, trip
)
SELECT CAST(o_x AS BIGINT) AS o_x, CAST(o_y AS BIGINT) AS o_y,
       CAST(d_x AS BIGINT) AS d_x, CAST(d_y AS BIGINT) AS d_y,
       CAST(COUNT(*) AS BIGINT) AS n_trips
FROM od GROUP BY o_x, o_y, d_x, d_y
"""


# ===========================================================================
# map matching (operators/map_match.snap_to_roads): nearest-road-segment
# snap with the exact floored-projection integer distance.  Points are the
# rank-driven Lissajous walks (_xing_pts); roads are a deterministic
# formula network of 6 piecewise polylines x 8 segments per neighborhood
# (45000-unit x steps, 48000-unit y spacing, hash-jittered vertex heights
# <= 30000 so every segment extent stays under _MM_SPAN) laid across the
# walks' [0, 3e5] x [0, 2.44e5] envelope; with the 30000-unit cap most
# points match and a margin does not.  The oracle is the NAIVE brute-force
# join against all 48 same-neighborhood segments (sound: centres are
# >= 73e6 units apart, far beyond cap + extents), independently verifying
# the padded-grid candidates' recall; both sides evaluate the identical
# staged snap_exprs text, and ROW_NUMBER (d2, road, seg) mirrors the
# struct-min tie-break exactly.
# ===========================================================================

_MM_ROADS, _MM_SEGS = 6, 8
_MM_CAP, _MM_SPAN = 30_000, 50_000


def _mm_road_exprs(i: str, dialect: str) -> dict[str, str]:
    """Road-segment endpoint expressions for flat index `i` (BIGINT in
    [0, 16*_MM_ROADS*_MM_SEGS)) — dialect-neutral non-negative integer
    arithmetic shared by both engines."""
    from .functions.text_sql import idiv_sql

    nsegs = _MM_ROADS * _MM_SEGS
    nb = f"({idiv_sql(i, str(nsegs), dialect)})"
    r = f"({idiv_sql(f'(({i}) % {nsegs})', str(_MM_SEGS), dialect)})"
    s = f"(({i}) % {_MM_SEGS})"
    lon0 = f"((({nb} * 2654435761) % 3200000000) - 1600000000)"
    lat0 = f"((({nb} * 2246822519) % 1500000000) - 750000000)"

    def jit(ss: str) -> str:
        return f"((({r} * 9 + {ss} + 1) * 2654435761) % 30000)"

    ybase = f"({lat0} + {r} * 48000)"
    return {
        "nb": nb,
        "road": f"({nb} * {_MM_ROADS} + {r})",
        "seg": s,
        "x1": f"({lon0} + {s} * 45000)",
        "x2": f"({lon0} + ({s} + 1) * 45000)",
        "y1": f"({ybase} + {jit(s)})",
        "y2": f"({ybase} + {jit(f'({s} + 1)')})",
    }


@_register("map_match")
def _mmg(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators.map_match import snap_to_roads

    e = _mm_road_exprs("id", _SP)
    roads = spark.range(16 * _MM_ROADS * _MM_SEGS).select(
        F.expr(e["road"]).alias("road_id"),
        F.expr(e["seg"]).alias("seg"),
        F.expr(e["x1"]).alias("x1"),
        F.expr(e["y1"]).alias("y1"),
        F.expr(e["x2"]).alias("x2"),
        F.expr(e["y2"]).alias("y2"),
    )
    m = snap_to_roads(
        _xing_pts(spark, sf_dir),
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
        keep=("user_id",),
    )
    return m.groupBy(F.col("road_id").cast("long").alias("road")).agg(
        F.count("*").alias("n_pts"),
        F.countDistinct("user_id").alias("users"),
        F.sum("snap_d2").alias("sum_d2"),
        F.min("snap_d2").alias("min_d2"),
    )


def _mm_best_sql() -> str:
    """The WITH body from the walk points through `best` (the per-point
    winning match, rn = 1 rows; carries event_id, user_id, ts, road,
    __d2) — shared by the map_match and route_flows oracles."""
    from .functions.text_sql import DUCKDB
    from .operators.map_match import snap_exprs

    e = _mm_road_exprs("i", DUCKDB)
    s1, s2, s3 = snap_exprs("px", "py", "x1", "y1", "x2", "y2", DUCKDB)

    def sel(stage: dict[str, str]) -> str:
        return ", ".join(f"{v} AS {k}" for k, v in stage.items())

    return f"""{_xing_pts_sql()},
idx AS MATERIALIZED (
  SELECT unnest(range(0, {16 * _MM_ROADS * _MM_SEGS})) AS i
),
roads AS MATERIALIZED (
  SELECT {e["nb"]} AS nb, {e["road"]} AS road, {e["seg"]} AS seg,
         {e["x1"]} AS x1, {e["y1"]} AS y1, {e["x2"]} AS x2, {e["y2"]} AS y2
  FROM idx
),
cand AS MATERIALIZED (
  SELECT p.event_id, p.user_id, p.ts, p.lon AS px, p.lat AS py,
         r.road, r.seg, r.x1, r.y1, r.x2, r.y2
  FROM pts p JOIN roads r ON r.nb = (p.user_id % 16)
),
s1 AS MATERIALIZED (SELECT *, {sel(s1)} FROM cand),
s2 AS MATERIALIZED (SELECT *, {sel(s2)} FROM s1),
s3 AS MATERIALIZED (SELECT *, {sel(s3)} FROM s2),
best AS MATERIALIZED (
  SELECT event_id, user_id, ts, road, seg, __d2, __qx, __qy,
         ROW_NUMBER() OVER (PARTITION BY event_id
                            ORDER BY __d2, road, seg) AS rn
  FROM s3 WHERE __d2 <= {_MM_CAP * _MM_CAP}
)"""


@_oracle("map_match")
def _mmg_o() -> str:
    return f"""
WITH {_mm_best_sql()}
SELECT CAST(road AS BIGINT) AS road, CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(SUM(__d2) AS BIGINT) AS sum_d2,
       CAST(MIN(__d2) AS BIGINT) AS min_d2
FROM best WHERE rn = 1 GROUP BY road
"""


# ===========================================================================
# route flows (operators/map_match.route_edges): directed road-to-road
# transition counts over the map-matched walk stream — consecutive runs
# on one road collapse to a visit, adjacent visits become an edge.  The
# oracle reuses the map_match brute-force `best` chain and re-derives the
# run-collapse + transition windows relationally (staged CTEs — DuckDB
# rejects nested window calls).
# ===========================================================================


@_register("route_flows")
def _rtf(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators.map_match import route_edges, snap_to_roads

    e = _mm_road_exprs("id", _SP)
    roads = spark.range(16 * _MM_ROADS * _MM_SEGS).select(
        F.expr(e["road"]).alias("road_id"),
        F.expr(e["seg"]).alias("seg"),
        F.expr(e["x1"]).alias("x1"),
        F.expr(e["y1"]).alias("y1"),
        F.expr(e["x2"]).alias("x2"),
        F.expr(e["y2"]).alias("y2"),
    )
    m = snap_to_roads(
        _xing_pts(spark, sf_dir),
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
        keep=("user_id", "ts"),
    )
    return route_edges(m).select(
        F.col("road_from").cast("long"),
        F.col("road_to").cast("long"),
        F.col("n_trans").cast("long"),
        F.col("n_entities").cast("long"),
    )


@_oracle("route_flows")
def _rtf_o() -> str:
    return f"""
WITH {_mm_best_sql()},
seq AS MATERIALIZED (
  SELECT user_id, ts, event_id, road,
         LAG(road) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev
  FROM best WHERE rn = 1
),
runs AS MATERIALIZED (
  SELECT user_id, ts, event_id, road,
         LAG(road) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS road_from
  FROM seq WHERE prev IS NULL OR prev <> road
)
SELECT CAST(road_from AS BIGINT) AS road_from,
       CAST(road AS BIGINT) AS road_to,
       CAST(COUNT(*) AS BIGINT) AS n_trans,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_entities
FROM runs WHERE road_from IS NOT NULL
GROUP BY road_from, road
"""


# ===========================================================================
# track simplification (operators/trajectory.simplify_track_grid):
# grid-quantized point thinning — per user, raw vs simplified point
# counts and exact chord-mm track lengths (the zoom-level size/fidelity
# tradeoff a tile renderer reasons about).  Spark computes chords with
# the numpy pandas-UDF (libm), the oracle with chord_mm_sql — the pinned
# sqrt-only cross-engine form; the keep-filter itself is pure integer
# lag-compare, identical SQL shape both sides.
# ===========================================================================

_TSG_CHARS = 7


@_register("track_simplify")
def _tsg(spark, sf_dir):
    from .operators.trajectory import simplify_track_grid, track_segments

    pts = _xing_pts(spark, sf_dir)
    kept = simplify_track_grid(pts, chars=_TSG_CHARS)
    n_raw = pts.groupBy("user_id").agg(F.count("*").alias("n_raw"))
    n_kept = kept.groupBy("user_id").agg(F.count("*").alias("n_kept"))
    raw_mm = (
        track_segments(pts)
        .groupBy("user_id")
        .agg(F.sum("chord_mm").alias("raw_mm"))
    )
    simp_mm = (
        track_segments(kept)
        .groupBy("user_id")
        .agg(F.sum("chord_mm").alias("simp_mm"))
    )
    out = (
        n_raw.join(n_kept, "user_id", "left")
        .join(raw_mm, "user_id", "left")
        .join(simp_mm, "user_id", "left")
    )
    return out.select(
        F.col("user_id").cast("long"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.col("n_raw").cast("long"),
        F.coalesce("raw_mm", F.lit(0)).cast("long").alias("raw_mm"),
        F.coalesce("simp_mm", F.lit(0)).cast("long").alias("simp_mm"),
    )


@_oracle("track_simplify")
def _tsg_o() -> str:
    from .functions import geohash as GH
    from .functions.text_sql import DUCKDB
    from .operators.trajectory import chord_mm_sql

    xs, ys = GH.geohash_xy_sql("lon", "lat", _TSG_CHARS, DUCKDB)
    mm = chord_mm_sql("plon", "plat", "lon", "lat")
    return f"""
WITH {_xing_pts_sql()},
cells AS MATERIALIZED (
  SELECT user_id, ts, event_id, lon, lat, {xs} AS cx, {ys} AS cy FROM pts
),
flagged AS MATERIALIZED (
  SELECT user_id, ts, event_id, lon, lat, cx, cy,
         LAG(cx) OVER w AS pcx, LAG(cy) OVER w AS pcy
  FROM cells
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
kept AS MATERIALIZED (
  SELECT user_id, ts, event_id, lon, lat FROM flagged
  WHERE pcx IS NULL OR pcx <> cx OR pcy <> cy
),
rawseg AS MATERIALIZED (
  SELECT user_id, lon, lat,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
simpseg AS MATERIALIZED (
  SELECT user_id, lon, lat,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat
  FROM kept
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
nraw AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_raw
         FROM pts GROUP BY user_id),
nkept AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_kept
          FROM kept GROUP BY user_id),
rawmm AS (SELECT user_id, CAST(SUM({mm}) AS BIGINT) AS raw_mm
          FROM rawseg WHERE plon IS NOT NULL GROUP BY user_id),
simpmm AS (SELECT user_id, CAST(SUM({mm}) AS BIGINT) AS simp_mm
           FROM simpseg WHERE plon IS NOT NULL GROUP BY user_id)
SELECT CAST(r.user_id AS BIGINT) AS user_id,
       COALESCE(k.n_kept, 0) AS n_kept, r.n_raw,
       COALESCE(rm.raw_mm, 0) AS raw_mm,
       COALESCE(sm.simp_mm, 0) AS simp_mm
FROM nraw r
LEFT JOIN nkept k ON k.user_id = r.user_id
LEFT JOIN rawmm rm ON rm.user_id = r.user_id
LEFT JOIN simpmm sm ON sm.user_id = r.user_id
"""


# ===========================================================================
# road speeds (operators/map_match.road_speed_stats): per-road chord-mm /
# elapsed-us sums over consecutive same-road matched pairs — the traffic
# profile.  Spark computes chords with the numpy pandas-UDF on the
# SNAPPED points; the oracle reuses the map_match best chain (which
# carries __qx/__qy) with chord_mm_sql, and the speed division is the
# shared non-negative idiv text.
# ===========================================================================


@_register("road_speeds")
def _rsp(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators.map_match import road_speed_stats, snap_to_roads

    e = _mm_road_exprs("id", _SP)
    roads = spark.range(16 * _MM_ROADS * _MM_SEGS).select(
        F.expr(e["road"]).alias("road_id"),
        F.expr(e["seg"]).alias("seg"),
        F.expr(e["x1"]).alias("x1"),
        F.expr(e["y1"]).alias("y1"),
        F.expr(e["x2"]).alias("x2"),
        F.expr(e["y2"]).alias("y2"),
    )
    m = snap_to_roads(
        _xing_pts(spark, sf_dir),
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
        keep=("user_id", "ts"),
    )
    out = road_speed_stats(m)
    return out.select(
        F.col("road_id").cast("long").alias("road"),
        F.col("n_segs").cast("long"),
        F.col("sum_mm").cast("long"),
        F.col("sum_us").cast("long"),
        F.col("speed_mmps").cast("long"),
    )


@_oracle("road_speeds")
def _rsp_o() -> str:
    from .functions.text_sql import DUCKDB, idiv_sql
    from .operators.trajectory import chord_mm_sql

    mm = chord_mm_sql("pqx", "pqy", "__qx", "__qy")
    speed = idiv_sql("sum_mm * 1000000", "GREATEST(sum_us, 1)", DUCKDB)
    return f"""
WITH {_mm_best_sql()},
seq AS MATERIALIZED (
  SELECT user_id, road, __qx, __qy, epoch_us(ts) AS tus, event_id
  FROM best WHERE rn = 1
),
lagged AS MATERIALIZED (
  SELECT road, __qx, __qy, tus,
         LAG(road) OVER w AS proad,
         LAG(__qx) OVER w AS pqx,
         LAG(__qy) OVER w AS pqy,
         LAG(tus) OVER w AS ptus
  FROM seq
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
segs AS MATERIALIZED (
  SELECT road, {mm} AS mmv, tus - ptus AS dus
  FROM lagged WHERE proad IS NOT NULL AND proad = road
),
agg AS MATERIALIZED (
  SELECT CAST(road AS BIGINT) AS road,
         CAST(COUNT(*) AS BIGINT) AS n_segs,
         CAST(SUM(mmv) AS BIGINT) AS sum_mm,
         CAST(SUM(dus) AS BIGINT) AS sum_us
  FROM segs GROUP BY road
)
SELECT road, n_segs, sum_mm, sum_us,
       CAST({speed} AS BIGINT) AS speed_mmps
FROM agg
"""


# ===========================================================================
# IDW surface (operators/idw.idw_grid): inverse-distance-weighted
# interpolation of a point field onto grid-cell anchors, fully integer
# (w = 1e9 DIV (d2+1), value = SUM(w*v) DIV SUM(w)).  Field value is
# event_id % 1000 over the Lissajous walks.  The oracle brute-forces
# point x data-cell pairs within each neighborhood (sound: centres
# >= 73e6 units apart vs a 20000-unit radius), independently verifying
# the covering-explode candidates' recall; anchors via the shared
# anchor_xy_sql text.
# ===========================================================================

_IDW_CHARS, _IDW_R = 7, 20_000


@_register("idw_surface")
def _idw(spark, sf_dir):
    from .operators.idw import idw_grid

    pts = _xing_pts(spark, sf_dir).withColumn(
        "v", F.expr("event_id % 1000")
    )
    out = idw_grid(
        pts, "v", chars=_IDW_CHARS, radius_fixed=_IDW_R, v_abs_max=1000
    )
    return out.select(
        F.col("cell_x").cast("long"),
        F.col("cell_y").cast("long"),
        F.col("n_pts").cast("long"),
        F.col("wsum").cast("long"),
        F.col("idw_value").cast("long"),
    )


@_oracle("idw_surface")
def _idw_o() -> str:
    from .functions import geohash as GH
    from .functions.text_sql import DUCKDB

    cx, cy = GH.geohash_xy_sql("lon", "lat", _IDW_CHARS, DUCKDB)
    au, av = GH.anchor_xy_sql("cx", "cy", _IDW_CHARS, DUCKDB)
    return f"""
WITH {_xing_pts_sql()},
pc AS MATERIALIZED (
  SELECT user_id % 16 AS nb, event_id % 1000 AS v,
         lon + 1800000000 AS pu, lat + 900000000 AS pv,
         {cx} AS cx, {cy} AS cy
  FROM pts
),
cells AS MATERIALIZED (
  SELECT DISTINCT nb, cx, cy FROM pc
),
anch AS MATERIALIZED (
  SELECT nb, cx, cy, {au} AS au, {av} AS av FROM cells
),
pairs AS MATERIALIZED (
  SELECT c.cx, c.cy, p.v,
         (p.pu - c.au) * (p.pu - c.au)
       + (p.pv - c.av) * (p.pv - c.av) AS d2
  FROM anch c JOIN pc p ON p.nb = c.nb
),
wtab AS MATERIALIZED (
  SELECT cx, cy, v, 1000000000 // (d2 + 1) AS w
  FROM pairs WHERE d2 <= {_IDW_R * _IDW_R}
)
SELECT CAST(cx AS BIGINT) AS cell_x, CAST(cy AS BIGINT) AS cell_y,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(SUM(w) AS BIGINT) AS wsum,
       CAST(SUM(w * v) // GREATEST(SUM(w), 1) AS BIGINT) AS idw_value
FROM wtab GROUP BY cx, cy
"""


# ===========================================================================
# co-visitation (operators/trajectory.co_visits): contact-graph pairs —
# distinct shared (cell, hour-bucket) slots per user pair over the
# Lissajous walks.  The oracle mirrors the visit distinct + pair join
# relationally (the gate pins the cross-engine cell/bucket integer
# semantics and the distinct-slot counting).
# ===========================================================================

_CV_CHARS = 6
_CV_BUCKET_US = 3_600_000_000


@_register("co_visits")
def _cvg(spark, sf_dir):
    from .operators.trajectory import co_visits

    out = co_visits(
        _xing_pts(spark, sf_dir), chars=_CV_CHARS, bucket_us=_CV_BUCKET_US
    )
    return out.select(
        F.col("user_a").cast("long"),
        F.col("user_b").cast("long"),
        F.col("n_covisits").cast("long"),
    )


@_oracle("co_visits")
def _cvg_o() -> str:
    from .functions import geohash as GH
    from .functions.text_sql import DUCKDB

    cx, cy = GH.geohash_xy_sql("lon", "lat", _CV_CHARS, DUCKDB)
    return f"""
WITH {_xing_pts_sql()},
vis AS MATERIALIZED (
  SELECT DISTINCT user_id, {cx} AS cx, {cy} AS cy,
         epoch_us(ts) // {_CV_BUCKET_US} AS tb
  FROM pts
),
pairs AS MATERIALIZED (
  SELECT a.user_id AS ua, b.user_id AS ub
  FROM vis a JOIN vis b
    ON a.cx = b.cx AND a.cy = b.cy AND a.tb = b.tb
   AND a.user_id < b.user_id
)
SELECT CAST(ua AS BIGINT) AS user_a, CAST(ub AS BIGINT) AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_covisits
FROM pairs GROUP BY ua, ub
"""


# ===========================================================================
# speeding segments (operators/trajectory.speeding_segments): GPS
# plausibility QA — division-free integer speed compare
# (chord_mm * 1e6 > vmax * dt_us) per consecutive pair, per-entity
# rollup.  Chords numpy-libm on the Spark side, chord_mm_sql in the
# oracle (the pinned sqrt-only cross-engine form).
# ===========================================================================

_SPD_VMAX = 50  # mm/s — splits the walk corpus ~4% speeding at sf0.01


@_register("speeding_report")
def _spd(spark, sf_dir):
    from .operators.trajectory import speeding_segments

    out = speeding_segments(
        _xing_pts(spark, sf_dir), _SPD_VMAX, max_span_fixed=_XING_SPAN
    )
    return out.select(
        F.col("user_id").cast("long"),
        F.col("n_segs").cast("long"),
        F.col("n_speeding").cast("long"),
        F.col("max_chord_mm").cast("long"),
    )


@_oracle("speeding_report")
def _spd_o() -> str:
    from .operators.trajectory import chord_mm_sql

    mm = chord_mm_sql("plon", "plat", "lon", "lat")
    return f"""
WITH {_xing_pts_sql()},
lagged AS MATERIALIZED (
  SELECT user_id, lon, lat, epoch_us(ts) AS tus,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat,
         LAG(epoch_us(ts)) OVER w AS ptus
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
segs AS MATERIALIZED (
  SELECT user_id, {mm} AS mmv, tus - ptus AS dus
  FROM lagged
  WHERE plon IS NOT NULL
    AND ABS(lon - plon) <= {_XING_SPAN} AND ABS(lat - plat) <= {_XING_SPAN}
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN mmv * 1000000 > {_SPD_VMAX} * dus
                THEN 1 ELSE 0 END) AS BIGINT) AS n_speeding,
       CAST(MAX(mmv) AS BIGINT) AS max_chord_mm
FROM segs GROUP BY user_id
"""


# ===========================================================================
# match rate (map-match QA): per-user matched-point fraction in ppm —
# the coverage metric that decides whether a track is usable for road
# analytics.  Composes the snap operator with a raw count; ppm is the
# shared non-negative integer division.
# ===========================================================================


@_register("match_rate")
def _mrt(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP, idiv_sql
    from .operators.map_match import snap_to_roads

    e = _mm_road_exprs("id", _SP)
    roads = spark.range(16 * _MM_ROADS * _MM_SEGS).select(
        F.expr(e["road"]).alias("road_id"),
        F.expr(e["seg"]).alias("seg"),
        F.expr(e["x1"]).alias("x1"),
        F.expr(e["y1"]).alias("y1"),
        F.expr(e["x2"]).alias("x2"),
        F.expr(e["y2"]).alias("y2"),
    )
    pts = _xing_pts(spark, sf_dir)
    m = snap_to_roads(
        pts,
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
        keep=("user_id",),
    )
    n_tot = pts.groupBy("user_id").agg(F.count("*").alias("n_total"))
    n_mat = m.groupBy("user_id").agg(F.count("*").alias("n_matched"))
    out = n_tot.join(n_mat, "user_id", "left").select(
        F.col("user_id").cast("long"),
        F.col("n_total").cast("long"),
        F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
    )
    ppm = idiv_sql("n_matched * 1000000", "n_total", _SP)
    return out.withColumn("match_ppm", F.expr(f"CAST({ppm} AS BIGINT)"))


@_oracle("match_rate")
def _mrt_o() -> str:
    from .functions.text_sql import DUCKDB, idiv_sql

    ppm = idiv_sql("n_matched * 1000000", "n_total", DUCKDB)
    return f"""
WITH {_mm_best_sql()},
nm AS MATERIALIZED (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matched
  FROM best WHERE rn = 1 GROUP BY user_id
),
nt AS MATERIALIZED (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_total
  FROM pts GROUP BY user_id
)
SELECT CAST(t.user_id AS BIGINT) AS user_id, t.n_total,
       COALESCE(m.n_matched, 0) AS n_matched,
       CAST({ppm.replace("n_matched", "COALESCE(m.n_matched, 0)").replace("n_total", "t.n_total")} AS BIGINT) AS match_ppm
FROM nt t LEFT JOIN nm m ON m.user_id = t.user_id
"""


# ===========================================================================
# road conflation (operators/map_match.conflate_roads): match network A's
# segments to network B's nearest bearing-compatible segment.  B is A
# shifted by (810, 1490) units with the vertex-jitter hash constant
# swapped on a quarter of the vertex indices — those twins drift in
# height AND bearing, so the gate exercises the distance cap and the
# |tan| <= 0.268 filter on real variety (some A segments match their
# twin, some match nothing).  The oracle brute-forces A midpoints vs all
# same-neighborhood B segments with the identical midpoint/snap/bearing
# integer text.
# ===========================================================================

_CFL_CAP = 5_000


def _mm_road_b_exprs(i: str, dialect: str) -> dict[str, str]:
    """Variant-B network: _mm_road_exprs shifted (+810, +1490) with the
    jitter constant swapped where (r + s) % 4 == 0."""
    from .functions.text_sql import idiv_sql

    nsegs = _MM_ROADS * _MM_SEGS
    nb = f"({idiv_sql(i, str(nsegs), dialect)})"
    r = f"({idiv_sql(f'(({i}) % {nsegs})', str(_MM_SEGS), dialect)})"
    s = f"(({i}) % {_MM_SEGS})"
    lon0 = f"((({nb} * 2654435761) % 3200000000) - 1600000000)"
    lat0 = f"((({nb} * 2246822519) % 1500000000) - 750000000)"

    def jit(ss: str) -> str:
        const = (
            f"(CASE WHEN ({r} + {ss}) % 4 = 0 THEN 2246822519 "
            f"ELSE 2654435761 END)"
        )
        return f"((({r} * 9 + {ss} + 1) * {const}) % 30000)"

    ybase = f"({lat0} + {r} * 48000 + 1490)"
    return {
        "nb": nb,
        "road": f"({nb} * {_MM_ROADS} + {r})",
        "seg": s,
        "x1": f"({lon0} + {s} * 45000 + 810)",
        "x2": f"({lon0} + ({s} + 1) * 45000 + 810)",
        "y1": f"({ybase} + {jit(s)})",
        "y2": f"({ybase} + {jit(f'({s} + 1)')})",
    }


def _mm_roads_df(spark, exprs: dict[str, str]):
    return spark.range(16 * _MM_ROADS * _MM_SEGS).select(
        F.expr(exprs["road"]).alias("road_id"),
        F.expr(exprs["seg"]).alias("seg"),
        F.expr(exprs["x1"]).alias("x1"),
        F.expr(exprs["y1"]).alias("y1"),
        F.expr(exprs["x2"]).alias("x2"),
        F.expr(exprs["y2"]).alias("y2"),
    )


@_register("conflate_networks")
def _cfl(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators.map_match import conflate_roads

    a = _mm_roads_df(spark, _mm_road_exprs("id", _SP))
    b = _mm_roads_df(spark, _mm_road_b_exprs("id", _SP))
    out = conflate_roads(
        a, b, max_dist_fixed=_CFL_CAP, max_seg_span_fixed=_MM_SPAN
    )
    return out.select(
        F.col("a_road").cast("long"),
        F.col("a_seg").cast("long"),
        F.col("b_road").cast("long"),
        F.col("b_seg").cast("long"),
        F.col("snap_d2").cast("long"),
    )


@_oracle("conflate_networks")
def _cfl_o() -> str:
    from .functions.text_sql import DUCKDB
    from .operators.map_match import snap_exprs

    ea = _mm_road_exprs("i", DUCKDB)
    eb = _mm_road_b_exprs("i", DUCKDB)
    s1, s2, s3 = snap_exprs("mx", "my", "x1", "y1", "x2", "y2", DUCKDB)

    def sel(stage: dict[str, str]) -> str:
        return ", ".join(f"{v} AS {k}" for k, v in stage.items())

    n = 16 * _MM_ROADS * _MM_SEGS
    return f"""
WITH idx AS MATERIALIZED (SELECT unnest(range(0, {n})) AS i),
a0 AS MATERIALIZED (
  SELECT {ea["nb"]} AS nb, {ea["road"]} AS a_road, {ea["seg"]} AS a_seg,
         {ea["x1"]} AS ax1, {ea["y1"]} AS ay1,
         {ea["x2"]} AS ax2, {ea["y2"]} AS ay2
  FROM idx),
amid AS MATERIALIZED (
  SELECT nb, a_road, a_seg,
         ((ax1 + ax2 + 3600000000) // 2) - 1800000000 AS mx,
         ((ay1 + ay2 + 1800000000) // 2) - 900000000 AS my,
         ax2 - ax1 AS __pvx, ay2 - ay1 AS __pvy
  FROM a0),
b0 AS MATERIALIZED (
  SELECT {eb["nb"]} AS nb, {eb["road"]} AS b_road, {eb["seg"]} AS b_seg,
         {eb["x1"]} AS x1, {eb["y1"]} AS y1,
         {eb["x2"]} AS x2, {eb["y2"]} AS y2
  FROM idx),
cand AS MATERIALIZED (
  SELECT a.a_road, a.a_seg, a.mx, a.my, a.__pvx, a.__pvy,
         b.b_road, b.b_seg, b.x1, b.y1, b.x2, b.y2
  FROM amid a JOIN b0 b ON b.nb = a.nb),
s1 AS MATERIALIZED (SELECT *, {sel(s1)} FROM cand),
s2 AS MATERIALIZED (SELECT *, {sel(s2)} FROM s1),
s3 AS MATERIALIZED (SELECT *, {sel(s3)} FROM s2),
best AS MATERIALIZED (
  SELECT a_road, a_seg, b_road, b_seg, __d2,
         ROW_NUMBER() OVER (PARTITION BY a_road, a_seg
                            ORDER BY __d2, b_road, b_seg) AS rn
  FROM s3
  WHERE __d2 <= {_CFL_CAP * _CFL_CAP}
    AND ABS(__pvx * __dy - __pvy * __dx) * 1000000
        <= ABS(__pvx * __dx + __pvy * __dy) * 268000
)
SELECT CAST(a_road AS BIGINT) AS a_road, CAST(a_seg AS BIGINT) AS a_seg,
       CAST(b_road AS BIGINT) AS b_road, CAST(b_seg AS BIGINT) AS b_seg,
       CAST(__d2 AS BIGINT) AS snap_d2
FROM best WHERE rn = 1
"""


# ===========================================================================
# pair-distance histogram (operators/spatial_join.pair_distance_histogram):
# Ripley's-K-style band counts of unordered close pairs over the walk
# points — exact integer d2 bands.  The oracle brute-forces same-
# neighborhood pairs (sound: cross-nb distances dwarf the max radius),
# independently verifying the disc-covering candidates' recall and the
# one-cell pair dedup.
# ===========================================================================

_PDH_RADII = [2_000, 5_000, 10_000, 20_000]


@_register("pair_distance_hist")
def _pdh(spark, sf_dir):
    from .operators.spatial_join import pair_distance_histogram

    out = pair_distance_histogram(_xing_pts(spark, sf_dir), _PDH_RADII)
    return out.select(
        F.col("band").cast("long"),
        F.col("radius_fixed").cast("long"),
        F.col("n_pairs").cast("long"),
    )


@_oracle("pair_distance_hist")
def _pdh_o() -> str:
    bounds = [0] + [r * r for r in _PDH_RADII]
    band = "CASE " + " ".join(
        f"WHEN d2 <= {bounds[k + 1]} THEN {k}"
        for k in range(len(_PDH_RADII))
    ) + " END"
    rcase = "CASE " + " ".join(
        f"WHEN band = {k} THEN {r}" for k, r in enumerate(_PDH_RADII)
    ) + " END"
    return f"""
WITH {_xing_pts_sql()},
pn AS MATERIALIZED (
  SELECT event_id, user_id % 16 AS nb, lon, lat FROM pts
),
pairs AS MATERIALIZED (
  SELECT (a.lon - b.lon) * (a.lon - b.lon)
       + (a.lat - b.lat) * (a.lat - b.lat) AS d2
  FROM pn a JOIN pn b ON a.nb = b.nb AND a.event_id < b.event_id
),
banded AS MATERIALIZED (
  SELECT {band} AS band FROM pairs
  WHERE d2 >= 1 AND d2 <= {bounds[-1]}
)
SELECT CAST(band AS BIGINT) AS band,
       CAST({rcase} AS BIGINT) AS radius_fixed,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM banded GROUP BY band
"""


# ===========================================================================
# flow matrix (operators/trajectory.flow_matrix): directed cell-to-cell
# step flows over the walks — the aggregate mobility flow field.  Pure
# integer cell math; staged LAG oracle.
# ===========================================================================

_FLM_CHARS = 6


@_register("flow_matrix")
def _flm(spark, sf_dir):
    from .operators.trajectory import flow_matrix

    out = flow_matrix(
        _xing_pts(spark, sf_dir), chars=_FLM_CHARS, max_span_fixed=_XING_SPAN
    )
    return out.select(
        F.col("from_x").cast("long"),
        F.col("from_y").cast("long"),
        F.col("to_x").cast("long"),
        F.col("to_y").cast("long"),
        F.col("n_steps").cast("long"),
        F.col("n_entities").cast("long"),
    )


@_oracle("flow_matrix")
def _flm_o() -> str:
    from .functions import geohash as GH
    from .functions.text_sql import DUCKDB

    cx, cy = GH.geohash_xy_sql("lon", "lat", _FLM_CHARS, DUCKDB)
    return f"""
WITH {_xing_pts_sql()},
cells AS MATERIALIZED (
  SELECT user_id, ts, event_id, lon, lat, {cx} AS cx, {cy} AS cy FROM pts
),
lagged AS MATERIALIZED (
  SELECT user_id, lon, lat, cx, cy,
         LAG(lon) OVER w AS px, LAG(lat) OVER w AS py,
         LAG(cx) OVER w AS fcx, LAG(cy) OVER w AS fcy
  FROM cells
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT CAST(fcx AS BIGINT) AS from_x, CAST(fcy AS BIGINT) AS from_y,
       CAST(cx AS BIGINT) AS to_x, CAST(cy AS BIGINT) AS to_y,
       CAST(COUNT(*) AS BIGINT) AS n_steps,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_entities
FROM lagged
WHERE px IS NOT NULL
  AND ABS(lon - px) <= {_XING_SPAN} AND ABS(lat - py) <= {_XING_SPAN}
  AND (fcx <> cx OR fcy <> cy)
GROUP BY fcx, fcy, cx, cy
"""


# ===========================================================================
# road hourly profile: per (road, hour-of-day) matched-point counts —
# the temporal usage profile of the road network, composed from the
# map_match best chain.
# ===========================================================================


@_register("road_hourly")
def _rhr(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators.map_match import snap_to_roads

    e = _mm_road_exprs("id", _SP)
    roads = _mm_roads_df(spark, e)
    m = snap_to_roads(
        _xing_pts(spark, sf_dir),
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
        keep=("user_id", "ts"),
    )
    hour = (
        F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000 "
               "AS BIGINT) % 24")
    )
    return (
        m.withColumn("hour", hour)
        .groupBy(F.col("road_id").cast("long").alias("road"), "hour")
        .agg(
            F.count("*").alias("n_pts"),
            F.countDistinct("user_id").alias("users"),
        )
    )


@_oracle("road_hourly")
def _rhr_o() -> str:
    return f"""
WITH {_mm_best_sql()}
SELECT CAST(road AS BIGINT) AS road,
       CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
FROM best WHERE rn = 1
GROUP BY road, hour
"""


# ===========================================================================
# conflation gaps: A segments with NO bearing-compatible B counterpart —
# the "new / changed roads" report that drives a network-merge review
# queue.  Anti-join against conflate_roads' matches, rolled up per road.
# ===========================================================================


@_register("conflate_gaps")
def _cfg(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators.map_match import conflate_roads

    a = _mm_roads_df(spark, _mm_road_exprs("id", _SP))
    b = _mm_roads_df(spark, _mm_road_b_exprs("id", _SP))
    matched = conflate_roads(
        a, b, max_dist_fixed=_CFL_CAP, max_seg_span_fixed=_MM_SPAN
    ).select("a_road", "a_seg")
    gaps = a.join(
        matched,
        (a.road_id == matched.a_road) & (a.seg == matched.a_seg),
        "left_anti",
    )
    return gaps.groupBy(F.col("road_id").cast("long").alias("road")).agg(
        F.count("*").alias("n_unmatched"),
        F.min(F.col("seg").cast("long")).alias("first_seg"),
        F.max(F.col("seg").cast("long")).alias("last_seg"),
    )


@_oracle("conflate_gaps")
def _cfg_o() -> str:
    inner = _cfl_o().strip()
    return f"""
WITH matched AS MATERIALIZED ({inner}),
idx AS MATERIALIZED (SELECT unnest(range(0, {16 * _MM_ROADS * _MM_SEGS})) AS i),
a0 AS MATERIALIZED (
  SELECT {_mm_road_exprs("i", "duckdb")["road"]} AS a_road,
         {_mm_road_exprs("i", "duckdb")["seg"]} AS a_seg
  FROM idx)
SELECT CAST(a.a_road AS BIGINT) AS road,
       CAST(COUNT(*) AS BIGINT) AS n_unmatched,
       CAST(MIN(a.a_seg) AS BIGINT) AS first_seg,
       CAST(MAX(a.a_seg) AS BIGINT) AS last_seg
FROM a0 a
WHERE NOT EXISTS (
  SELECT 1 FROM matched m WHERE m.a_road = a.a_road AND m.a_seg = a.a_seg
)
GROUP BY a.a_road
"""


# ===========================================================================
# mobility pipeline (composition gate, the trajectory twin of
# web_curation_pipeline): QA-filter entities — <= 5% speed violations
# (20 * n_speeding <= n_segs) AND >= 97% match coverage (the corpus
# spans 92.8-100%, so both cuts bite) — then profile
# the surviving matched points per (road, hour).  Exercises
# speeding_segments + snap_to_roads + the integer threshold algebra in
# one plan; the oracle composes the same CTE chains.
# ===========================================================================


@_register("mobility_pipeline")
def _mbp(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators.map_match import snap_to_roads
    from .operators.trajectory import speeding_segments

    pts = _xing_pts(spark, sf_dir)
    spd = speeding_segments(pts, _SPD_VMAX, max_span_fixed=_XING_SPAN)
    roads = _mm_roads_df(spark, _mm_road_exprs("id", _SP))
    m = snap_to_roads(
        pts,
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
        keep=("user_id", "ts"),
    )
    n_tot = pts.groupBy("user_id").agg(F.count("*").alias("n_total"))
    n_mat = m.groupBy("user_id").agg(F.count("*").alias("n_matched"))
    elig = (
        spd.join(n_tot, "user_id")
        .join(n_mat, "user_id", "left")
        .filter(
            (F.lit(20) * F.col("n_speeding") <= F.col("n_segs"))
            & (F.coalesce("n_matched", F.lit(0)) * 1000 >= F.lit(970) * F.col("n_total"))
        )
        .select("user_id")
    )
    hour = F.expr(
        "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000 "
        "AS BIGINT) % 24"
    )
    return (
        m.join(elig, "user_id")
        .withColumn("hour", hour)
        .groupBy(F.col("road_id").cast("long").alias("road"), "hour")
        .agg(
            F.count("*").alias("n_pts"),
            F.countDistinct("user_id").alias("users"),
        )
    )


@_oracle("mobility_pipeline")
def _mbp_o() -> str:
    from .operators.trajectory import chord_mm_sql

    mm = chord_mm_sql("plon", "plat", "lon", "lat")
    return f"""
WITH {_mm_best_sql()},
lagged AS MATERIALIZED (
  SELECT user_id, lon, lat, epoch_us(ts) AS tus,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat,
         LAG(epoch_us(ts)) OVER w AS ptus
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
segs AS MATERIALIZED (
  SELECT user_id, {mm} AS mmv, tus - ptus AS dus
  FROM lagged
  WHERE plon IS NOT NULL
    AND ABS(lon - plon) <= {_XING_SPAN} AND ABS(lat - plat) <= {_XING_SPAN}
),
spd AS MATERIALIZED (
  SELECT user_id, COUNT(*) AS n_segs,
         SUM(CASE WHEN mmv * 1000000 > {_SPD_VMAX} * dus
             THEN 1 ELSE 0 END) AS n_speeding
  FROM segs GROUP BY user_id
),
nt AS MATERIALIZED (
  SELECT user_id, COUNT(*) AS n_total FROM pts GROUP BY user_id
),
nm AS MATERIALIZED (
  SELECT user_id, COUNT(*) AS n_matched
  FROM best WHERE rn = 1 GROUP BY user_id
),
elig AS MATERIALIZED (
  SELECT s.user_id
  FROM spd s JOIN nt t ON t.user_id = s.user_id
  LEFT JOIN nm m ON m.user_id = s.user_id
  WHERE 20 * s.n_speeding <= s.n_segs
    AND COALESCE(m.n_matched, 0) * 1000 >= 970 * t.n_total
)
SELECT CAST(b.road AS BIGINT) AS road,
       CAST((epoch_us(b.ts) // 3600000000) % 24 AS BIGINT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS users
FROM best b JOIN elig e ON e.user_id = b.user_id
WHERE b.rn = 1
GROUP BY b.road, hour
"""


# ===========================================================================
# trip-bounded route flows: route_edges with max_gap_us — transitions
# never cross a >6h silence (the overnight teleport is not a flow).
# Oracle stages the gap flag, running trip counter, run-collapse, and
# transition LAG in separate MATERIALIZED CTEs (nested-window rule).
# ===========================================================================

_RTT_GAP_US = 6 * 3600 * 1_000_000


@_register("route_flows_trips")
def _rtt(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators.map_match import route_edges, snap_to_roads

    e = _mm_road_exprs("id", _SP)
    roads = _mm_roads_df(spark, e)
    m = snap_to_roads(
        _xing_pts(spark, sf_dir),
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
        keep=("user_id", "ts"),
    )
    return route_edges(m, max_gap_us=_RTT_GAP_US).select(
        F.col("road_from").cast("long"),
        F.col("road_to").cast("long"),
        F.col("n_trans").cast("long"),
        F.col("n_entities").cast("long"),
    )


@_oracle("route_flows_trips")
def _rtt_o() -> str:
    return f"""
WITH {_mm_best_sql()},
seq AS MATERIALIZED (
  SELECT user_id, epoch_us(ts) AS tus, event_id, road
  FROM best WHERE rn = 1
),
gapped AS MATERIALIZED (
  SELECT user_id, tus, event_id, road,
         CASE WHEN tus - LAG(tus) OVER w > {_RTT_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM seq
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
tripped AS MATERIALIZED (
  SELECT user_id, tus, event_id, road,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS trip
  FROM gapped
),
collapsed AS MATERIALIZED (
  SELECT user_id, trip, tus, event_id, road,
         LAG(road) OVER w AS prev
  FROM tripped
  WINDOW w AS (PARTITION BY user_id, trip ORDER BY tus, event_id)
),
runs AS MATERIALIZED (
  SELECT user_id, trip, road,
         LAG(road) OVER (PARTITION BY user_id, trip
                         ORDER BY tus, event_id) AS road_from
  FROM collapsed WHERE prev IS NULL OR prev <> road
)
SELECT CAST(road_from AS BIGINT) AS road_from,
       CAST(road AS BIGINT) AS road_to,
       CAST(COUNT(*) AS BIGINT) AS n_trans,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_entities
FROM runs WHERE road_from IS NOT NULL
GROUP BY road_from, road
"""


# ===========================================================================
# road speed quantiles: exact per-road order statistics of per-segment
# speeds (mm*1e6 DIV max(dt,1)) via the r5 driver-histogram refinement
# machinery (stats.group_quantiles integral path — no per-road window).
# Oracle: the standard window-rank formulation over the best chain.
# ===========================================================================


@_register("road_speed_quantiles")
def _rsq(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP, idiv_sql
    from .operators import stats as ST
    from .operators.map_match import matched_road_segments, snap_to_roads

    e = _mm_road_exprs("id", _SP)
    roads = _mm_roads_df(spark, e)
    m = snap_to_roads(
        _xing_pts(spark, sf_dir),
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
        keep=("user_id", "ts"),
    )
    segs = matched_road_segments(m)
    spd = idiv_sql("__mm * 1000000", "GREATEST(__dus, 1)", _SP)
    per_seg = segs.select(
        F.col("__road").alias("road"),
        F.col("event_id"),
        F.expr(f"CAST({spd} AS BIGINT)").alias("speed"),
    )
    out = ST.group_quantiles(per_seg, "road", "speed", "event_id")
    return out.select(
        F.col("road").cast("long"),
        F.col("n").cast("long"),
        F.col("vmin").cast("long"),
        F.col("vmax").cast("long"),
        F.col("median_x2").cast("long"),
        F.col("p90").cast("long"),
    )


@_oracle("road_speed_quantiles")
def _rsq_o() -> str:
    from .functions.text_sql import DUCKDB, idiv_sql
    from .operators.trajectory import chord_mm_sql

    mm = chord_mm_sql("pqx", "pqy", "__qx", "__qy")
    spd = idiv_sql("mmv * 1000000", "GREATEST(dus, 1)", DUCKDB)
    return f"""
WITH {_mm_best_sql()},
seq AS MATERIALIZED (
  SELECT user_id, road, __qx, __qy, epoch_us(ts) AS tus, event_id
  FROM best WHERE rn = 1
),
lagged AS MATERIALIZED (
  SELECT road, __qx, __qy, tus, event_id,
         LAG(road) OVER w AS proad,
         LAG(__qx) OVER w AS pqx,
         LAG(__qy) OVER w AS pqy,
         LAG(tus) OVER w AS ptus
  FROM seq
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
segs AS MATERIALIZED (
  SELECT road, event_id, {mm} AS mmv, tus - ptus AS dus
  FROM lagged WHERE proad IS NOT NULL AND proad = road
),
spd AS MATERIALIZED (
  SELECT road, event_id, CAST({spd} AS BIGINT) AS v FROM segs
),
r AS MATERIALIZED (
  SELECT road, v,
         ROW_NUMBER() OVER (PARTITION BY road ORDER BY v, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY road) AS n
  FROM spd
)
SELECT CAST(road AS BIGINT) AS road, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(v) AS BIGINT) AS vmin, CAST(MAX(v) AS BIGINT) AS vmax,
       CAST(CASE WHEN MAX(n) % 2 = 1
            THEN SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                     THEN v ELSE 0 END) * 2
            ELSE SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                     THEN v ELSE 0 END)
            END AS BIGINT) AS median_x2,
       CAST(SUM(CASE WHEN rn = CAST(CEIL(n * 9 / 10.0) AS BIGINT)
                THEN v ELSE 0 END) AS BIGINT) AS p90
FROM r GROUP BY road
"""


# ===========================================================================
# visit profile (operators/trajectory.visit_profile): returner/explorer
# split — distinct (cell, day) visits, distinct cells, top-cell visit
# share in ppm.  Pure integer; relational oracle.
# ===========================================================================

_VPR_CHARS = 6
_VPR_BUCKET_US = 86_400_000_000


@_register("visit_profile")
def _vpr(spark, sf_dir):
    from .operators.trajectory import visit_profile

    out = visit_profile(
        _xing_pts(spark, sf_dir), chars=_VPR_CHARS, bucket_us=_VPR_BUCKET_US
    )
    return out.select(
        F.col("user_id").cast("long"),
        F.col("n_visits").cast("long"),
        F.col("n_cells").cast("long"),
        F.col("top_visits").cast("long"),
        F.col("top_share_ppm").cast("long"),
    )


@_oracle("visit_profile")
def _vpr_o() -> str:
    from .functions import geohash as GH
    from .functions.text_sql import DUCKDB

    cx, cy = GH.geohash_xy_sql("lon", "lat", _VPR_CHARS, DUCKDB)
    return f"""
WITH {_xing_pts_sql()},
vis AS MATERIALIZED (
  SELECT DISTINCT user_id, {cx} AS cx, {cy} AS cy,
         epoch_us(ts) // {_VPR_BUCKET_US} AS tb
  FROM pts
),
per_cell AS MATERIALIZED (
  SELECT user_id, cx, cy, COUNT(*) AS cnt
  FROM vis GROUP BY user_id, cx, cy
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(cnt) AS BIGINT) AS n_visits,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MAX(cnt) AS BIGINT) AS top_visits,
       CAST((CAST(MAX(cnt) AS BIGINT) * 1000000)
            // CAST(SUM(cnt) AS BIGINT) AS BIGINT) AS top_share_ppm
FROM per_cell GROUP BY user_id
"""


# ===========================================================================
# radius of gyration (operators/trajectory.radius_of_gyration): the
# classic mobility-range metric, exact integer two-pass form (floored
# u-space centroid, squared-deviation mean).  Relational oracle with
# the identical shift/DIV text.
# ===========================================================================


@_register("radius_gyration")
def _rog(spark, sf_dir):
    from .operators.trajectory import radius_of_gyration

    out = radius_of_gyration(_xing_pts(spark, sf_dir))
    return out.select(
        F.col("user_id").cast("long"),
        F.col("n_points").cast("long"),
        F.col("cx").cast("long"),
        F.col("cy").cast("long"),
        F.col("rog2").cast("long"),
    )


@_oracle("radius_gyration")
def _rog_o() -> str:
    return f"""
WITH {_xing_pts_sql()},
cent AS MATERIALIZED (
  SELECT user_id, COUNT(*) AS n,
         CAST((SUM(lon) + COUNT(*) * 1800000000) // COUNT(*) AS BIGINT)
           - 1800000000 AS cx,
         CAST((SUM(lat) + COUNT(*) * 900000000) // COUNT(*) AS BIGINT)
           - 900000000 AS cy
  FROM pts GROUP BY user_id
),
dev AS MATERIALIZED (
  SELECT p.user_id, c.n, c.cx, c.cy,
         (p.lon - c.cx) * (p.lon - c.cx)
       + (p.lat - c.cy) * (p.lat - c.cy) AS d2
  FROM pts p JOIN cent c ON c.user_id = p.user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(MAX(n) AS BIGINT) AS n_points,
       CAST(MAX(cx) AS BIGINT) AS cx, CAST(MAX(cy) AS BIGINT) AS cy,
       CAST(CAST(SUM(d2) AS BIGINT) // MAX(n) AS BIGINT) AS rog2
FROM dev GROUP BY user_id
"""


# ===========================================================================
# mobility entropy: the visit-distribution entropy proxy per entity —
# the channel_entropy bit algebra over visit_profile's per-cell counts
# (predictability literature: low entropy = routine-bound).
# ===========================================================================


@_register("mobility_entropy")
def _men(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .functions import geohash as GH
    from .functions.parse import epoch_micros

    pts = _xing_pts(spark, sf_dir)
    xs, ys = GH.geohash_xy_sql("lon", "lat", _VPR_CHARS, _SP)
    vis = pts.select(
        F.col("user_id"),
        F.expr(xs).alias("cx"),
        F.expr(ys).alias("cy"),
        F.expr(
            f"CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV "
            f"{_VPR_BUCKET_US} AS BIGINT)"
        ).alias("tb"),
    ).distinct()
    per_cell = vis.groupBy("user_id", "cx", "cy").agg(
        F.count("*").alias("cnt")
    )
    return (
        per_cell.groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(
            F.sum("cnt").alias("n_visits"),
            F.sum(F.col("cnt") * F.length(F.bin(F.col("cnt")))).alias("__s"),
        )
        .select(
            "user_id",
            F.col("n_visits").cast("long"),
            (
                F.col("n_visits") * F.length(F.bin(F.col("n_visits")))
                - F.col("__s")
            ).cast("long").alias("ent_bits"),
        )
    )


@_oracle("mobility_entropy")
def _men_o() -> str:
    from .functions import geohash as GH
    from .functions.text_sql import DUCKDB

    cx, cy = GH.geohash_xy_sql("lon", "lat", _VPR_CHARS, DUCKDB)
    return f"""
WITH {_xing_pts_sql()},
vis AS MATERIALIZED (
  SELECT DISTINCT user_id, {cx} AS cx, {cy} AS cy,
         epoch_us(ts) // {_VPR_BUCKET_US} AS tb
  FROM pts
),
per_cell AS MATERIALIZED (
  SELECT user_id, cx, cy, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM vis GROUP BY user_id, cx, cy
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(cnt) AS BIGINT) AS n_visits,
       CAST(SUM(cnt) * len(bin(SUM(cnt)))
            - SUM(cnt * len(bin(cnt))) AS BIGINT) AS ent_bits
FROM per_cell GROUP BY user_id
"""


# ===========================================================================
# road coverage: network utilization — per road, how many of its
# segments have >= 1 matched point, and the covered share in ppm (the
# which-streets-does-our-data-even-see QA before any per-road metric is
# trusted).  Anti-join-free: left join distinct matched segs to the
# network and aggregate.
# ===========================================================================


@_register("road_coverage")
def _rcv(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP, idiv_sql
    from .operators.map_match import snap_to_roads

    e = _mm_road_exprs("id", _SP)
    roads = _mm_roads_df(spark, e)
    m = snap_to_roads(
        _xing_pts(spark, sf_dir),
        roads,
        max_dist_fixed=_MM_CAP,
        max_seg_span_fixed=_MM_SPAN,
    )
    hit = m.select(
        F.col("road_id").alias("__hr"), F.col("seg").alias("__hs")
    ).distinct()
    j = roads.join(
        hit,
        (roads.road_id == hit.__hr) & (roads.seg == hit.__hs),
        "left",
    )
    agg = j.groupBy(F.col("road_id").cast("long").alias("road")).agg(
        F.count("*").alias("n_segs"),
        F.sum(
            F.when(F.col("__hr").isNotNull(), 1).otherwise(0)
        ).alias("n_covered"),
    )
    ppm = idiv_sql("n_covered * 1000000", "n_segs", _SP)
    return agg.withColumn("covered_ppm", F.expr(f"CAST({ppm} AS BIGINT)"))


@_oracle("road_coverage")
def _rcv_o() -> str:
    e = _mm_road_exprs("i", "duckdb")
    return f"""
WITH {_mm_best_sql()},
hit AS MATERIALIZED (
  SELECT DISTINCT road, seg FROM best WHERE rn = 1
),
idx2 AS MATERIALIZED (SELECT unnest(range(0, {16 * _MM_ROADS * _MM_SEGS})) AS i),
net AS MATERIALIZED (
  SELECT {e["road"]} AS road, {e["seg"]} AS seg FROM idx2
)
SELECT CAST(n.road AS BIGINT) AS road,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN h.road IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST((SUM(CASE WHEN h.road IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS covered_ppm
FROM net n LEFT JOIN hit h ON h.road = n.road AND h.seg = n.seg
GROUP BY n.road
"""


# ===========================================================================
# OD flows by departure hour (od_matrix by_hour=True): the time-of-day
# demand surface — same trips, grouped additionally by the departure
# hour (UTC) of each trip's first point.
# ===========================================================================


@_register("od_by_hour")
def _odh(spark, sf_dir):
    from .operators.trajectory import od_matrix

    out = od_matrix(
        _xing_pts(spark, sf_dir),
        max_gap_us=_ODM_GAP_US,
        chars=_ODM_CHARS,
        by_hour=True,
    )
    return out.select(
        F.col("o_x").cast("long"),
        F.col("o_y").cast("long"),
        F.col("d_x").cast("long"),
        F.col("d_y").cast("long"),
        F.col("dep_hour").cast("long"),
        F.col("n_trips").cast("long"),
    )


@_oracle("od_by_hour")
def _odh_o() -> str:
    from .functions import geohash as GH

    xs, ys = GH.geohash_xy_sql("lon", "lat", _ODM_CHARS, "duckdb")
    return f"""
WITH {_xing_pts_sql()},
pp AS MATERIALIZED (
  SELECT user_id, event_id, ts, lon, lat, epoch_us(ts) AS tus FROM pts
),
lagged AS MATERIALIZED (
  SELECT user_id, event_id, ts, lon, lat, tus, LAG(tus) OVER w AS ptus
  FROM pp
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
tripped AS MATERIALIZED (
  SELECT user_id, event_id, lon, lat, tus,
         CAST(SUM(CASE WHEN ptus IS NULL OR tus - ptus > {_ODM_GAP_US}
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY tus, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) - 1 AS trip
  FROM lagged
),
ends AS MATERIALIZED (
  SELECT user_id, trip, lon, lat, tus,
         ROW_NUMBER() OVER (PARTITION BY user_id, trip
                            ORDER BY tus, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, trip
                            ORDER BY tus DESC, event_id DESC) AS rnd
  FROM tripped
),
cells AS MATERIALIZED (
  SELECT user_id, trip, rn, rnd, tus, {xs} AS cx, {ys} AS cy
  FROM ends WHERE rn = 1 OR rnd = 1
),
od AS MATERIALIZED (
  SELECT user_id, trip,
         MIN(CASE WHEN rn = 1 THEN cx END) AS o_x,
         MIN(CASE WHEN rn = 1 THEN cy END) AS o_y,
         MIN(CASE WHEN rnd = 1 THEN cx END) AS d_x,
         MIN(CASE WHEN rnd = 1 THEN cy END) AS d_y,
         MIN(CASE WHEN rn = 1 THEN (tus // 3600000000) % 24 END) AS dep_hour
  FROM cells GROUP BY user_id, trip
)
SELECT CAST(o_x AS BIGINT) AS o_x, CAST(o_y AS BIGINT) AS o_y,
       CAST(d_x AS BIGINT) AS d_x, CAST(d_y AS BIGINT) AS d_y,
       CAST(dep_hour AS BIGINT) AS dep_hour,
       CAST(COUNT(*) AS BIGINT) AS n_trips
FROM od GROUP BY o_x, o_y, d_x, d_y, dep_hour
"""
