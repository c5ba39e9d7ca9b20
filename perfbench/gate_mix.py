"""`gate_mix`: the operator families behind the gate registry.

One pass runs the queries of QUERIES one after another through
`G.GATE[q]["spark"]` into a noop sink, on tables generated from the seed
(`gate_data`).  Set-up runs one untimed full-size pass that collects each
result; meanwhile a side thread runs each query's own DuckDB oracle, and
every result must equal its oracle's.  The timed passes follow.
"""

from __future__ import annotations

import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

from . import gate_data
from . import harness as H

# Three of the four queries the round-8 stage pins slowed down, the short
# PIP join, and one query each of the filter closure and the calcqts
# fixpoint.  The fourth pinned query, dbscan_clusters, is left out: it
# would add a third of the pass time and its operators (spatial_join) are
# already measured by knn_radius_join and pip_spatial_join.
QUERIES = (
    "knn_radius_join",
    "dedup_exact",
    "label_centroids",
    "pip_spatial_join",
    "id_closure",
    "rel_qt_fixpoint",
)
# the short queries, whose wall is mostly the per-query fixed cost
SHORT = ("dedup_exact", "label_centroids", "pip_spatial_join")
MIN_PASSES = 2  # untraced passes of a run, at least


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _rows(records) -> list[tuple]:
    return sorted(tuple(_norm(v) for v in r) for r in records)


def _oracles(gate, data: str, tables) -> dict:
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    try:
        return {q: _rows(con.execute(gate[q]["oracle"]()).fetchall()) for q in QUERIES}
    finally:
        con.close()


def setup(spark, tr, run):
    data = os.path.join(run.workdir, "gate_data")
    tables = gate_data.write(data, run.seed, run.size)  # name -> rows
    # oracles that embed data-derived literals read their tables from here
    os.environ["SPARK_GRAFT_ORACLE_SF"] = data
    from osmquadtree_rust_spark import gate as G
    from osmquadtree_rust_spark import gate_text  # noqa: F401  (registers queries)

    with ThreadPoolExecutor(1) as pool:
        want = pool.submit(_oracles, G.GATE, data, tables)
        got = {}
        for q in QUERIES:
            run.attempted += 1
            got[q] = _rows(G.GATE[q]["spark"](spark, data).collect())
        want = want.result()
    for q in QUERIES:
        run.check(got[q] == want[q] and len(got[q]) > 0,
                  f"{q}: spark {len(got[q])} rows vs oracle {len(want[q])} rows")
    return {"data": data, "gate": G.GATE, "rows": sum(tables.values())}


def _pass(spark, tr, run, ctx, i):
    """One pass over QUERIES: (per-query walls, shuffle bytes written).
    The bytes come from a job group around the whole pass, so a traced
    pass, whose spans hold their own job groups, returns None for them."""
    sc = spark.sparkContext
    group = None if tr.enabled else f"pass-{i}"
    if group:
        sc.setJobGroup(group, "gate_mix pass", False)
    walls = []
    for q in QUERIES:
        tr.operation(f"pass-{i}")
        run.attempted += 1
        with tr.span(f"gate.{q}", jobs=True) as sp:
            ctx["gate"][q]["spark"](spark, ctx["data"]).write.format("noop").mode("overwrite").save()
        walls.append(sp.dur)
    if group is None:
        return walls, None
    sc.setLocalProperty("spark.jobGroup.id", None)
    return walls, H.stage_counters(sc, group)["shuffleWriteBytes"]


def measure(spark, tr, run, ctx):
    walls, traced_walls, query_walls, shuffle = [], [], [], []
    need = 2 * MIN_PASSES if run.trace else MIN_PASSES
    t_end = time.perf_counter() + run.seconds
    i = 0
    while i < need or time.perf_counter() < t_end:
        # untraced, traced, traced, untraced: passes still speed up a little,
        # and this order keeps that drift out of the tracing overhead
        tr.enabled = run.trace and i % 4 in (1, 2)
        per_query, nbytes = _pass(spark, tr, run, ctx, i)
        if tr.enabled:
            traced_walls.append(sum(per_query))
        else:
            walls.append(sum(per_query))
            query_walls += per_query
            shuffle.append(nbytes)
        i += 1
    tr.enabled = False
    run.e2e["pass_s"] = H.p50(walls)
    run.e2e["images_per_s"] = ctx["rows"] / H.p50(walls)
    short = [w for j, w in enumerate(query_walls) if QUERIES[j % len(QUERIES)] in SHORT]
    run.e2e["op_p50_ms"] = 1000 * H.p50(short)
    run.e2e["bytes_per_row"] = H.p50(shuffle) / ctx["rows"]
    run.report.update(
        passes=len(walls),
        pass_ms=[round(1000 * w) for w in walls],
        query_ms={q: round(1000 * H.p50(query_walls[j::len(QUERIES)]))
                  for j, q in enumerate(QUERIES)},
    )
    if run.trace:
        _layers(spark, tr, run, walls, traced_walls)


def _layers(spark, tr, run, walls, traced_walls):
    L = run.layer
    cores = spark.sparkContext.defaultParallelism
    for q in QUERIES:
        spans = tr.of(f"gate.{q}")
        wall_ms = 1000 * H.p50([s.dur for s in spans])
        run_ms = H.p50([s.counters["executorRunTime"] for s in spans])
        L[f"gate.{q}.wall_ms"] = wall_ms
        L[f"gate.{q}.exec_run_ms"] = run_ms
        L[f"gate.{q}.tasks"] = H.p50([s.counters["numCompleteTasks"] for s in spans])
        L[f"gate.{q}.shuffle_bytes"] = H.p50([s.counters["shuffleWriteBytes"] for s in spans])
        L[f"gate.{q}.core_util"] = run_ms / (wall_ms * cores)
    L["trace.overhead_frac"] = H.p50(traced_walls) / H.p50(walls) - 1
