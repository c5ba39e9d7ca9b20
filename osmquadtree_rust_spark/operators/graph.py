"""Deterministic integer PageRank over an edge list.

The engine's third iterative algorithm (after connected_components'
pointer-jump min-label propagation and similarity.py's Lloyd k-means),
and the one whose per-iteration shape IS the canonical Pregel step:
join rank onto out-edges, aggregate contributions by destination, add
the teleport term.  Rank mass is integer fixed-point (`scale` units of
total mass) and the damping factor a rational d = damp_num/damp_den, so
every update is exact int64 arithmetic:

    pr_0(v)    = scale DIV n
    contrib(u) = (damp_num * pr_t(u)) DIV (damp_den * outdeg(u))  per edge
    pr_{t+1}(v) = (damp_den - damp_num) * scale DIV (damp_den * n)
                  + sum over in-edges of contrib

— no float anywhere, so a DuckDB oracle unrolling the same stages is
bit-identical and iteration order cannot leak into results.  Flooring
loses < 1 unit of mass per edge per iteration (choose scale >> edges);
dangling nodes (no out-edges) simply drop their damped mass — the
standard simplification, deterministic, and documented so the oracle
mirrors it.

Per-iteration lineage is truncated with an eager localCheckpoint and
the previous generation unpersisted (the connected_components r4
lesson: nesting logical plans per round re-optimizes an ever-deeper
tree and eventually stack-overflows Catalyst).  Each iteration is one
hash join (rank onto edge src — rank carries outdeg, joined once at
init, so no per-round outdeg join) + one aggregate: two shuffles,
node/edge-sized, constant plan depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    scale: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, pr) after `iters` exact integer PageRank iterations over
    the DISTINCT directed edges.  Nodes are the union of endpoints; pr
    is in `scale` fixed-point units of total mass (module docstring).

    reliable=False truncates per-round lineage with localCheckpoint
    (executor-local blocks — fastest, but a lost executor kills the
    job); reliable=True writes each rank generation as parquet under
    checkpoint_dir and deletes dead generations through the Hadoop FS
    API (cluster URIs clean up like local paths), exactly the
    connected_components fault-tolerance contract — the FINAL rank
    parquet backs the returned frame and is the caller's to remove
    with checkpoint_dir.
    """
    spark = edges.sparkSession
    if iters < 0:
        raise ValueError(f"iters={iters} must be >= 0")
    if not (0 < damp_num < damp_den):
        raise ValueError("need 0 < damp_num < damp_den")
    if scale < 1:
        raise ValueError(f"scale={scale} must be >= 1")
    if reliable and checkpoint_dir is None:
        raise ValueError("reliable=True needs checkpoint_dir")
    from .. import fsio

    _gen = {"n": 0}

    def _ckpt(df: DataFrame) -> tuple[DataFrame, str | None]:
        if not reliable:
            return df.localCheckpoint(eager=True), None
        path = f"{checkpoint_dir}/pr_gen_{_gen['n']}.parquet"
        _gen["n"] += 1
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path), path

    def _drop(df: DataFrame, path: str | None) -> None:
        if path is None:
            df.unpersist()
        else:
            fsio.rmtree_any(path, spark)

    e, e_path = _ckpt(
        edges.select(
            F.col(src).cast("long").alias("__u"),
            F.col(dst).cast("long").alias("__v"),
        ).distinct()
    )
    nodes = (
        e.select(F.col("__u").alias("node"))
        .unionByName(e.select(F.col("__v").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("__u").alias("node")).agg(
        F.count("*").alias("__od")
    )
    # rank carries outdeg from the start — one init join instead of one
    # per iteration (the carry-through rule: Spark re-evaluates shared
    # subplans per consumer)
    deg, deg_path = _ckpt(
        nodes.join(outdeg, "node", "left").select("node", F.col("__od"))
    )
    n = deg.count()
    if n == 0:
        _drop(deg, deg_path)
        _drop(e, e_path)
        return local_frame(spark, [], "node long, pr long")
    init = int(scale) // n
    base = (damp_den - damp_num) * int(scale) // (damp_den * n)
    pr, pr_path = _ckpt(deg.withColumn("pr", F.lit(init).cast("long")))
    _drop(deg, deg_path)
    contrib_expr = (
        f"({damp_num}L * pr) DIV ({damp_den}L * __od)"
    )
    for _ in range(int(iters)):
        ranked = pr.filter(F.col("__od").isNotNull())
        contrib = (
            ranked.join(e, ranked["node"] == e["__u"])
            .select(F.col("__v").alias("node"), F.expr(contrib_expr).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__m"))
        )
        nxt, nxt_path = _ckpt(
            pr.select("node", "__od")
            .join(contrib, "node", "left")
            .select(
                "node",
                "__od",
                (F.lit(base) + F.coalesce(F.col("__m"), F.lit(0)))
                .cast("long")
                .alias("pr"),
            )
        )
        _drop(pr, pr_path)
        pr, pr_path = nxt, nxt_path
    out = pr.select("node", "pr")
    _drop(e, e_path)
    return out
