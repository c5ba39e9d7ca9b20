"""Exact distribution statistics for dataset profiling.

Rank-based quantiles (percentile_disc semantics plus an exact doubled
median) computed with window functions — integer-exact, so Spark and
DuckDB agree bit-for-bit, unlike approx_percentile/quantile built-ins
whose sketches differ per engine.  One shuffle on the group key; the
per-group sort is the same work any exact quantile requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def group_quantiles(
    df: DataFrame,
    group: str,
    value: str,
    id_col: str,
    partition_limit: int = 65536,
    hist_buckets: int = 4096,
    max_rounds: int | None = None,
) -> DataFrame:
    """Per-group (n, min, max, median_x2, p90) of an integer column.

    median_x2 = value[(n+1)//2] + value[(n+2)//2] (1-indexed ranks) — the
    doubled median is an exact integer for both parities; p90 is
    percentile_disc(0.9): the value at rank ceil(0.9 * n).

    Scale shape (r5 — preempting the top_frac_per_group pathology): the
    former single window partitioned by `group` sorted a hot group on
    ONE task; integral value columns now take the order-statistic path
    (_gq_hist: driver histogram refinement of only the ranges containing
    a target rank, aggregate-only scans, a bounded fetch of at most
    `partition_limit` rows per remaining target).  Rank-r VALUES are
    tie-insensitive, so unlike top_frac no id machinery is needed and
    massive ties resolve instantly at width 1; `id_col` only matters on
    the non-integral fallback path (_gq_window), where it keeps the
    legacy window deterministic."""
    if dict(df.dtypes)[value] in _INTEGRAL_TYPES:
        return _gq_hist(
            df, group, value, int(partition_limit), int(hist_buckets),
            None if max_rounds is None else int(max_rounds),
        )
    return _gq_window(df, group, value, id_col)


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _gq_window(df, group, value, id_col):
    """Legacy single-window form (kept as the non-integral fallback —
    a hot group sorts on one task; integral value columns take the
    order-statistic path in group_quantiles instead)."""
    w = Window.partitionBy(group).orderBy(F.col(value), F.col(id_col))
    ranked = df.select(
        F.col(group),
        F.col(value).cast("long").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy(group)).alias("n"),
    )
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor((F.col("n") + 2) / 2)
    p90 = F.ceil(F.col("n") * 9 / 10)
    return ranked.groupBy(group).agg(
        F.max("n").alias("n"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.sum(
            F.when((F.col("rn") == lo) | (F.col("rn") == hi), F.col("v")).otherwise(
                F.lit(0)
            )
        ).alias("__mraw"),
        F.sum(F.when(F.col("rn") == p90, F.col("v")).otherwise(F.lit(0))).alias("p90"),
    ).withColumn(
        "median_x2",
        F.when(F.col("n") % 2 == 1, F.col("__mraw") * 2).otherwise(F.col("__mraw")),
    ).select(group, "n", "vmin", "vmax", "median_x2", "p90")


def _gq_hist(df, group, value, limit, B, max_rounds):
    """Order-statistic quantiles (r5 — the same driver-histogram design
    as top_frac_per_group, PLANS.md §22, but strictly simpler: only the
    VALUES at three target ranks per group are needed, rank-r values are
    tie-insensitive so width-1 ranges resolve immediately with no id
    sub-bucketing, and only ranges CONTAINING an unresolved target ever
    refine).  Aggregate-only scans; the final fetch reads at most
    `limit` rows per remaining target; the per-group result is
    assembled on the driver (metadata-scale, like every stats output).

    NULL values rank first (the legacy window's asc_nulls_first order);
    a target rank landing inside the nulls yields NULL."""
    import math

    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    gtype = df.schema[group].dataType
    if max_rounds is None:
        max_rounds = math.ceil(62.0 / math.log2(B)) + 3
    stats = df.groupBy(group).agg(
        F.count("*").alias("__n"),
        F.count(value).alias("__nn"),
        F.min(value).alias("__mn"),
        F.max(value).alias("__mx"),
    ).collect()

    nid_counter = [0]

    def new_nid():
        nid_counter[0] += 1
        return nid_counter[0]

    # every rank below is NON-NULL-relative (rank among non-null values,
    # ascending); the assembly step translates original ranks: a target
    # rank t <= null_count resolves to NULL (asc_nulls_first), else to
    # resolved[(gidx, t - null_count)]
    resolved = {}   # (gidx, nonnull_rank) -> value
    fetch = {}      # nid -> node dict (count <= limit, has targets)
    pending = []    # nodes to histogram this round
    groups = []     # (gidx, gval, n, nn, mn, mx)

    for gidx, r in enumerate(stats):
        gval, n, nn = r[0], r["__n"], r["__nn"]
        lo = (n + 1) // 2
        hi = (n + 2) // 2
        p90 = -(-9 * n // 10)
        # same order-span guard as top_frac_per_group (text.py): a group
        # spanning >= 2^62 overflows the bigint bucket arithmetic
        # ((value - __rlo) DIV __rw) — fail loudly instead of wrong
        # buckets / ANSI cast errors (r5 ADVICE)
        if nn > 0 and r["__mx"] - r["__mn"] >= 1 << 62:
            raise ValueError(
                f"order span [{r['__mn']}, {r['__mx']}] too wide for "
                f"exact integer bucket arithmetic (>= 2^62)"
            )
        groups.append((gidx, gval, n, nn, r["__mn"], r["__mx"]))
        nc = n - nn
        live = sorted({t - nc for t in (lo, hi, p90) if t > nc})
        if not live:
            continue
        node = {
            "nid": new_nid(), "gidx": gidx, "g": gval,
            "lo": r["__mn"], "hi": r["__mx"] + 1, "count": nn,
            "off": 0, "targets": live,
        }
        _gq_route(node, resolved, fetch, pending, limit)

    rounds = 0
    while pending:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"group_quantiles did not converge in {max_rounds} rounds"
            )
        for p in pending:
            p["w"] = -(-(p["hi"] - p["lo"]) // B)
        rng_schema = StructType([
            StructField("__rg", gtype),
            StructField("__rnid", LongType()),
            StructField("__rlo", LongType()),
            StructField("__rhi", LongType()),
            StructField("__rw", LongType()),
        ])
        rng = local_frame(
            spark,
            [(p["g"], p["nid"], p["lo"], p["hi"], p["w"]) for p in pending],
            rng_schema,
        )
        cnts = (
            df.join(
                F.broadcast(rng),
                F.col(group).eqNullSafe(F.col("__rg"))
                & (F.col(value) >= F.col("__rlo"))
                & (F.col(value) < F.col("__rhi")),
            )
            .groupBy(
                "__rnid",
                F.expr(f"CAST((({value}) - __rlo) DIV __rw AS BIGINT)").alias(
                    "__rb"
                ),
            )
            .count()
            .collect()
        )
        by_node = {}
        for row in cnts:
            by_node.setdefault(row["__rnid"], {})[row["__rb"]] = row["count"]
        prev, pending = pending, []
        for node in prev:
            slots = by_node.get(node["nid"], {})
            running = node["off"]
            for b in sorted(slots):
                c = slots[b]
                clo = node["lo"] + b * node["w"]
                child = {
                    "nid": new_nid(), "gidx": node["gidx"], "g": node["g"],
                    "lo": clo, "hi": min(clo + node["w"], node["hi"]),
                    "count": c, "off": running,
                    "targets": [
                        t for t in node["targets"]
                        if running < t <= running + c
                    ],
                }
                running += c
                if child["targets"]:
                    _gq_route(child, resolved, fetch, pending, limit)
            if running != node["off"] + node["count"]:
                raise RuntimeError(
                    f"histogram counts for node {node['nid']} drifted — "
                    f"input changed between scans?"
                )

    if fetch:
        f_schema = StructType([
            StructField("__rg", gtype),
            StructField("__rnid", LongType()),
            StructField("__rlo", LongType()),
            StructField("__rhi", LongType()),
        ])
        fdf = local_frame(
            spark,
            [(p["g"], p["nid"], p["lo"], p["hi"]) for p in fetch.values()],
            f_schema,
        )
        w = Window.partitionBy("__rnid").orderBy(F.col("__v"))
        picked = (
            df.join(
                F.broadcast(fdf),
                F.col(group).eqNullSafe(F.col("__rg"))
                & (F.col(value) >= F.col("__rlo"))
                & (F.col(value) < F.col("__rhi")),
            )
            .select("__rnid", F.col(value).alias("__v"))
            .withColumn("__rn", F.row_number().over(w))
            .collect()
        )
        by_nid = {}
        for row in picked:
            by_nid.setdefault(row["__rnid"], {})[row["__rn"]] = row["__v"]
        for nid, node in fetch.items():
            vals = by_nid.get(nid, {})
            for t in node["targets"]:
                resolved[(node["gidx"], t)] = vals[t - node["off"]]

    out_rows = []
    for gidx, gval, n, nn, mn, mx in groups:
        nc = n - nn

        def val(t):
            return None if t <= nc else resolved[(gidx, t - nc)]

        lo = (n + 1) // 2
        hi = (n + 2) // 2
        p90 = -(-9 * n // 10)
        vlo, vhi, vp90 = val(lo), val(hi), val(p90)
        if vlo is None or vhi is None:
            mx2 = None
        elif n % 2 == 1:
            mx2 = 2 * vlo
        else:
            mx2 = vlo + vhi
        out_rows.append((gval, n, mn, mx, mx2, vp90))
    schema = StructType([
        StructField(group, gtype),
        StructField("n", LongType()),
        StructField("vmin", LongType()),
        StructField("vmax", LongType()),
        StructField("median_x2", LongType()),
        StructField("p90", LongType()),
    ])
    return local_frame(spark, out_rows, schema)


def _gq_route(node, resolved, fetch, pending, limit):
    """Resolve / fetch / refine a node that contains target ranks (all
    ranks non-null-relative)."""
    if node["hi"] - node["lo"] == 1:
        # a single-value range: the rank-r value is that value, ties or
        # not — quantile values never need an id tie-break
        for t in node["targets"]:
            resolved[(node["gidx"], t)] = node["lo"]
    elif node["count"] <= limit:
        fetch[node["nid"]] = node
    else:
        pending.append(node)


def skew_report(
    df: DataFrame,
    key,
    top: int = 20,
    salt_target: int = 1_000_000,
) -> DataFrame:
    """Partition-skew diagnostic for a prospective shuffle key: the
    operational tool behind this engine's explicit skew handling (the
    north rule) — run it BEFORE picking salt factors for a hot join or
    write (plans/pipeline.write_tiles' salt_threshold, top_k_per_group's
    salt_buckets).

    `key` is a column name or list of names.  Returns the `top` heaviest
    keys plus one summary row (key columns NULL), each with:

      n_rows        rows under the key (summary: total rows)
      rank          1-based heaviness rank (summary: 0)
      share_ppm     FLOOR(1e6 * n_rows / total)
      salt_factor   CEIL(n_rows / salt_target) — the number of salt
                    buckets that caps each bucket at ~salt_target rows
                    (summary row: CEIL(mean rows per key / salt_target),
                    the balanced-key baseline, >= 1)

    Two aggregate-only scans of the input (map-side combinable groupBys
    for the per-key counts and the totals) plus a skew-safe top-k over
    the per-key counts — no window over the raw rows, no collect of
    anything key-cardinality-sized.  Deterministic: count ties rank by
    the key columns' string form.
    """
    from .text import top_k_per_group

    keys = [key] if isinstance(key, str) else list(key)
    if top < 1:
        raise ValueError(f"top={top} must be >= 1")
    if salt_target < 1:
        raise ValueError(f"salt_target={salt_target} must be >= 1")
    counts = df.groupBy(*keys).agg(F.count("*").alias("n_rows"))
    # deterministic tie-break id: the concatenated key string
    counts = counts.withColumn(
        "__kid", F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    )
    heavy = top_k_per_group(
        counts.withColumn("__g", F.lit(0)),
        group="__g",
        order="n_rows",
        k=top,
        id_col="__kid",
        out="rank",
    ).drop("__g", "__kid")
    totals = counts.agg(
        F.sum("n_rows").alias("__total"), F.count("*").alias("__nkeys")
    )
    st = int(salt_target)
    heavy = heavy.crossJoin(F.broadcast(totals)).select(
        *keys,
        "n_rows",
        F.col("rank").cast("long").alias("rank"),
        F.expr("(n_rows * 1000000L) DIV __total").alias("share_ppm"),
        F.expr(f"(n_rows + {st}L - 1) DIV {st}L").alias("salt_factor"),
    )
    summary = totals.select(
        *[F.lit(None).cast(dict(heavy.dtypes)[k]).alias(k) for k in keys],
        F.col("__total").alias("n_rows"),
        F.lit(0).cast("long").alias("rank"),
        F.lit(1_000_000).cast("long").alias("share_ppm"),
        F.expr(
            f"GREATEST(CAST(1 AS BIGINT), "
            f"(__total DIV __nkeys + {st}L - 1) DIV {st}L)"
        ).alias("salt_factor"),
    )
    return heavy.unionByName(summary)
