"""Deterministic count-min sketch + heavy hitters.

The bounded-memory frequency-estimation family a 100 TB token pipeline
needs: the full vocabulary of a web corpus does not fit anywhere, but a
depth x width counter grid does (d*w rows, independent of corpus size),
and every true heavy hitter is guaranteed to survive the sketch
prefilter (count-min never under-counts), so `heavy_hitters` returns
EXACT counts with provable recall 1.

Everything is engine-deterministic: token hashing is the repo's shared
md5-prefix universal-hash family (functions/text_sql.py, same SQL text
in the DuckDB oracles), the sketch is a plain hash aggregate, and the
estimate is an integer MIN — no randomness, no float.

Scale shapes:
- count_min_sketch: one map-side-combined shuffle whose payload is
  bounded by depth*width per task, not by vocabulary size;
- cms_lookup: the sketch is broadcast (d*w rows); probes never shuffle;
- heavy_hitters: sketch prefilter cuts the exact-count aggregation to
  candidate tokens only (df_est >= threshold), the standard
  sketch-then-verify shape shared with the near-dup families.

Generalizes the reference's exact count statistics (count.rs:34-516) to
the approximate/streaming regime the reference never needed (its planet
element types are enumerable; an open token vocabulary is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text_sql as TS
from ..session import local_frame
from .dedup import word_hashes

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 8192


def _bucket_sql(wh: str, a: int, b: int, width: int) -> str:
    """Shared Spark/DuckDB text: row-d bucket of a word-hash expression."""
    return f"((({a} * {wh} + {b}) % {TS.MINHASH_P}) % {int(width)})"


def count_min_sketch(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """(d, bucket, cnt): token occurrences of the corpus folded into a
    depth x width counter grid via the shared universal-hash family.
    One explode + one hash aggregate; output size <= depth*width rows."""
    if depth < 1 or depth > 64:
        raise ValueError(f"depth={depth} outside [1, 64]")
    if width < 2:
        raise ValueError(f"width={width} must be >= 2")
    wh = word_hashes(df, text, id_col)
    rows = F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("d"),
                F.expr(_bucket_sql("wh", a, b, width)).cast("long").alias("bucket"),
            )
            for d, (a, b) in enumerate(TS.minhash_coeffs(depth))
        ]
    )
    return (
        wh.select(F.explode(rows).alias("s"))
        .select("s.d", "s.bucket")
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    word_col: str = "word",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Estimated occurrence count per probe word: est = MIN over the
    depth rows (count-min upper bound; exact when no bucket collides).
    The sketch side is broadcast — probes never shuffle.  Words absent
    from the corpus may still return a positive estimate (collisions);
    they never return less than their true count (0)."""
    wh_sql = TS.minhash_word_hash_sql(word_col, TS.SPARK)
    rows = F.array(
        *[
            F.struct(
                F.lit(d).cast("long").alias("d"),
                F.expr(_bucket_sql(f"({wh_sql})", a, b, width))
                .cast("long")
                .alias("bucket"),
            )
            for d, (a, b) in enumerate(TS.minhash_coeffs(depth))
        ]
    )
    exploded = probes.select(F.col(word_col), F.explode(rows).alias("s")).select(
        word_col, "s.d", "s.bucket"
    )
    return (
        exploded.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(word_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


def heavy_hitters(
    df: DataFrame,
    threshold: int,
    text: str = "text",
    id_col: str = "doc_id",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Tokens occurring >= threshold times, with EXACT counts.

    Sketch-then-verify: the count-min estimate upper-bounds the true
    count, so filtering token occurrences on est >= threshold can never
    drop a true heavy hitter (recall 1); the exact aggregate then runs
    only over surviving occurrences.  Output is therefore identical to
    the direct exact computation — the sketch is a physical
    optimization, not a semantics change — which is exactly what the
    DuckDB oracle checks.

    Shape at 100 TB: the sketch is COLLECTED to the driver (<= d*w rows
    by construction — sketch size is the point; same metadata-scale
    precedent as the k-means centroid stats) and re-created lineage-free,
    so the d broadcast lookups don't recompute the corpus-scan subtree
    per join (broadcast build sides are never reused — see CLAUDE.md).
    The only full-vocabulary-keyed shuffle in the naive exact plan is
    replaced by: one token scan + d broadcast joins + an aggregate over
    candidate occurrences only."""
    if threshold < 1:
        raise ValueError(f"threshold={threshold} must be >= 1")
    spark = df.sparkSession
    sketch_rows = count_min_sketch(df, text, id_col, depth, width).collect()
    sk = local_frame(
        spark,
        [(int(r["d"]), int(r["bucket"]), int(r["cnt"])) for r in sketch_rows]
        or [(0, -1, 0)],  # typed placeholder for an empty corpus
        "d long, bucket long, cnt long",
    )
    stream = (
        df.select(F.explode(F.split(F.col(text), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .withColumn("__wh", F.expr(TS.minhash_word_hash_sql("word", TS.SPARK)))
    )
    ests = []
    for d, (a, b) in enumerate(TS.minhash_coeffs(depth)):
        side = (
            sk.filter(F.col("d") == d)
            .select(F.col("bucket").alias(f"__b{d}"), F.col("cnt").alias(f"__c{d}"))
        )
        stream = stream.withColumn(
            f"__b{d}", F.expr(_bucket_sql("__wh", a, b, width)).cast("long")
        ).join(F.broadcast(side), f"__b{d}", "left")
        ests.append(F.coalesce(F.col(f"__c{d}"), F.lit(0)))
    est = ests[0] if len(ests) == 1 else F.least(*ests)
    return (
        stream.filter(est >= int(threshold))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= int(threshold))
    )


def cms_bucket_oracle_sql(
    table: str,
    text: str = "text",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> str:
    """DuckDB construction of the identical sketch (shared hash text)."""
    wh = TS.minhash_word_hash_sql("word", TS.DUCKDB)
    arms = " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS d, "
        f"CAST({_bucket_sql(f'({wh})', a, b, width)} AS BIGINT) AS bucket "
        f"FROM words"
        for d, (a, b) in enumerate(TS.minhash_coeffs(depth))
    )
    return f"""
WITH words AS MATERIALIZED (
  SELECT unnest(string_split({text}, ' ')) AS word FROM {table}
),
filtered AS MATERIALIZED (SELECT word FROM words WHERE length(word) > 0),
buckets AS MATERIALIZED ({arms.replace('FROM words', 'FROM filtered')})
SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
FROM buckets GROUP BY d, bucket
"""


def approx_distinct_kmv(
    df: DataFrame,
    col: str,
    k: int = 256,
    group: str | None = None,
    salt: str = "kmv-v1",
) -> DataFrame:
    """Deterministic cross-engine distinct-count estimate — the KMV
    (k-minimum-values / bottom-k) sketch: keep the k smallest DISTINCT
    salted 60-bit hashes of the column; with h_k the k-th smallest,
    estimate = FLOOR((k-1) * 2^60 / h_k).  EXACT (flagged) whenever
    fewer than k distinct values exist.

    Why not approx_count_distinct: Spark's HLL++ register layout is
    engine-specific and not reproducible in DuckDB, so it can never be
    gate-verified; KMV is a pure function of the shared md5-prefix hash
    — both engines compute the identical estimate.  The float step is
    mul/div/floor of identical operands only ((k-1)*2^60 is exact in
    double — 9 significant bits — and IEEE division is correctly
    rounded), inside this repo's determinism contract.

    Scale shape: distinct (group, hash) pairs -> the salted skew-safe
    top-k per group ranked by hash ascending (a bottom-k of a union is
    the bottom-k of bottom-ks, the same mergeability HLL offers) -> one
    k-row-per-group aggregate.  Returns (group?, distinct_est,
    is_exact, sketch_k)."""
    from .text import top_k_per_group

    if k < 2:
        raise ValueError(f"k={k} must be >= 2")
    if "'" in salt or "\\" in salt:
        raise ValueError(f"salt {salt!r} must not contain quotes/backslashes")
    h = TS.md5_prefix_int_sql(
        f"concat('{salt}', ':', CAST({col} AS STRING))", TS.SPARK
    )
    gcols = [group] if group else []
    hashes = (
        df.select(*gcols, F.expr(h).alias("__kmvh"))
        .distinct()
    )
    if group:
        bottom = top_k_per_group(
            hashes, group=group, order="__kmvh", k=k, id_col="__kmvh",
            out="__kmvrk", ascending=True,
        )
    else:
        bottom = (
            hashes.orderBy("__kmvh").limit(k)
            .withColumn("__kmvrk", F.lit(0))
        )
    est = (
        F.floor(
            F.lit(float((k - 1) * (1 << 60)))
            / F.max("__kmvh").cast("double")
        ).cast("long")
    )
    agg = bottom.groupBy(*gcols).agg(
        F.count("*").alias("__seen"),
        F.when(F.count("*") < k, F.count("*").cast("long"))
        .otherwise(est)
        .alias("distinct_est"),
        (F.count("*") < k).alias("is_exact"),
    )
    return agg.select(
        *gcols, "distinct_est", "is_exact",
        F.lit(int(k)).cast("long").alias("sketch_k"),
    )


def kmv_set_ops(
    df: DataFrame,
    col: str,
    group: str,
    k: int = 256,
    salt: str = "kmv-v1",
) -> DataFrame:
    """Pairwise set-operation estimates between every two groups from
    mergeable bottom-k (KMV) sketches — the cross-source overlap audit a
    multi-source training mixture needs ("how much of source B's
    vocabulary / URL set / shingle set is already in source A?") without
    ever joining the sources themselves.

    For each unordered group pair (a < b), over the DISTINCT values of
    `col` per group:

      union_est        |A ∪ B| — the KMV estimate from the merged
                       sketch (bottom-k of a union == bottom-k of the
                       two bottom-ks, the mergeability that makes this
                       exact over the sketches, not an approximation of
                       them); EXACT when the union has < k distinct
                       values (union_exact true).
      inter_est        |A ∩ B| — the standard KMV intersection
                       estimator: among the union sketch's rows, the
                       fraction present in BOTH sides, scaled by
                       union_est.  A union-sketch row h with h ∈ A is
                       always in A's own bottom-k (fewer than k union
                       values precede it, so fewer than k A-values do),
                       so membership is decidable from the sketches.
      jaccard_permille 1000·|A∩B|/|A∪B| estimate, integer DIV.

    Every estimate is a pure function of the shared salted md5-prefix
    hash: both engines compute bit-identical results (the float step is
    the same mul/div/floor as approx_distinct_kmv; intersection and
    Jaccard are integer multiply + DIV only — inter_est = (both·union_est)
    DIV seen is exact whenever union_exact, since then union_est == seen).

    Scale shape: the only corpus-scale passes are the distinct and the
    salted skew-safe bottom-k per group (as approx_distinct_kmv).
    Everything pairwise runs on the G·k sketch rows: the pair fan-out is
    G²·k/2 (50 sources × k=256 → 320k rows), and the per-pair rank
    window partitions on the pair key with ≤ 2k rows per partition —
    metadata-scale throughout, never data-scale."""
    from .text import top_k_per_group

    if k < 2:
        raise ValueError(f"k={k} must be >= 2")
    if "'" in salt or "\\" in salt:
        raise ValueError(f"salt {salt!r} must not contain quotes/backslashes")
    h = TS.md5_prefix_int_sql(
        f"concat('{salt}', ':', CAST({col} AS STRING))", TS.SPARK
    )
    hashes = df.select(group, F.expr(h).alias("__kmvh")).distinct()
    bottom = top_k_per_group(
        hashes, group=group, order="__kmvh", k=k, id_col="__kmvh",
        out="__kmvrk", ascending=True,
    ).select(group, "__kmvh")
    # sketch rows are G*k — persist so the group list + pair fan-out
    # don't re-drive the corpus-scale bottom-k (Spark re-evaluates
    # shared subplans per consumer)
    bottom = bottom.localCheckpoint(eager=True)
    groups = bottom.select(F.col(group).alias("__g")).distinct()
    gp = (
        groups.select(F.col("__g").alias("__ga"))
        .join(
            groups.select(F.col("__g").alias("__gb")),
            F.col("__ga") < F.col("__gb"),
        )
    )
    sides = gp.select(
        "__ga", "__gb",
        F.explode(F.array(F.col("__ga"), F.col("__gb"))).alias("__g"),
    )
    memb = sides.join(bottom, sides["__g"] == bottom[group]).select(
        "__ga", "__gb", "__kmvh"
    )
    per_hash = memb.groupBy("__ga", "__gb", "__kmvh").agg(
        (F.count("*") == 2).alias("__both")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__ga", "__gb").orderBy("__kmvh")
    top = per_hash.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= k
    )
    stats = top.groupBy("__ga", "__gb").agg(
        F.count("*").alias("__seen"),
        F.max("__kmvh").alias("__kth"),
        F.sum(F.col("__both").cast("long")).alias("__nboth"),
    )
    union_est = F.when(
        F.col("__seen") < k, F.col("__seen").cast("long")
    ).otherwise(
        F.floor(
            F.lit(float((k - 1) * (1 << 60)))
            / F.col("__kth").cast("double")
        ).cast("long")
    )
    return (
        stats.withColumn("union_est", union_est)
        .withColumn("union_exact", F.col("__seen") < k)
        .select(
            F.col("__ga").alias("src_a"),
            F.col("__gb").alias("src_b"),
            "union_est",
            F.expr("(__nboth * union_est) DIV __seen").alias("inter_est"),
            F.expr("(__nboth * 1000L) DIV __seen").alias("jaccard_permille"),
            "union_exact",
            F.lit(int(k)).cast("long").alias("sketch_k"),
        )
    )
