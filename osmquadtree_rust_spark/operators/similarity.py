"""Similarity search over embedding columns (array<float>).

- brute-force cosine / dot-product top-k: the exact baseline, computed
  with native higher-order functions (zip_with + aggregate — JVM codegen,
  no Python).
- LSH-bucketed variant: random-hyperplane signs bucket vectors so at scale
  the candidate set is a bucket join, not a full scan.  Buckets use
  deterministic pseudo-planes derived from dimension index so results are
  reproducible without RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dot_expr(vec_col: str, query: list[float]) -> str:
    """Left-to-right fold dot product, identical accumulation order in
    Spark and an unrolled DuckDB sum."""
    arr = ", ".join(f"CAST({repr(float(v))} AS DOUBLE)" for v in query)
    return (
        f"aggregate(zip_with({vec_col}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    )


def norm_expr(vec_col: str) -> str:
    return (
        f"SQRT(aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
        f"(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "dot",
) -> DataFrame:
    """Exact top-k by dot product (or cosine), deterministic tie-break by
    id.  At 100 TB this is the per-partition scan + global top-k pattern:
    Spark's TakeOrderedAndProject keeps only k rows per partition.

    Ordering uses the RAW double score (bit-identical across engines:
    same fold order, IEEE mul/add); the output column is the FLOOR-ppm
    hardened `score_ppm` (ROUND would risk half-up vs half-even
    divergence against DuckDB oracles)."""
    d = F.expr(dot_expr(vec_col, query))
    if metric == "cosine":
        qn = sum(float(v) * float(v) for v in query) ** 0.5
        d = d / (F.expr(norm_expr(vec_col)) * F.lit(qn))
    scored = df.select(F.col(id_col).cast("long"), d.alias("__score"))
    return (
        scored.orderBy(F.col("__score").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.floor(F.col("__score") * 1000000.0).cast("long").alias("score_ppm"),
        )
    )


def plane_weights(p: int, dim: int) -> list[int]:
    """Deterministic integer hyperplane weights in [-3, 3] for plane `p`
    over `dim` dimensions (32-bit LCG seeded by the plane index — no RNG
    state, reproducible in any engine as inlined literals)."""
    x = (p * 2654435761 + 0x9E3779B9) & 0xFFFFFFFF
    out = []
    for _ in range(dim):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        out.append((x >> 16) % 7 - 3)
    return out


def plane_proj_expr(vec_col: str, weights: list[int]) -> str:
    """Left-to-right fold of dot(vec, integer-literal weights): identical
    IEEE accumulation order as an unrolled `v[1]*w1 + v[2]*w2 + ...` sum,
    so DuckDB oracles agree bit-for-bit."""
    arr = ", ".join(str(int(w)) for w in weights)
    return (
        f"aggregate(zip_with({vec_col}, array({arr}), "
        f"(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    )


def hyperplane_bucket_expr(
    vec_col: str,
    n_planes: int = 8,
    dim: int = 64,
    first_plane: int = 0,
    check_dim: bool = False,
) -> str:
    """Deterministic sign-LSH bucket over planes
    [first_plane, first_plane + n_planes) with literal `plane_weights`.
    Returns an int bucket in [0, 2^n_planes).

    check_dim=True guards against vectors whose length != `dim`: zip_with
    pads the SHORTER side with NULLs either way (short vector OR short
    literal weight array), making every projection NULL and every bucket
    0 — silently degenerating the (band, bucket) equi-join into an
    all-pairs cross product.  The guard is a CASE branch INSIDE this
    expression (one size() compare per row, stays in whole-stage codegen);
    a separate assert_true filter measured ~25% slower on
    embedding_neardup by knocking the scan stage out of codegen."""
    parts = []
    for j in range(n_planes):
        proj = plane_proj_expr(vec_col, plane_weights(first_plane + j, dim))
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    bucket = "(" + " + ".join(parts) + ")"
    if check_dim:
        return (
            f"(CASE WHEN size({vec_col}) = {dim} THEN {bucket} "
            f"ELSE CAST(raise_error('embedding shorter or longer than "
            f"dim={dim}') AS INT) END)"
        )
    return bucket


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    quant: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    first_plane: int = 0,
    keep_cols: tuple = (),
) -> DataFrame:
    """Deterministic random-projection dim reduction: rp_d =
    FLOOR(dot(vec, plane_weights(first_plane + d)) * quant) — the
    Johnson-Lindenstrauss compressor a 100 TB embedding table runs
    before brute-force rescoring (out_dim ints instead of `dim` floats
    per row; relative distances approximately preserved).

    Pure projection, no shuffle; integer-literal weights with pinned
    left-to-right folds (plane_proj_expr contract) and FLOOR
    quantization make the output engine-exact, so the gate compares
    values, not statistics.  The dim guard reuses hyperplane_bucket's
    loud-failure pattern (a short vector NULLs every projection)."""
    if out_dim < 1:
        raise ValueError(f"out_dim={out_dim} must be >= 1")
    if quant < 1:
        raise ValueError(f"quant={quant} must be >= 1")
    clash = {f"rp{d}" for d in range(out_dim)} & (
        set(df.columns) | set(keep_cols) | {id_col}
    )
    if clash:
        raise ValueError(
            f"column(s) {sorted(clash)} collide with the rp0..rp{out_dim - 1} "
            f"outputs; rename them first"
        )
    cols = [F.col(id_col)] + [F.col(c) for c in keep_cols]
    for d in range(out_dim):
        proj = plane_proj_expr(vec_col, plane_weights(first_plane + d, dim))
        guarded = (
            f"(CASE WHEN size({vec_col}) = {dim} "
            f"THEN FLOOR(({proj}) * {int(quant)}) "
            f"ELSE CAST(raise_error('embedding shorter or longer than "
            f"dim={dim}') AS BIGINT) END)"
            if d == 0
            else f"FLOOR(({proj}) * {int(quant)})"
        )
        cols.append(F.expr(guarded).cast("long").alias(f"rp{d}"))
    return df.select(*cols)


def rp_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    candidates: int = 50,
    out_dim: int = 8,
    quant: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    first_plane: int = 0,
) -> DataFrame:
    """Two-stage ANN: coarse top-`candidates` by integer L2 distance in
    the random-projection space, exact dot-product rescoring of only
    those rows — the compress-then-rescore serving pattern (scan touches
    out_dim ints per row; the full float vector is read only for the
    candidate set, which rides THROUGH the coarse cut, no join-back).

    Deterministic end-to-end: rp coordinates are FLOOR-quantized ints,
    both rankings tie-break on id, and the exact rescore is the pinned
    left-to-right float fold.  Recall < 1 by design (JL distortion),
    exact within the candidate set — same contract as ivf_topk.  Both
    top-N cuts are global order-by-limit (Spark plans TakeOrdered — a
    per-partition heap + driver merge of N rows, no single-task sort)."""
    dim = len(query)
    if not 1 <= k <= candidates:
        raise ValueError(f"k={k} outside [1, candidates={candidates}]")
    qrp = []
    for d in range(out_dim):
        w = plane_weights(first_plane + d, dim)
        import math

        qrp.append(math.floor(sum(float(x) * wi for x, wi in zip(query, w)) * quant))
    rp = random_projection(
        df,
        out_dim=out_dim,
        quant=quant,
        vec_col=vec_col,
        id_col=id_col,
        dim=dim,
        first_plane=first_plane,
        keep_cols=(vec_col,),
    )
    dist = None
    for d in range(out_dim):
        t = (F.col(f"rp{d}") - F.lit(int(qrp[d]))).cast("long")
        term = t * t
        dist = term if dist is None else dist + term
    cand = (
        rp.withColumn("__rpd", dist)
        .orderBy(F.col("__rpd").asc(), F.col(id_col).asc())
        .limit(int(candidates))
    )
    exact = F.expr(dot_expr(vec_col, [float(v) for v in query]))
    return (
        cand.withColumn("__score", exact)
        .orderBy(F.col("__score").desc(), F.col(id_col).asc())
        .limit(int(k))
        .select(
            F.col(id_col),
            F.floor(F.col("__score") * 1000000.0).cast("long").alias("score_ppm"),
        )
    )


def query_bucket(query: list[float], n_planes: int, first_plane: int = 0) -> int:
    """Driver-side bucket of a literal query vector, same planes/order."""
    qb = 0
    for j in range(n_planes):
        w = plane_weights(first_plane + j, len(query))
        proj = 0.0
        for x, wi in zip(query, w):
            proj += float(x) * wi
        if proj > 0:
            qb += 1 << j
    return qb


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
) -> DataFrame:
    """ANN: restrict brute force to the query's hyperplane bucket (recall
    < 1 by design; the scale path when a full scan is too expensive).  At
    100 TB the bucket expression is the table's partition key, so this is
    a partition-pruned scan, not a filter."""
    bucket = F.expr(
        hyperplane_bucket_expr(vec_col, n_planes, len(query), check_dim=True)
    )
    qb = query_bucket(query, n_planes)
    cand = df.withColumn("__bucket", bucket).filter(F.col("__bucket") == qb)
    return brute_force_topk(cand.drop("__bucket"), query, k, vec_col, id_col)


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    bands: int = 3,
    planes_per_band: int = 12,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-banded (sign-LSH with
    deterministic literal planes; band b uses planes
    [b*planes_per_band, (b+1)*planes_per_band)).

    Candidate generation is an equi-join on (band, bucket) — never a
    cross product — and the exact cosine verify runs only on candidates.
    Recall < 1 by design (standard near-dup LSH trade-off; raise `bands`
    for higher recall); the candidate set is deterministic, so a DuckDB
    oracle implementing the same banding matches exactly.

    Output: (a, b, cos_ppm) with a < b and raw cosine >= threshold;
    cos_ppm = FLOOR(cos * 1e6) is the engine-independent hardened value.

    Deliberate shape note: unlike the 8-byte SimHash signature (which
    rides through its banding, operators/dedup.py), the 512-byte vectors
    are re-joined from the base table for verification — carrying them
    through `bands` exploded bucket rows would multiply candidate-shuffle
    bytes by bands x dim x 8, while the join-back is a column-pruned scan
    plus an equi-join on the (much smaller) candidate set.
    """
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(
                hyperplane_bucket_expr(
                    vec_col,
                    planes_per_band,
                    dim,
                    first_plane=b * planes_per_band,
                    check_dim=(b == 0),
                )
            ).cast("long").alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = (
        df.select(F.col(id_col).alias("a"), F.explode(F.array(*band_structs)).alias("s"))
        .select("a", F.col("s.band").alias("band"), F.col("s.bucket").alias("bucket"))
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .filter(F.col("l.a") < F.col("r.a"))
        .select(F.col("l.a").alias("a"), F.col("r.a").alias("b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("l_emb"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("r_emb"))
    dot = (
        "aggregate(zip_with(l_emb, r_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    nrm = (
        "SQRT(aggregate({v}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    cos = F.expr(f"({dot}) / ({nrm.format(v='l_emb')} * {nrm.format(v='r_emb')})")
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("__cos", cos)
        # raw-double compare is engine-exact (identical fold order, IEEE
        # mul/add/div/sqrt); the *output* column is FLOOR-ppm hardened
        .filter(F.col("__cos") >= threshold)
        .select(
            # keep the caller's id type: a long-cast would turn string ids
            # into NULL for every pair instead of erroring
            F.col("a"),
            F.col("b"),
            F.floor(F.col("__cos") * 1000000.0).cast("long").alias("cos_ppm"),
        )
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    quant: int = 1000,
) -> DataFrame:
    """Per-label embedding centroids in exact integer space (the k-means /
    IVF training step of an embedding pipeline, distributable without
    float-sum order sensitivity).

    Float sums are not order-deterministic under distributed partial
    aggregation, so the exact path quantizes each component to
    FLOOR(x * quant) (engine-exact integer) and emits per-dimension
    (sum_q, n); centroid_q = sum_q / n is exact rational.  One
    posexplode + one hash aggregate — map-side combined, single shuffle.
    """
    return (
        df.select(F.col(label_col), F.posexplode(vec_col).alias("dim", "__x"))
        .withColumn("__q", F.floor(F.col("__x").cast("double") * quant).cast("long"))
        .groupBy(label_col, "dim")
        .agg(
            F.sum("__q").alias("sum_q"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: deterministic coarse quantizer + cluster probe
# ---------------------------------------------------------------------------

def _dot_lit_expr(vec_col: str, centroid: list[float]) -> str:
    arr = ", ".join(f"CAST({repr(float(v))} AS DOUBLE)" for v in centroid)
    return (
        f"aggregate(zip_with({vec_col}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    )


def ivf_dots_expr(vec_col: str, centroids: list[list[float]]) -> str:
    """array<double> of the C centroid dot products — each dot emitted
    exactly once (O(C) expression size)."""
    return "array(" + ", ".join(_dot_lit_expr(vec_col, c) for c in centroids) + ")"


def ivf_assign_expr(vec_col: str, centroids: list[list[float]]) -> str:
    """Cluster id = argmax_j dot(vec, centroid_j); ties -> smallest j
    (array_position returns the FIRST occurrence of the max).

    Argmax form: the dots array is materialized once and scanned by
    array_max/array_position — O(C) expression size, unlike the previous
    pairwise-CASE form whose O(C^2) re-inlined dot products blew up janino
    codegen at realistic centroid counts (see CLAUDE.md)."""
    dots = ivf_dots_expr(vec_col, centroids)
    return (
        f"(aggregate({dots}, "
        f"named_struct('j', -1, 'best', CAST('-Infinity' AS DOUBLE), 'i', 0), "
        f"(s, x) -> named_struct("
        f"'j', CASE WHEN x > s.best THEN s.i ELSE s.j END, "
        f"'best', CASE WHEN x > s.best THEN x ELSE s.best END, "
        f"'i', s.i + 1), "
        f"s -> s.j))"
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage/serving form
    of an embedding column at 100 TB (4x smaller than float32, exact
    integer dot products downstream).

    scale = max(|x|) (per vector); q_d = FLOOR(x_d / scale * 127) in
    [-127, 127] (FLOOR, not round: half-away vs half-even rounding
    differs between engines, FLOOR is bit-exact everywhere — worst-case
    one extra quantization step of asymmetry, irrelevant at int8
    precision).  Zero vectors quantize to all-zero with scale 0.
    Everything is native JVM higher-order functions; scale rides along as
    scale_ppm = FLOOR(scale * 1e6) for engine-exact comparison.

    NULL / NaN elements and zero-length vectors raise (CASE->raise_error
    inside the __amax projection, same loud-guard pattern as check_dim):
    abs/array_max would otherwise propagate NaN into __amax, every
    quantized component would go NULL, and downstream int8 verifies
    silently drop those rows; an empty vector's array_max is NULL, and
    the gate's posexplode_outer would emit a NULL dim/qv row for it."""
    amax = F.expr(
        f"CASE WHEN {vec_col} IS NULL OR size({vec_col}) = 0 "
        f"OR exists({vec_col}, x -> x IS NULL OR isnan(CAST(x AS DOUBLE))) "
        "THEN CAST(raise_error("
        "'quantize_int8: NULL/NaN embedding element or empty embedding'"
        ") AS DOUBLE) "
        f"ELSE array_max(transform({vec_col}, x -> abs(CAST(x AS DOUBLE)))) END"
    )
    q = F.when(F.col("__amax") == 0.0, F.transform(F.col(vec_col), lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") / F.col("__amax") * 127.0).cast("long"),
        )
    )
    return (
        df.withColumn("__amax", amax)
        .select(
            F.col(id_col),
            F.floor(F.col("__amax") * 1000000.0).cast("long").alias("scale_ppm"),
            q.alias("q"),
        )
    )


def cosine_neardup_pairs_int8(
    qdf: DataFrame,
    threshold_ppm: int = 810000,
    bands: int = 3,
    planes_per_band: int = 12,
    dim: int = 64,
    q_col: str = "q",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-duplicate pairs over int8-QUANTIZED vectors with a PURE
    INTEGER verify — the serving-side twin of cosine_neardup_pairs:

    cos²(a,b)·10⁶ >= threshold_ppm  (and dot > 0), evaluated as
    (d·d·10⁶) DIV (na·nb) with d = Σ qa·qb, na = Σ qa², nb = Σ qb² —
    all int64 (|q| <= 127, 64 dims -> d² ·10⁶ < 2^60), so there is NO
    float anywhere: results are trivially identical on any engine and
    any SIMD width.  threshold_ppm = floor(cos²·10⁶), e.g. cos >= 0.9
    -> 810000.  Candidate generation reuses the sign-LSH banding (integer
    inputs are exact in the double projections)."""
    # int64 overflow bound: threshold_ppm*na*nb and d*d*1e6 with
    # na,nb,|d| <= dim*127^2 stay under 2^63 only for dim <= 188 —
    # beyond that Spark (non-ANSI) would WRAP silently while DuckDB
    # raises, turning "identical on any engine" into a divergence
    if dim > 188:
        raise ValueError(
            f"dim={dim} overflows the pure-int64 verify (max 188); "
            f"use cosine_neardup_pairs on the float embeddings instead"
        )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(
                hyperplane_bucket_expr(
                    q_col,
                    planes_per_band,
                    dim,
                    first_plane=b * planes_per_band,
                    check_dim=(b == 0),
                )
            ).cast("long").alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = (
        qdf.select(F.col(id_col).alias("a"), F.explode(F.array(*band_structs)).alias("s"))
        .select("a", F.col("s.band").alias("band"), F.col("s.bucket").alias("bucket"))
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .filter(F.col("l.a") < F.col("r.a"))
        .select(F.col("l.a").alias("a"), F.col("r.a").alias("b"))
        .distinct()
    )
    va = qdf.select(F.col(id_col).alias("a"), F.col(q_col).alias("l_q"))
    vb = qdf.select(F.col(id_col).alias("b"), F.col(q_col).alias("r_q"))
    dot = (
        "aggregate(zip_with(l_q, r_q, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    nrm = (
        "aggregate({v}, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
    )
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("__d", F.expr(dot))
        .withColumn("__na", F.expr(nrm.format(v="l_q")))
        .withColumn("__nb", F.expr(nrm.format(v="r_q")))
        .filter(
            (F.col("__d") > 0)
            & (F.col("__na") > 0)
            & (F.col("__nb") > 0)
            & (
                F.expr("__d * __d * 1000000")
                >= F.expr(f"CAST({int(threshold_ppm)} AS BIGINT) * __na * __nb")
            )
        )
        .select(
            # keep the caller's id type (see cosine_neardup_pairs)
            F.col("a"),
            F.col("b"),
            F.expr("(__d * __d * 1000000) DIV (__na * __nb)").alias("cos2_ppm"),
        )
    )


def ivf_assign_int_expr(
    vec_col: str, centroids: list[list[int]], check_dim: bool = True
) -> str:
    """Cluster id = argmax_j dot(vec, integer-literal centroid_j), ties ->
    smallest j.  Centroids are quant-scaled INTEGERS so the dot is
    float-reads x int-literals in pinned left-to-right order — bit-exact
    cross-engine (same contract as plane_proj_expr).

    check_dim guards against vectors whose length != the centroid dim: a
    mismatched row makes every dot NULL, the fold's strict > never fires,
    and the assignment silently lands on -1 (which would then corrupt the
    LAST centroid through Python's new[-1] in the update step)."""
    dots = "array(" + ", ".join(
        plane_proj_expr(vec_col, [int(v) for v in c]) for c in centroids
    ) + ")"
    assign = (
        f"(aggregate({dots}, "
        f"named_struct('j', -1, 'best', CAST('-Infinity' AS DOUBLE), 'i', 0), "
        f"(s, x) -> named_struct("
        f"'j', CASE WHEN x > s.best THEN s.i ELSE s.j END, "
        f"'best', CASE WHEN x > s.best THEN x ELSE s.best END, "
        f"'i', s.i + 1), "
        f"s -> s.j))"
    )
    if check_dim:
        dim = len(centroids[0])
        return (
            f"(CASE WHEN size({vec_col}) = {dim} THEN {assign} "
            f"ELSE CAST(raise_error('embedding length != centroid "
            f"dim={dim}') AS INT) END)"
        )
    return assign


def kmeans_quantized(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> tuple[DataFrame, list[list[int]]]:
    """Lloyd's k-means with EXACT arithmetic throughout — the IVF training
    loop (ivf_topk's centroid producer) as a distributable, engine-
    reproducible iteration:

    - init: the k smallest-id vectors, components quantized to
      floor(x * quant) integers (deterministic, no RNG);
    - assignment: argmax over float x int-literal dots (bit-exact IEEE,
      one JVM-codegen'd projection — data never leaves the cluster);
    - update: per-(cluster, dim) integer sums of floor(x * quant) via ONE
      hash aggregate (map-side combined), centroid = sum // n in exact
      Python integer floor division on the collected k x dim rows
      (metadata-scale, like the tile histogram); empty clusters keep
      their previous centroid.

    Returns (assignments DataFrame (id, cluster), final integer
    centroids).  Every step is integer-or-pinned-IEEE, so a DuckDB oracle
    re-running the same iterations reproduces assignments exactly.
    """
    rows = df.orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"k={k} exceeds row count {len(rows)}")
    import math

    cents = [
        [int(math.floor(float(x) * quant)) for x in r[vec_col]] for r in rows
    ]
    for _ in range(iters):
        assign = F.expr(ivf_assign_int_expr(vec_col, cents))
        stats = (
            df.withColumn("__c", assign)
            .select("__c", F.posexplode(vec_col).alias("dim", "__x"))
            .withColumn(
                "__q", F.floor(F.col("__x").cast("double") * quant).cast("long")
            )
            .groupBy("__c", "dim")
            .agg(F.sum("__q").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in stats:
            c = int(r["__c"])
            if c < 0:
                # dim mismatches raise in the assignment expr; a NULL
                # element inside a right-sized vector can still NULL every
                # dot — refuse rather than let new[-1] corrupt centroid k-1
                raise ValueError(
                    "kmeans_quantized: rows with undecidable assignment "
                    "(NULL embedding elements?)"
                )
            new[c][int(r["dim"])] = int(r["s"]) // int(r["n"])
        cents = new
    assign = F.expr(ivf_assign_int_expr(vec_col, cents))
    out = df.select(
        # keep the caller's id type (see cosine_neardup_pairs)
        F.col(id_col), assign.cast("long").alias("cluster")
    )
    return out, cents


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 50,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: restrict the scan to the n_probe clusters whose centroids
    score highest against the query, then exact top-k inside them.

    At 100 TB the assignment expression is the partition/bucket key of the
    embeddings table, so a probe reads only those buckets; here it's a
    filter over the same expression (recall < 1 by design, exact within
    the probed cells)."""
    probe_scores = [
        (sum(float(a) * float(b) for a, b in zip(query, c)), j)
        for j, c in enumerate(centroids)
    ]
    probe = sorted(((-s, j) for s, j in probe_scores))[:n_probe]
    probe_ids = sorted(j for _, j in probe)
    assign = F.expr(ivf_assign_expr(vec_col, centroids))
    cand = df.withColumn("__cluster", assign).filter(
        F.col("__cluster").isin(probe_ids)
    )
    return brute_force_topk(cand.drop("__cluster"), query, k, vec_col, id_col)


def ivf_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "query_id",
    q_vec_col: str | None = None,
) -> DataFrame:
    """Batched IVF ANN: EVERY query row gets its top-k corpus matches —
    the serving-side join (ivf_topk handles one driver-side query; a
    retrieval pipeline scores millions of queries at once).

    Plan shape: queries explode into their C centroid dots (posexplode of
    one array expression), a per-query window keeps the n_probe best
    clusters (ties -> smaller cluster id, matching ivf_assign_expr);
    corpus rows compute their cluster once as a projection; candidates
    are the (cluster) equi-join; the exact per-query top-k is a second
    window over dot desc with id tie-break.  At 100 TB the corpus
    cluster is the table's partition/bucket key, so the equi-join prunes
    to probed partitions; both windows partition per query and are
    bounded by n_probe * cluster size.  Recall < 1 by design (exact
    within probed cells), same contract as ivf_topk.

    The query vector rides THROUGH the join (no join-back); dots are
    pinned left-to-right folds, engine-exact vs the DuckDB oracle."""
    from pyspark.sql import Window

    q_vec_col = q_vec_col or vec_col
    if not centroids:
        raise ValueError("centroids must be non-empty")
    if not 1 <= n_probe <= len(centroids):
        raise ValueError(f"n_probe={n_probe} outside [1, {len(centroids)}]")
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    reserved = {"__cl", "__cd", "__pr", "__qv", "__cv", "__dot", "rk"} & (
        set(queries.columns) | set(corpus.columns)
    )
    if reserved:
        raise ValueError(f"column(s) {sorted(reserved)} collide with internals")
    # dim guards (loud-failure convention, cf. hyperplane_bucket_expr):
    # a short query vector NULLs every centroid dot and would silently
    # "probe" arbitrary clusters; a short corpus vector lands on __cl=-1
    # and silently vanishes from every result
    dim = len(centroids[0])
    q_dots = (
        f"CASE WHEN size({q_vec_col}) = {dim} "
        f"THEN {ivf_dots_expr(q_vec_col, centroids)} "
        f"ELSE CAST(raise_error('ivf_topk_join: query embedding shorter or "
        f"longer than dim={dim}') AS ARRAY<DOUBLE>) END"
    )
    qd = queries.select(
        F.col(q_id_col),
        F.col(q_vec_col).alias("__qv"),
        F.posexplode(F.expr(q_dots)).alias("__cl", "__cd"),
    )
    wp = Window.partitionBy(q_id_col).orderBy(
        F.col("__cd").desc(), F.col("__cl").asc()
    )
    probes = (
        qd.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= int(n_probe))
        .select(q_id_col, "__qv", "__cl")
    )
    c_assign = (
        f"CASE WHEN size({vec_col}) = {dim} "
        f"THEN {ivf_assign_expr(vec_col, centroids)} "
        f"ELSE CAST(raise_error('ivf_topk_join: corpus embedding shorter or "
        f"longer than dim={dim}') AS INT) END"
    )
    corp = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cv"),
        F.expr(c_assign).alias("__cl"),
    )
    dot = F.expr(
        "aggregate(zip_with(__qv, __cv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    wk = Window.partitionBy(q_id_col).orderBy(
        F.col("__dot").desc(), F.col(id_col).asc()
    )
    return (
        probes.join(corp, "__cl")
        .withColumn("__dot", dot)
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= int(k))
        .select(
            F.col(q_id_col),
            F.col(id_col),
            F.floor(F.col("__dot") * 1000000.0).cast("long").alias("score_ppm"),
            F.col("rk").cast("long"),
        )
    )
