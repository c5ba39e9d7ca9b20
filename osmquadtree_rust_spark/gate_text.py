"""Gate entries for text analysis, dedup, similarity and multimodal ops.

Registers into gate.GATE.  Text metrics share their exact SQL expression
text with the DuckDB oracles (functions/text_sql.py); the ANN dot product
uses identical left-to-right float accumulation on both engines.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from .functions import text_sql as TS
from .gate import (  # noqa: F401  (caps shared with gate.py helpers)
    GATE,
    _DOCS2_CAP,
    _ORDERS_CAP,
    _oracle,
    _register,
    _t,
    _ts,
)

# r7 bench-hygiene corpus caps for the pair-quadratic text gates (see
# gate.py's cap block: ids are 0..N-1 and every cap >= the sf0.01 table
# size, so sf0.01 driver corpora are unchanged; only sf0.1 bench walls
# shrink).  Mirrored verbatim in each gate's oracle.
_NDC_CAP = 2000    # neardup_dedup_corpus
_WND_DOC_CAP = 2000  # winnow_neardup
_SPAN_DOC_CAP = 2400  # trim_spans_corpus / dedup_keep_best (with % 4)
_BM25_CAP = 2000   # bm25_topk corpus + queries
_MM_CAP = 2500     # multimodal corpus (multimodal_neardup, cross_modal_audit)
from .operators import dedup as D
from .operators import similarity as SIM
from .operators import text as TX
from .session import local_frame
from .stages import pin


# ===========================================================================
# text metrics
# ===========================================================================

@_register("text_metrics")
def _tm(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    out = TX.with_token_count(docs)
    out = TX.with_quality_score(out)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("quality").cast("long"),
    )


@_oracle("text_metrics")
def _tm_o():
    return (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"CAST({TS.token_count_sql('text')} AS BIGINT) AS n_tokens, "
        f"CAST({TS.quality_score_sql('text')} AS BIGINT) AS quality FROM documents"
    )


@_register("langid_heuristic")
def _lh(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return TX.with_langid(docs).select(
        F.col("doc_id").cast("long"),
        F.col("en_score").cast("long"),
        F.col("lang_guess"),
    )


@_oracle("langid_heuristic")
def _lh_o():
    score = TS.langid_score_sql("text")
    return (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"CAST({score} AS BIGINT) AS en_score, "
        f"CASE WHEN {score} >= 20000 THEN 'en' ELSE 'other' END AS lang_guess "
        f"FROM documents"
    )


@_register("token_stats_by_source")
def _tsb(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return TX.token_stats_by(docs, "source")


@_oracle("token_stats_by_source")
def _tsb_o():
    toks = TS.token_count_sql("text")
    return (
        f"SELECT source, CAST(COUNT(*) AS BIGINT) AS docs, "
        f"CAST(SUM({toks}) AS BIGINT) AS total_tokens, "
        f"CAST(FLOOR(AVG({toks}) * 1000000.0) AS BIGINT) AS avg_tokens_ppm "
        f"FROM documents GROUP BY source"
    )


@_register("doc_fingerprint")
def _dfp(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return TX.with_fingerprint(docs).select(
        F.col("doc_id").cast("long"), F.col("fp").cast("long")
    )


@_oracle("doc_fingerprint")
def _dfp_o():
    return (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"CAST({TS.md5_prefix_int_sql('text', TS.DUCKDB)} AS BIGINT) AS fp "
        f"FROM documents"
    )


# ===========================================================================
# dedup
# ===========================================================================

@_register("dedup_exact")
def _de(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return D.dedup_exact(docs)


@_oracle("dedup_exact")
def _de_o():
    return (
        "SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keeper, "
        "CAST(COUNT(*) AS BIGINT) AS cnt FROM documents GROUP BY md5(text)"
    )


@_register("minhash_signatures")
def _mh(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return D.minhash_signatures(docs).select(
        F.col("doc_id").cast("long"),
        *[F.col(f"mh{i}").cast("long") for i in range(4)],
    )


@_oracle("minhash_signatures")
def _mh_o():
    wh = TS.minhash_word_hash_sql("w", TS.DUCKDB)
    sigs = ", ".join(
        f"CAST({s} AS BIGINT) AS mh{i}"
        for i, s in enumerate(TS.minhash_sigs_sql("wh"))
    )
    return (
        f"WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
        f"FROM documents), wh AS (SELECT doc_id, {wh} AS wh FROM words "
        f"WHERE length(w) > 0) "
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, {sigs} FROM wh GROUP BY doc_id"
    )


@_register("simhash64")
def _sh(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return D.simhash64(docs).select(
        F.col("doc_id").cast("long"), F.col("simhash").cast("long")
    )


@_oracle("simhash64")
def _sh_o():
    wh_expr = TS.minhash_word_hash_sql("w", TS.DUCKDB)
    sums = []
    for i in range(32):
        sums.append(
            f"SUM(CASE WHEN ((wh >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        )
        sums.append(
            f"SUM(CASE WHEN ((wh2 >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i + 32}"
        )
    bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(63)
    )
    return (
        f"WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
        f"FROM documents), wh0 AS (SELECT doc_id, {wh_expr} AS wh FROM words "
        f"WHERE length(w) > 0), "
        f"whx AS (SELECT doc_id, wh, (wh * 69069 + 362437) % {TS.MINHASH_P} AS wh2 FROM wh0), "
        f"agg AS (SELECT doc_id, {', '.join(sums)} FROM whx GROUP BY doc_id) "
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST({bits} AS BIGINT) AS simhash FROM agg"
    )


# ===========================================================================
# similarity / ANN
# ===========================================================================

_ANN_K = 50


def _query_vec(sf_dir: str) -> list[float]:
    """Deterministic query = embedding of the smallest vec_id (DuckDB read
    keeps this cheap and engine-independent)."""
    con = duckdb.connect()
    row = con.execute(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"ORDER BY vec_id LIMIT 1"
    ).fetchone()
    return [float(x) for x in row[0]]


@_register("ann_dot_topk")
def _ann(spark, sf_dir):
    emb = _ts(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    return SIM.brute_force_topk(emb, q, k=_ANN_K).select(
        F.col("vec_id").cast("long"), F.col("score_ppm").cast("long")
    )


@_oracle("ann_dot_topk")
def _ann_o():
    # unrolled left-associative dot product — same accumulation order as
    # Spark's aggregate() fold; query vector via scalar subqueries so the
    # oracle needs no literal values.  Order on the raw double (identical
    # bits both engines); output FLOOR-ppm hardened.
    terms = " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * q.q{i + 1}" for i in range(64)
    )
    qcols = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS q{i + 1}" for i in range(64)
    )
    return (
        f"WITH q AS (SELECT {qcols} FROM embeddings ORDER BY vec_id LIMIT 1) "
        f"SELECT CAST(e.vec_id AS BIGINT) AS vec_id, "
        f"CAST(FLOOR(({terms}) * 1000000.0) AS BIGINT) AS score_ppm "
        f"FROM embeddings e, q ORDER BY ({terms}) DESC, e.vec_id LIMIT {_ANN_K}"
    )


# ===========================================================================
# hyperplane-LSH top-k: the bucket-pruned ANN path.  Deterministic integer
# plane weights (similarity.plane_weights) make the bucket filter exactly
# reproducible in DuckDB; scoring/tie-break mirrors ann_dot_topk.
# ===========================================================================

_LSH_K = 20
_LSH_PLANES = 4


@_register("lsh_topk")
def _lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vec(sf_dir)
    return SIM.lsh_topk(emb, q, k=_LSH_K, n_planes=_LSH_PLANES).select(
        F.col("vec_id").cast("long"), F.col("score_ppm").cast("long")
    )


@_oracle("lsh_topk")
def _lsh_o():
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    q = _query_vec(sf_dir)
    qb = SIM.query_bucket(q, _LSH_PLANES)
    bucket_parts = []
    for j in range(_LSH_PLANES):
        w = SIM.plane_weights(j, len(q))
        proj = " + ".join(
            f"CAST(e.embedding[{i + 1}] AS DOUBLE) * {w[i]}" for i in range(len(q))
        )
        bucket_parts.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << j} ELSE 0 END)")
    bucket = "(" + " + ".join(bucket_parts) + ")"
    qdot = " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * CAST({repr(float(v))} AS DOUBLE)"
        for i, v in enumerate(q)
    )
    return (
        f"SELECT CAST(e.vec_id AS BIGINT) AS vec_id, "
        f"CAST(FLOOR(({qdot}) * 1000000.0) AS BIGINT) AS score_ppm "
        f"FROM embeddings e WHERE {bucket} = {qb} "
        f"ORDER BY ({qdot}) DESC, e.vec_id LIMIT {_LSH_K}"
    )


# ===========================================================================
# multimodal decode.  Fully oracled: the Spark side DECODES every image
# and emits (a) exact integer channel sums for lossless rows and (b) the
# PSNR>=40dB invariant vs the deterministic synth_pixels generator for
# lossy rows; the DuckDB oracle derives the same sums relationally from
# the synth_pixels formula (r=(x*255//(w-1)+i)%256 etc.) WITHOUT decoding
# — so a broken codec, channel swap, or PSNR regression hash-mismatches.
# ===========================================================================

_IDS_N = 64


@_register("image_decode_stats")
def _ids(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N)

    def ref(image_id: str, w: int, h: int):
        return FX.synth_pixels(int(image_id[3:]), w, h)

    return MM.decode_verify(images, ref).select(
        F.col("image_id"),
        F.col("w").cast("int"),
        F.col("h").cast("int"),
        F.col("fmt"),
        F.col("n_pixels").cast("long"),
        F.col("sum_r").cast("long"),
        F.col("sum_g").cast("long"),
        F.col("sum_b").cast("long"),
        F.col("psnr_ok").cast("long"),
    )


@_oracle("image_decode_stats")
def _ids_o():
    from .sources.fixtures import FMT_CYCLE, H_CYCLE, W_CYCLE

    w_case = " ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(W_CYCLE))
    h_case = " ".join(f"WHEN {i} THEN {h}" for i, h in enumerate(H_CYCLE))
    fmt_case = " ".join(
        f"WHEN {i} THEN '{f}'" for i, f in enumerate(FMT_CYCLE)
    )
    max_w, max_h = max(W_CYCLE), max(H_CYCLE)
    return f"""
WITH imgs AS (
  SELECT CAST(t.i AS BIGINT) AS i, printf('img%012d', t.i) AS image_id,
         CAST((CASE t.i % 4 {w_case} END) AS INT) AS w,
         CAST((CASE t.i % 4 {h_case} END) AS INT) AS h,
         (CASE t.i % 2 {fmt_case} END) AS fmt
  FROM range({_IDS_N}) t(i)),
rsum AS (
  SELECT i.i, SUM(((x.range * 255) // (i.w - 1) + i.i) % 256) AS sr
  FROM imgs i, range({max_w}) x WHERE x.range < i.w GROUP BY i.i),
gsum AS (
  SELECT i.i, SUM(((y.range * 255) // (i.h - 1) + 2 * i.i) % 256) AS sg
  FROM imgs i, range({max_h}) y WHERE y.range < i.h GROUP BY i.i),
bsum AS (
  SELECT i.i, SUM((x.range + y.range + 3 * i.i) % 256) AS sb
  FROM imgs i, range({max_w}) x, range({max_h}) y
  WHERE x.range < i.w AND y.range < i.h GROUP BY i.i)
SELECT im.image_id, im.w, im.h, im.fmt,
       CAST(im.w * im.h AS BIGINT) AS n_pixels,
       CAST(CASE WHEN im.fmt = 'png' THEN r.sr * im.h END AS BIGINT) AS sum_r,
       CAST(CASE WHEN im.fmt = 'png' THEN g.sg * im.w END AS BIGINT) AS sum_g,
       CAST(CASE WHEN im.fmt = 'png' THEN b.sb END AS BIGINT) AS sum_b,
       CAST(1 AS BIGINT) AS psnr_ok
FROM imgs im
JOIN rsum r ON r.i = im.i
JOIN gsum g ON g.i = im.i
JOIN bsum b ON b.i = im.i
"""


# ===========================================================================
# image gradient stats (operators/multimodal.image_gradient_stats):
# integer Sobel L1 energy + edge-pixel counts over DECODED pixels.  The
# Spark side runs the real 2-D convolution on the decoded PNGs; the
# oracle derives the identical integers INDEPENDENTLY from the
# synth_pixels closed forms — r depends only on x (gy_r = 0, gx_r =
# 4*(f(x+1)-f(x-1))), g only on y (mirror), and b only on s = x+y+3i
# (gx_b = gy_b = 2m(s+1)+m(s+2)-m(s-2)-2m(s-1), m = %256, s >= 2 on the
# interior so every operand is non-negative).  Validated against numpy
# convolution in tests/test_image_gradient.py.  PNG (lossless) rows only,
# like resize_stats.
# ===========================================================================

_IGR_THR = 512


@_register("image_gradient_stats")
def _igr(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N).filter(F.col("fmt") == "png")
    return MM.image_gradient_stats(images, edge_thr=_IGR_THR).select(
        F.col("image_id"),
        F.col("w").cast("int"),
        F.col("h").cast("int"),
        F.col("grad_l1").cast("long"),
        F.col("edge_px").cast("long"),
    )


@_oracle("image_gradient_stats")
def _igr_o():
    from .sources.fixtures import H_CYCLE, W_CYCLE

    w_case = " ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(W_CYCLE))
    h_case = " ".join(f"WHEN {i} THEN {h}" for i, h in enumerate(H_CYCLE))
    s = "(x.range + y.range + 3 * i.i)"
    return f"""
WITH imgs AS (
  SELECT CAST(t.i AS BIGINT) AS i, printf('img%012d', t.i) AS image_id,
         CAST((CASE t.i % 4 {w_case} END) AS INT) AS w,
         CAST((CASE t.i % 4 {h_case} END) AS INT) AS h
  FROM range({_IDS_N}) t(i) WHERE t.i % 2 = 0),
px AS MATERIALIZED (
  SELECT i.image_id, i.w, i.h,
         ABS(4 * ((((x.range + 1) * 255) // (i.w - 1) + i.i) % 256
                - (((x.range - 1) * 255) // (i.w - 1) + i.i) % 256)) AS rt,
         ABS(4 * ((((y.range + 1) * 255) // (i.h - 1) + 2 * i.i) % 256
                - (((y.range - 1) * 255) // (i.h - 1) + 2 * i.i) % 256)) AS gt,
         ABS(2 * (({s} + 1) % 256) + (({s} + 2) % 256)
             - (({s} - 2) % 256) - 2 * (({s} - 1) % 256)) AS bt
  FROM imgs i, range(1, {max(W_CYCLE)}) x, range(1, {max(H_CYCLE)}) y
  WHERE x.range < i.w - 1 AND y.range < i.h - 1)
SELECT image_id, w, h,
       CAST(SUM(rt + gt + 2 * bt) AS BIGINT) AS grad_l1,
       CAST(SUM(CASE WHEN rt + gt + 2 * bt >= {_IGR_THR} THEN 1 ELSE 0 END)
            AS BIGINT) AS edge_px
FROM px GROUP BY image_id, w, h
"""


# ===========================================================================
# image histogram (operators/multimodal.image_histogram): per-channel
# 16-bin brightness histograms over DECODED pixels; the oracle counts the
# same bins from the synth_pixels formulas (r over x scaled by h, g over
# y scaled by w, b brute over the x,y grid) — non-empty bins only on
# both sides.  PNG (lossless) rows only.
# ===========================================================================

_IHB_BINS = 16


@_register("image_histogram")
def _ihb(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N).filter(F.col("fmt") == "png")
    return MM.image_histogram(images, bins=_IHB_BINS).select(
        F.col("image_id"),
        F.col("channel"),
        F.col("bin").cast("int"),
        F.col("cnt").cast("long"),
    )


@_oracle("image_histogram")
def _ihb_o():
    from .sources.fixtures import H_CYCLE, W_CYCLE

    w_case = " ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(W_CYCLE))
    h_case = " ".join(f"WHEN {i} THEN {h}" for i, h in enumerate(H_CYCLE))
    wd = 256 // _IHB_BINS
    return f"""
WITH imgs AS (
  SELECT CAST(t.i AS BIGINT) AS i, printf('img%012d', t.i) AS image_id,
         CAST((CASE t.i % 4 {w_case} END) AS INT) AS w,
         CAST((CASE t.i % 4 {h_case} END) AS INT) AS h
  FROM range({_IDS_N}) t(i) WHERE t.i % 2 = 0),
rh AS (
  SELECT i.image_id, 'r' AS channel,
         CAST((((x.range * 255) // (i.w - 1) + i.i) % 256) // {wd} AS INT)
           AS bin,
         CAST(COUNT(*) * ANY_VALUE(i.h) AS BIGINT) AS cnt
  FROM imgs i, range({max(W_CYCLE)}) x WHERE x.range < i.w
  GROUP BY i.image_id, bin),
gh AS (
  SELECT i.image_id, 'g' AS channel,
         CAST((((y.range * 255) // (i.h - 1) + 2 * i.i) % 256) // {wd} AS INT)
           AS bin,
         CAST(COUNT(*) * ANY_VALUE(i.w) AS BIGINT) AS cnt
  FROM imgs i, range({max(H_CYCLE)}) y WHERE y.range < i.h
  GROUP BY i.image_id, bin),
bh AS (
  SELECT i.image_id, 'b' AS channel,
         CAST((((x.range + y.range + 3 * i.i) % 256)) // {wd} AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM imgs i, range({max(W_CYCLE)}) x, range({max(H_CYCLE)}) y
  WHERE x.range < i.w AND y.range < i.h
  GROUP BY i.image_id, bin)
SELECT * FROM rh UNION ALL SELECT * FROM gh UNION ALL SELECT * FROM bh
"""


# ===========================================================================
# image augmentation (operators/multimodal.augment_crop_flip): crop +
# horizontal flip + nearest resize with exact output channel sums.  The
# per-image crop/flip parameters are derived from i by shared integer
# formulas; the oracle composes the fixture pixel formulas with the
# IDENTICAL integer source-index maps (sx = left + (x*cw) DIV out_w,
# mirrored when flipped), so a wrong crop origin, flip direction, or
# index rounding hash-mismatches.  PNG (lossless) rows only.
# ===========================================================================

_AUG_W, _AUG_H = 24, 24


def _aug_param_exprs(i: str, w: str, h: str, dialect: str) -> dict[str, str]:
    from .functions.text_sql import idiv_sql

    return {
        "aug_left": idiv_sql(f"(({i}) % 3) * ({w})", "16", dialect),
        "aug_top": idiv_sql(f"(({i}) % 5) * ({h})", "16", dialect),
        "aug_flip": f"(({idiv_sql(i, '2', dialect)}) % 2)",
    }


@_register("augment_stats")
def _aug(spark, sf_dir):
    from .functions.text_sql import SPARK as _SP
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N).filter(F.col("fmt") == "png")
    images = images.withColumn(
        "__i", F.expr("CAST(SUBSTRING(image_id, 4) AS BIGINT)")
    )
    p = _aug_param_exprs("__i", "w", "h", _SP)
    images = images.withColumns({k: F.expr(v) for k, v in p.items()})
    out = MM.augment_crop_flip(images, _AUG_W, _AUG_H)
    return out.select(
        F.col("image_id"),
        F.col("w").cast("int"),
        F.col("h").cast("int"),
        F.col("flip").cast("int"),
        F.col("sum_r").cast("long"),
        F.col("sum_g").cast("long"),
        F.col("sum_b").cast("long"),
    )


@_oracle("augment_stats")
def _aug_o():
    from .functions.text_sql import DUCKDB, idiv_sql
    from .sources.fixtures import H_CYCLE, W_CYCLE

    w_case = " ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(W_CYCLE))
    h_case = " ".join(f"WHEN {i} THEN {h}" for i, h in enumerate(H_CYCLE))
    p = _aug_param_exprs("t.i", "w0", "h0", DUCKDB)
    sx0 = idiv_sql(f"x.range * (w0 - aug_left)", str(_AUG_W), DUCKDB)
    sy0 = idiv_sql(f"y.range * (h0 - aug_top)", str(_AUG_H), DUCKDB)
    srcx = (
        f"CASE WHEN aug_flip = 1 THEN aug_left + (w0 - aug_left) - 1 - {sx0} "
        f"ELSE aug_left + {sx0} END"
    )
    srcy = f"aug_top + {sy0}"
    f_r = f"((srcx * 255) // (w0 - 1) + i) % 256"
    f_g = f"((srcy * 255) // (h0 - 1) + 2 * i) % 256"
    f_b = f"(x.srcx + y.srcy + 3 * x.i) % 256"
    return f"""
WITH imgs AS (
  SELECT CAST(t.i AS BIGINT) AS i, printf('img%012d', t.i) AS image_id,
         CAST((CASE t.i % 4 {w_case} END) AS INT) AS w0,
         CAST((CASE t.i % 4 {h_case} END) AS INT) AS h0
  FROM range({_IDS_N}) t(i) WHERE t.i % 2 = 0),
params AS MATERIALIZED (
  SELECT *, {p["aug_left"].replace("t.i", "i")} AS aug_left,
         {p["aug_top"].replace("t.i", "i")} AS aug_top,
         {p["aug_flip"].replace("t.i", "i")} AS aug_flip
  FROM imgs),
xs AS MATERIALIZED (
  SELECT image_id, i, w0, h0, aug_flip, {srcx} AS srcx
  FROM params, range({_AUG_W}) x),
ys AS MATERIALIZED (
  SELECT image_id, i, h0, {srcy} AS srcy
  FROM params, range({_AUG_H}) y),
rs AS (SELECT image_id, SUM({f_r}) * {_AUG_H} AS sum_r
       FROM xs GROUP BY image_id),
gs AS (SELECT image_id, SUM({f_g}) * {_AUG_W} AS sum_g
       FROM ys GROUP BY image_id),
bs AS (SELECT x.image_id, SUM({f_b}) AS sum_b
       FROM xs x JOIN ys y ON y.image_id = x.image_id
       GROUP BY x.image_id)
SELECT p.image_id, {_AUG_W} AS w, {_AUG_H} AS h,
       CAST(p.aug_flip AS INT) AS flip,
       CAST(r.sum_r AS BIGINT) AS sum_r,
       CAST(g.sum_g AS BIGINT) AS sum_g,
       CAST(b.sum_b AS BIGINT) AS sum_b
FROM params p
JOIN rs r ON r.image_id = p.image_id
JOIN gs g ON g.image_id = p.image_id
JOIN bs b ON b.image_id = p.image_id
"""


# ===========================================================================
# patch stats (operators/multimodal.patch_stats): ViT-style patch grid
# with exact per-patch channel sums.  The oracle derives them from the
# fixture formulas: r sums over the patch's x range times the patch
# height (r is y-constant), g mirrored, b brute over the pixel grid
# grouped by (x DIV P, y DIV P).  PNG (lossless) rows only.
# ===========================================================================

_PST_P = 8


@_register("patch_stats")
def _pst(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N).filter(F.col("fmt") == "png")
    return MM.patch_stats(images, patch=_PST_P).select(
        F.col("image_id"),
        F.col("px").cast("int"),
        F.col("py").cast("int"),
        F.col("sum_r").cast("long"),
        F.col("sum_g").cast("long"),
        F.col("sum_b").cast("long"),
    )


@_oracle("patch_stats")
def _pst_o():
    from .sources.fixtures import H_CYCLE, W_CYCLE

    w_case = " ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(W_CYCLE))
    h_case = " ".join(f"WHEN {i} THEN {h}" for i, h in enumerate(H_CYCLE))
    P = _PST_P
    return f"""
WITH imgs AS (
  SELECT CAST(t.i AS BIGINT) AS i, printf('img%012d', t.i) AS image_id,
         CAST((CASE t.i % 4 {w_case} END) AS INT) AS w,
         CAST((CASE t.i % 4 {h_case} END) AS INT) AS h
  FROM range({_IDS_N}) t(i) WHERE t.i % 2 = 0),
rs AS MATERIALIZED (
  SELECT i.image_id, CAST(x.range // {P} AS INT) AS px,
         SUM(((x.range * 255) // (i.w - 1) + i.i) % 256) * {P} AS sum_r
  FROM imgs i, range({max(W_CYCLE)}) x WHERE x.range < i.w
  GROUP BY i.image_id, px),
gs AS MATERIALIZED (
  SELECT i.image_id, CAST(y.range // {P} AS INT) AS py,
         SUM(((y.range * 255) // (i.h - 1) + 2 * i.i) % 256) * {P} AS sum_g
  FROM imgs i, range({max(H_CYCLE)}) y WHERE y.range < i.h
  GROUP BY i.image_id, py),
bs AS MATERIALIZED (
  SELECT i.image_id, CAST(x.range // {P} AS INT) AS px,
         CAST(y.range // {P} AS INT) AS py,
         SUM((x.range + y.range + 3 * i.i) % 256) AS sum_b
  FROM imgs i, range({max(W_CYCLE)}) x, range({max(H_CYCLE)}) y
  WHERE x.range < i.w AND y.range < i.h
  GROUP BY i.image_id, px, py)
SELECT b.image_id, b.px, b.py,
       CAST(r.sum_r AS BIGINT) AS sum_r,
       CAST(g.sum_g AS BIGINT) AS sum_g,
       CAST(b.sum_b AS BIGINT) AS sum_b
FROM bs b
JOIN rs r ON r.image_id = b.image_id AND r.px = b.px
JOIN gs g ON g.image_id = b.image_id AND g.py = b.py
"""


# ===========================================================================
# patch embeddings (operators/multimodal.patch_embeddings): seeded +-1
# random projection per patch (the integer ViT patch-embedding stand-in)
# — the oracle brute-sums sign * pixel-formula over every (x, y, c, d)
# of the patch grid.  PNG rows only; K=2, P=8 bound the oracle at
# 3 channels * interior pixels * K rows.
# ===========================================================================

_PEM_K = 2


@_register("patch_embeddings")
def _pem(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N).filter(F.col("fmt") == "png")
    return MM.patch_embeddings(images, patch=_PST_P, dims=_PEM_K).select(
        F.col("image_id"),
        F.col("px").cast("int"),
        F.col("py").cast("int"),
        F.col("dim").cast("int"),
        F.col("value").cast("long"),
    )


@_oracle("patch_embeddings")
def _pem_o():
    from .sources.fixtures import H_CYCLE, W_CYCLE

    w_case = " ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(W_CYCLE))
    h_case = " ".join(f"WHEN {i} THEN {h}" for i, h in enumerate(H_CYCLE))
    P = _PST_P
    sgn = "(1 - 2 * ((x.range * 73 + y.range * 151 + c.range * 37 + d.range * 101) % 2))"
    pix = (
        "(CASE c.range "
        " WHEN 0 THEN ((x.range * 255) // (i.w - 1) + i.i) % 256 "
        " WHEN 1 THEN ((y.range * 255) // (i.h - 1) + 2 * i.i) % 256 "
        " ELSE (x.range + y.range + 3 * i.i) % 256 END)"
    )
    return f"""
WITH imgs AS (
  SELECT CAST(t.i AS BIGINT) AS i, printf('img%012d', t.i) AS image_id,
         CAST((CASE t.i % 4 {w_case} END) AS INT) AS w,
         CAST((CASE t.i % 4 {h_case} END) AS INT) AS h
  FROM range({_IDS_N}) t(i) WHERE t.i % 2 = 0)
SELECT i.image_id,
       CAST(x.range // {P} AS INT) AS px,
       CAST(y.range // {P} AS INT) AS py,
       CAST(d.range AS INT) AS dim,
       CAST(SUM({sgn} * {pix}) AS BIGINT) AS value
FROM imgs i, range({max(W_CYCLE)}) x, range({max(H_CYCLE)}) y,
     range(3) c, range({_PEM_K}) d
WHERE x.range < i.w AND y.range < i.h
GROUP BY i.image_id, px, py, dim
"""


# ===========================================================================
# kNN via cell-ring expansion (BASELINE generalization; exact)
# ===========================================================================

_KNN_K = 25
_KNN_LEVEL = 8
# query point: inside the dense skew region, so k neighbours exist within
# a ring or two even at small SF
_KNN_QLON = 605000000
_KNN_QLAT = 405000000


@_register("knn_ring")
def _knn(spark, sf_dir):
    from pyspark.sql.types import LongType

    from .gate import _events_points
    from .operators import knn as K
    from .functions import qt_numpy as qtn

    pts = _events_points(spark, sf_dir)

    @F.pandas_udf(LongType())
    def cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            qtn.calculate_point(
                lon.to_numpy(np.int64), lat.to_numpy(np.int64), _KNN_LEVEL, 0.0
            )
        )

    # persist: the ring loop filters this frame once per ring; at cluster
    # scale the cell column is the table's bucket key instead
    pts = pts.withColumn("cell", cell_udf("lon", "lat")).persist()
    out = K.knn_search(
        pts, _KNN_QLON, _KNN_QLAT, _KNN_K, level=_KNN_LEVEL, id_col="event_id"
    )
    pts.unpersist()
    return out


@_oracle("knn_ring")
def _knn_o():
    from .gate import _events_synth_sql

    d = (
        f"(CAST(lon - {_KNN_QLON} AS DOUBLE) * CAST(lon - {_KNN_QLON} AS DOUBLE)"
        f" + CAST(lat - {_KNN_QLAT} AS DOUBLE) * CAST(lat - {_KNN_QLAT} AS DOUBLE))"
    )
    return (
        f"SELECT CAST(event_id AS BIGINT) AS id, {d} AS dist_sq "
        f"FROM ({_events_synth_sql()}) e ORDER BY dist_sq, event_id LIMIT {_KNN_K}"
    )


# ===========================================================================
# MinHash + LSH near-dup pipeline end-to-end (signatures -> banded
# candidates -> exact word-set Jaccard verify) on a corpus with planted
# duplicates (documents unioned with itself under shifted ids)
# ===========================================================================

_DUP_SHIFT = 100000


def _doubled_docs(spark, sf_dir):
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _DOCS2_CAP)
        .select("doc_id", "text")
    )
    dups = docs.select(
        (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"), F.col("text")
    )
    return docs.unionByName(dups)


@_register("minhash_lsh_dedup")
def _mld(spark, sf_dir):
    # gate output = per-doc aggregates over the verified pair set, not the
    # raw pairs: the corpus is heavily templated, so the pair list is
    # quadratic in duplicate-group size (27.5M rows at sf0.1) while the
    # aggregate pins the same information (any pair-set difference
    # perturbs n_dups / min_b / max_b / sum_jaccard of some doc)
    docs = _doubled_docs(spark, sf_dir)
    sigs = D.minhash_signatures(docs)
    cand = D.minhash_lsh_candidates(sigs, bands=2)
    pairs = D.ngram_jaccard_pairs(docs, cand, threshold=0.5)
    return (
        pairs.groupBy("a")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
            F.sum("jaccard_ppm").alias("sum_jacc_ppm"),
        )
        .select(
            F.col("a").cast("long"),
            F.col("n_dups").cast("long"),
            F.col("min_b").cast("long"),
            F.col("max_b").cast("long"),
            F.col("sum_jacc_ppm").cast("long"),
        )
    )


@_oracle("minhash_lsh_dedup")
def _mld_o():
    wh = TS.minhash_word_hash_sql("w", TS.DUCKDB)
    sigs = ", ".join(
        f"{s} AS mh{i}" for i, s in enumerate(TS.minhash_sigs_sql("wh"))
    )
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {_DOCS2_CAP}
  UNION ALL SELECT doc_id + {_DUP_SHIFT}, text FROM documents
  WHERE doc_id < {_DOCS2_CAP}
),
words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs),
whm AS (SELECT doc_id, {wh} AS wh FROM words WHERE length(w) > 0),
sigs AS (SELECT doc_id, {sigs} FROM whm GROUP BY doc_id),
b0 AS (SELECT l.doc_id AS a, r.doc_id AS b FROM sigs l JOIN sigs r
       ON l.mh0 = r.mh0 AND l.mh1 = r.mh1 AND l.doc_id < r.doc_id),
b1 AS (SELECT l.doc_id AS a, r.doc_id AS b FROM sigs l JOIN sigs r
       ON l.mh2 = r.mh2 AND l.mh3 = r.mh3 AND l.doc_id < r.doc_id),
cand AS (SELECT DISTINCT a, b FROM (SELECT * FROM b0 UNION ALL SELECT * FROM b1) u),
whd AS (SELECT DISTINCT doc_id, wh FROM whm),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM whd GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS i
  FROM cand c
  JOIN whd wa ON wa.doc_id = c.a
  JOIN whd wb ON wb.doc_id = c.b AND wb.wh = wa.wh
  GROUP BY c.a, c.b
),
pairs AS (
  SELECT CAST(inter.a AS BIGINT) AS a, CAST(inter.b AS BIGINT) AS b,
         CAST(FLOOR(CAST(inter.i AS DOUBLE) / (sa.sz + sb.sz - inter.i) * 1000000.0) AS BIGINT) AS jaccard_ppm
  FROM inter
  JOIN sz sa ON sa.doc_id = inter.a
  JOIN sz sb ON sb.doc_id = inter.b
  WHERE CAST(inter.i AS DOUBLE) / (sa.sz + sb.sz - inter.i) >= 0.5
)
SELECT a, CAST(COUNT(*) AS BIGINT) AS n_dups,
       CAST(MIN(b) AS BIGINT) AS min_b, CAST(MAX(b) AS BIGINT) AS max_b,
       CAST(SUM(jaccard_ppm) AS BIGINT) AS sum_jacc_ppm
FROM pairs GROUP BY a
"""


# ===========================================================================
# n-gram Jaccard near-dup pairs (word 3-grams, hot-shingle df cap):
# the fourth dedup family.  Corpus = documents + mutated copies (a ' zz '
# splice at char 40 — ~2n shingles perturbed, so planted pairs land at
# jaccard ~0.9, genuinely below 1 and above the 0.5 threshold), and EVERY
# doc gets a shared boilerplate footer whose shingles have df = n_docs:
# without the df cap those footer shingles alone would emit all-pairs
# candidates, so the gate exercises the hot-shingle control for real.
# The DuckDB oracle is the same capped-Jaccard definition computed by
# brute force from the raw text.
# ===========================================================================

_NG_SHIFT = 200000
_NG_FOOTER = " standard license footer text common to every document here"
_NG_CAP = 64
# n=5 word shingles: the standard web-dedup width, and on this synthetic
# 30-word-vocab corpus the difference between ~17M incidental shared-
# shingle candidate pairs (n=3: 27k possible shingles, mean df ~36 at
# sf0.1) and candidates ~= planted pairs only (n=5: 24M possible)
_NG_N = 5


def _ngram_docs(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id", F.expr(f"concat(text, '{_NG_FOOTER}')").alias("text")
    )
    muts = docs.select(
        (F.col("doc_id") + _NG_SHIFT).alias("doc_id"),
        F.expr(
            f"concat(substr(text, 1, 40), ' zz ', substr(text, 41), "
            f"'{_NG_FOOTER}')"
        ).alias("text"),
    )
    return base.unionByName(muts)


@_register("ngram_jaccard_neardup")
def _ngj(spark, sf_dir):
    docs = _ngram_docs(spark, sf_dir)
    return D.ngram_neardup_pairs(
        docs, n=_NG_N, threshold_ppm=500000, df_cap=_NG_CAP
    ).select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("jaccard_ppm").cast("long"),
    )


@_oracle("ngram_jaccard_neardup")
def _ngj_o():
    shingle = f"array_to_string(ws[i+1:i+{_NG_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, concat(text, '{_NG_FOOTER}') AS text FROM documents
  UNION ALL
  SELECT doc_id + {_NG_SHIFT},
         concat(substr(text, 1, 40), ' zz ', substr(text, 41), '{_NG_FOOTER}')
  FROM documents
),
wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM docs
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_NG_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_NG_N}) g
),
hot AS MATERIALIZED (SELECT shh FROM sh GROUP BY shh HAVING COUNT(*) > {_NG_CAP}),
post AS MATERIALIZED (SELECT sh.* FROM sh ANTI JOIN hot USING (shh)),
sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM post GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i
  FROM post l JOIN post r USING (shh)
  WHERE l.doc_id < r.doc_id GROUP BY 1, 2
)
SELECT CAST(inter.a AS BIGINT) AS a, CAST(inter.b AS BIGINT) AS b,
       CAST(FLOOR(CAST(inter.i AS DOUBLE)
                  / CAST(sa.sz + sb.sz - inter.i AS DOUBLE)
                  * 1000000.0) AS BIGINT) AS jaccard_ppm
FROM inter
JOIN sz sa ON sa.doc_id = inter.a
JOIN sz sb ON sb.doc_id = inter.b
WHERE inter.i * 1000000 >= 500000 * (sa.sz + sb.sz - inter.i)
"""


# ===========================================================================
# regex-free text normalization -> exact dedup: near-exact duplicates
# differing only in case/punctuation/whitespace collapse to one group.
# Corpus = documents + noised copies (leading spaces, uppercased prefix,
# trailing ' !! ') whose normalized form equals the original's, so every
# group has exactly its original as keeper.  The identical normalize SQL
# text runs on both engines (translate/chr/replace only, no regex).
# ===========================================================================

_NRM_SHIFT = 400000
_NRM_NOISE_SQL = (
    "concat('  ', upper(substr(text, 1, 15)), substr(text, 16), ' !! ')"
)


@_register("normalize_dedup")
def _nrm(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    noised = docs.select(
        (F.col("doc_id") + _NRM_SHIFT).alias("doc_id"),
        F.expr(_NRM_NOISE_SQL).alias("text"),
    )
    corpus = TX.with_normalized_text(docs.unionByName(noised))
    out = D.dedup_exact(corpus, key="norm_text", id_col="doc_id")
    return out.select(
        "content_hash",
        F.col("keeper").cast("long"),
        F.col("cnt").cast("long"),
    )


@_oracle("normalize_dedup")
def _nrm_o():
    norm = TS.normalize_text_sql("text")
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_NRM_SHIFT}, {_NRM_NOISE_SQL} FROM documents
)
SELECT md5({norm}) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keeper,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM docs GROUP BY md5({norm})
"""


# ===========================================================================
# composed corpus-cleaning pipeline: langid filter -> quality filter ->
# exact-dedup keeper selection -> per-source aggregate stats, in ONE DAG.
# The individual stages are each gated on their own; this pins their
# interaction (filter-before-dedup ordering, keeper = min id among the
# SURVIVORS, integer-exact aggregates).  Corpus doubles every doc under a
# shifted id so the keeper step genuinely removes half of what passes.
# ===========================================================================

_CC_EN_MIN = 40000
_CC_Q_MIN = 500000


@_register("corpus_clean_stats")
def _ccs(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source", "text")
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"), "source", "text"
        )
    )
    scored = TX.with_langid(TX.with_quality_score(TX.with_token_count(doubled)))
    kept = scored.filter(
        (F.col("en_score") >= _CC_EN_MIN) & (F.col("quality") >= _CC_Q_MIN)
    )
    # keeper selection as a window min carried through — a dedup_exact
    # aggregate semi-joined back would plan as a broadcast build over the
    # whole scoring subtree and recompute it (the join-back pathology the
    # round-3 operator fixes eliminate engine-wide)
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text"))
    final = kept.withColumn("__keep", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("__keep")
    )
    return final.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum("quality").cast("long").alias("sum_quality"),
    )


@_oracle("corpus_clean_stats")
def _ccs_o():
    en = TS.langid_score_sql("text")
    q = TS.quality_score_sql("text")
    tok = TS.token_count_sql("text")
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT}, source, text FROM documents
),
scored AS MATERIALIZED (
  SELECT doc_id, source, text,
         CAST({en} AS BIGINT) AS en,
         CAST({q} AS BIGINT) AS q,
         CAST({tok} AS BIGINT) AS toks
  FROM docs
),
kept AS MATERIALIZED (
  SELECT * FROM scored WHERE en >= {_CC_EN_MIN} AND q >= {_CC_Q_MIN}
),
keepers AS MATERIALIZED (
  SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM kept GROUP BY md5(text)
)
SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(s.toks) AS BIGINT) AS sum_tokens,
       CAST(SUM(s.q) AS BIGINT) AS sum_quality
FROM kept s JOIN keepers k ON s.doc_id = k.keeper
GROUP BY s.source
"""


# ===========================================================================
# multimodal joint near-dup: image phash Hamming AND caption n-gram
# Jaccard, judged together (the north-star (phash, caption) pair table).
# Corpus plants three dup classes by doc_id % 3 — both-near (2-bit phash
# flip + zz-splice caption), image-near only (2-bit flip + unrelated
# caption), caption-near only (28-bit flip + zz-splice) — so the 'both'
# policy must keep exactly the first class.  Both candidate generators
# are recall-exact, so the DuckDB oracle is brute force.
# ===========================================================================

_MM_SHIFT = 300000
_MM_MASK_SQL = "CASE doc_id % 3 WHEN 0 THEN 17 WHEN 1 THEN 3 ELSE 268435455 END"
_MM_N = 5  # same shingle-width choice as the ngram gate (see _NG_N)
_MM_CAPTION_SQL = (
    "CASE doc_id % 3 WHEN 1 THEN concat('unrelated u', CAST(doc_id AS STRING), "
    "' v w x y z') ELSE concat(substr(text, 1, 40), ' zz ', substr(text, 41)) END"
)


def _mm_corpus(spark, sf_dir):
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _MM_CAP)
        .select("doc_id", "text")
    )
    ph0 = TS.md5_prefix_int_sql("CAST(doc_id AS STRING)", TS.SPARK)
    base = docs.select(
        F.col("doc_id").alias("image_id"),
        F.expr(ph0).alias("phash"),
        F.col("text").alias("caption"),
    )
    dups = docs.select(
        (F.col("doc_id") + _MM_SHIFT).alias("image_id"),
        F.expr(f"({ph0}) ^ ({_MM_MASK_SQL})").alias("phash"),
        F.expr(_MM_CAPTION_SQL).alias("caption"),
    )
    return base.unionByName(dups)


@_register("multimodal_neardup")
def _mmn(spark, sf_dir):
    from .operators import multimodal as MM

    corpus = _mm_corpus(spark, sf_dir)
    out = MM.multimodal_neardup_pairs(corpus, n=_MM_N, policy="both")
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("hamming").cast("long"),
        F.col("jaccard_ppm").cast("long"),
    )


@_oracle("multimodal_neardup")
def _mmn_o():
    ph0 = TS.md5_prefix_int_sql("CAST(doc_id AS VARCHAR)", TS.DUCKDB)
    cap = _MM_CAPTION_SQL.replace("AS STRING", "AS VARCHAR")
    shingle = f"array_to_string(ws[i+1:i+{_MM_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH corpus AS MATERIALIZED (
  SELECT doc_id AS id, {ph0} AS phash, text AS caption FROM documents
  WHERE doc_id < {_MM_CAP}
  UNION ALL
  SELECT doc_id + {_MM_SHIFT}, xor({ph0}, {_MM_MASK_SQL}), {cap}
  FROM documents WHERE doc_id < {_MM_CAP}
),
himg AS MATERIALIZED (
  SELECT l.id AS a, r.id AS b,
         CAST(bit_count(xor(l.phash, r.phash)) AS BIGINT) AS hamming
  FROM corpus l JOIN corpus r ON l.id < r.id
  WHERE bit_count(xor(l.phash, r.phash)) <= 3
),
wsx AS MATERIALIZED (
  SELECT id, list_filter(string_split(caption, ' '), w -> len(w) > 0) AS ws
  FROM corpus
),
sh AS MATERIALIZED (
  SELECT DISTINCT id, {shh} AS shh
  FROM (SELECT id, ws, unnest(range(0, len(ws) - {_MM_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_MM_N}) g
),
sz AS MATERIALIZED (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS MATERIALIZED (
  SELECT l.id AS a, r.id AS b, COUNT(*) AS i
  FROM sh l JOIN sh r USING (shh)
  WHERE l.id < r.id GROUP BY 1, 2
),
txt AS MATERIALIZED (
  SELECT inter.a, inter.b,
         CAST(FLOOR(CAST(inter.i AS DOUBLE)
                    / CAST(sa.sz + sb.sz - inter.i AS DOUBLE)
                    * 1000000.0) AS BIGINT) AS jaccard_ppm
  FROM inter
  JOIN sz sa ON sa.id = inter.a
  JOIN sz sb ON sb.id = inter.b
  WHERE inter.i * 1000000 >= 500000 * (sa.sz + sb.sz - inter.i)
)
SELECT CAST(h.a AS BIGINT) AS a, CAST(h.b AS BIGINT) AS b,
       h.hamming, t.jaccard_ppm
FROM himg h JOIN txt t ON t.a = h.a AND t.b = h.b
"""


# ===========================================================================
# spatial join: points x tile polygons via broadcast bbox-tree + pnpoly
# ===========================================================================

def _polys():
    from .functions import qt_numpy as qtn

    out = []
    pid = 0
    for path in ("AB", "CAD", "BDC", "DAB", "ABCD"):
        cell = 0
        for i, ch in enumerate(path):
            cell |= "ABCD".index(ch) << (61 - 2 * i)
        cell |= len(path)
        a, b, c, d = (int(v) * 1e-7 for v in qtn.as_bbox(np.int64(cell), 0.05))
        out.append((pid, [a, c, c, a], [b, b, d, d]))
        pid += 1
    # concave L-shape and a chevron
    out.append((pid, [0.0, 40.0, 40.0, 20.0, 20.0, 0.0], [0.0, 0.0, 20.0, 20.0, 45.0, 45.0]))
    pid += 1
    out.append((pid, [-60.0, -40.0, -20.0, -40.0], [-10.0, 20.0, -10.0, 40.0]))
    return out


@_register("pip_spatial_join")
def _psj(spark, sf_dir):
    from .gate import _events_points
    from .operators import spatial_join as SJ

    pts = _events_points(spark, sf_dir)
    return SJ.pip_join(pts, _polys(), id_col="event_id").select(
        F.col("id").cast("long"), F.col("poly_id").cast("long")
    )


@_oracle("pip_spatial_join")
def _psj_o():
    from .functions import geo_sql
    from .gate import _events_synth_sql

    parts = []
    for pid, vx, vy in _polys():
        pip = geo_sql.pnpoly_sql(
            vx, vy, "CAST(lon AS DOUBLE) * 0.0000001", "CAST(lat AS DOUBLE) * 0.0000001"
        )
        parts.append(
            f"SELECT CAST(event_id AS BIGINT) AS id, CAST({pid} AS BIGINT) AS poly_id "
            f"FROM ({_events_synth_sql()}) e WHERE {pip}"
        )
    return " UNION ALL ".join(parts)


# ===========================================================================
# IVF ANN: deterministic coarse quantizer (centroids = first 8 vectors),
# probe top-2 clusters, exact top-k inside — the bucketed scale path
# ===========================================================================

_IVF_K = 30
_IVF_CLUSTERS = 8
_IVF_PROBE = 2


def _ivf_inputs(sf_dir: str):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"ORDER BY vec_id LIMIT {_IVF_CLUSTERS + 1}"
    ).fetchall()
    centroids = [[float(x) for x in r[1]] for r in rows[:_IVF_CLUSTERS]]
    query = [float(x) for x in rows[_IVF_CLUSTERS][1]]
    return centroids, query


@_register("ivf_ann_topk")
def _ivf(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    centroids, query = _ivf_inputs(sf_dir)
    out = SIM.ivf_topk(
        emb, query, centroids, k=_IVF_K, n_probe=_IVF_PROBE
    )
    return out.select(
        F.col("vec_id").cast("long"), F.col("score_ppm").cast("long")
    )


@_oracle("ivf_ann_topk")
def _ivf_o():
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    centroids, query = _ivf_inputs(sf_dir)

    def dot_lit(c):
        return " + ".join(
            f"CAST(e.embedding[{i + 1}] AS DOUBLE) * CAST({repr(float(v))} AS DOUBLE)"
            for i, v in enumerate(c)
        )

    dots = [f"({dot_lit(c)})" for c in centroids]
    branches = []
    for j in range(len(centroids)):
        conds = [f"{dots[j]} >= {dots[i]}" for i in range(len(centroids)) if i != j]
        branches.append(f"WHEN {' AND '.join(conds)} THEN {j}")
    assign = f"(CASE {' '.join(branches)} ELSE 0 END)"
    probe_scores = [
        (sum(float(a) * float(b) for a, b in zip(query, c)), j)
        for j, c in enumerate(centroids)
    ]
    probe_ids = sorted(
        j for _, j in sorted(((-s, j) for s, j in probe_scores))[:_IVF_PROBE]
    )
    qdot = " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * CAST({repr(float(v))} AS DOUBLE)"
        for i, v in enumerate(query)
    )
    ids = ", ".join(str(j) for j in probe_ids)
    return (
        f"SELECT CAST(e.vec_id AS BIGINT) AS vec_id, "
        f"CAST(FLOOR(({qdot}) * 1000000.0) AS BIGINT) AS score_ppm "
        f"FROM embeddings e "
        f"WHERE {assign} IN ({ids}) "
        f"ORDER BY ({qdot}) DESC, e.vec_id LIMIT {_IVF_K}"
    )


# ===========================================================================
# S2 cell ids (public S2 algorithm in numpy).  Fully oracled: the float
# path is sin/cos (libm, bit-identical numpy vs DuckDB — verified on this
# platform) + exact IEEE mul/div/sqrt/floor, and the 30-step Hilbert walk
# is pure bit math; functions/s2_sql.py emits the whole pipeline as SQL.
# ===========================================================================

@_register("s2_cells")
def _s2c(spark, sf_dir):
    from pyspark.sql.types import LongType

    from .functions import s2
    from .gate import _events_points

    pts = _events_points(spark, sf_dir)

    @F.pandas_udf(LongType())
    def s2_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        cid = s2.s2_cell_id_fixed(
            lon.to_numpy(np.int64), lat.to_numpy(np.int64)
        )
        return pd.Series(s2.to_signed(cid))

    out = pts.withColumn("s2", s2_udf("lon", "lat"))
    # level-10 rollup exercises parent + grouping
    @F.pandas_udf(LongType())
    def s2_parent10(cid: pd.Series) -> pd.Series:
        from .functions import s2 as _s2

        p = _s2.parent(_s2.from_signed(cid.to_numpy(np.int64)), 10)
        return pd.Series(_s2.to_signed(p))

    return (
        out.withColumn("s2_l10", s2_parent10("s2"))
        .select(
            F.col("event_id").cast("long"),
            F.col("s2").cast("long"),
            F.col("s2_l10").cast("long"),
        )
    )


@_oracle("s2_cells")
def _s2c_o():
    from .functions import s2_sql
    from .gate import _events_synth_sql

    inner = s2_sql.s2_leaf_subquery(
        _events_synth_sql(), "lon", "lat", "s2", ("event_id",)
    )
    p10 = s2_sql.s2_parent_sql("s2", 10)
    return (
        f"SELECT CAST(event_id AS BIGINT) AS event_id, CAST(s2 AS BIGINT) AS s2, "
        f"CAST({p10} AS BIGINT) AS s2_l10 FROM ({inner}) q"
    )


_H3R_FROM = 12
_H3R_LEVELS = (7, 9, 11)


@_register("h3_rollup")
def _h3r(spark, sf_dir):
    # aperture-7 ancestor pyramid: res-12 leafs rolled to 7/9/11
    from pyspark.sql.types import LongType

    from .functions import h3
    from .gate import _events_points
    from .operators import count as CNT

    pts = _events_points(spark, sf_dir)

    @F.pandas_udf(LongType())
    def h3_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        cid = h3.latlng_to_cell(
            lon.to_numpy(np.int64), lat.to_numpy(np.int64), _H3R_FROM
        )
        return pd.Series(cid.astype(np.int64))

    leaf = pts.withColumn("h3", h3_udf("lon", "lat"))
    return CNT.h3_rollup(
        leaf, from_res=_H3R_FROM, levels=_H3R_LEVELS
    ).select(
        F.col("res").cast("long"),
        F.col("cell").cast("long"),
        F.col("cnt").cast("long"),
    )


@_oracle("h3_rollup")
def _h3r_o():
    from .functions import h3_sql
    from .gate import _events_synth_sql

    inner = h3_sql.h3_cell_subquery(
        _events_synth_sql(), _H3R_FROM, "lon", "lat", "h3", ("event_id",)
    )
    levels = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS res, "
        f"CAST({h3_sql.h3_parent_sql('h3', k, _H3R_FROM)} AS BIGINT) AS cell, "
        f"CAST(COUNT(*) AS BIGINT) AS cnt FROM leafs GROUP BY 1, 2"
        for k in _H3R_LEVELS
    )
    return f"WITH leafs AS MATERIALIZED ({inner}) {levels}"


@_register("top_k_per_source")
def _tkps(spark, sf_dir):
    # per-domain curation cut: best 5 docs per source by quality score,
    # deterministic tie-break on doc_id
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = TX.with_quality_score(docs)
    return TX.top_k_per_group(
        scored, group="source", order="quality", k=5
    ).select(
        F.col("doc_id").cast("long"),
        F.col("source"),
        F.col("quality").cast("long"),
        F.col("rk").cast("long"),
    )


@_oracle("top_k_per_source")
def _tkps_o():
    q = TS.quality_score_sql("text")
    return f"""
WITH scored AS MATERIALIZED (
  SELECT doc_id, source, CAST({q} AS BIGINT) AS quality FROM documents
),
ranked AS (
  SELECT doc_id, source, quality,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(quality AS BIGINT) AS quality, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 5
"""


_S2R_LEVELS = (7, 10, 12)


@_register("s2_rollup")
def _s2r(spark, sf_dir):
    # ancestor pyramid over the S2 index at the BASELINE res-7..12 band
    from pyspark.sql.types import LongType

    from .functions import s2
    from .gate import _events_points
    from .operators import count as CNT

    pts = _events_points(spark, sf_dir)

    @F.pandas_udf(LongType())
    def s2_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        cid = s2.s2_cell_id_fixed(
            lon.to_numpy(np.int64), lat.to_numpy(np.int64)
        )
        return pd.Series(s2.to_signed(cid))

    leaf = pts.withColumn("s2", s2_udf("lon", "lat"))
    return CNT.s2_rollup(leaf, levels=_S2R_LEVELS).select(
        F.col("level").cast("long"),
        F.col("cell").cast("long"),
        F.col("cnt").cast("long"),
    )


@_oracle("s2_rollup")
def _s2r_o():
    from .functions import s2_sql
    from .gate import _events_synth_sql

    inner = s2_sql.s2_leaf_subquery(
        _events_synth_sql(), "lon", "lat", "s2", ("event_id",)
    )
    levels = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS level, "
        f"CAST({s2_sql.s2_parent_sql('s2', k)} AS BIGINT) AS cell, "
        f"CAST(COUNT(*) AS BIGINT) AS cnt FROM leafs GROUP BY 1, 2"
        for k in _S2R_LEVELS
    )
    return f"WITH leafs AS MATERIALIZED ({inner}) {levels}"


# ===========================================================================
# H3-style hex cells (public-spec aperture-7 algorithm in numpy).  Fully
# oracled: the encode was shaped so its float path is sin/cos + exact IEEE
# arithmetic (constant rotation matrix instead of hypot/atan2 — numpy's
# SIMD kernels for those are NOT libm-identical), and h3_sql.py emits the
# identical pipeline as DuckDB SQL, including the aperture-7 digit ladder.
# ===========================================================================

@_register("h3_cells")
def _h3c(spark, sf_dir):
    from pyspark.sql.types import LongType

    from .functions import h3
    from .gate import _events_points

    pts = _events_points(spark, sf_dir)

    @F.pandas_udf(LongType())
    def h3_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        cid = h3.latlng_to_cell(
            lon.to_numpy(np.int64), lat.to_numpy(np.int64), 9
        )
        return pd.Series(h3.to_signed(cid))

    @F.pandas_udf(LongType())
    def h3_parent7(cid: pd.Series) -> pd.Series:
        from .functions import h3 as _h3

        p = _h3.cell_to_parent(_h3.from_signed(cid.to_numpy(np.int64)), 7)
        return pd.Series(_h3.to_signed(p))

    out = pts.withColumn("h3", h3_udf("lon", "lat"))
    return out.withColumn("h3_r7", h3_parent7("h3")).select(
        F.col("event_id").cast("long"),
        F.col("h3").cast("long"),
        F.col("h3_r7").cast("long"),
    )


@_oracle("h3_cells")
def _h3c_o():
    from .functions import h3_sql
    from .gate import _events_synth_sql

    inner = h3_sql.h3_cell_subquery(
        _events_synth_sql(), 9, "lon", "lat", "h3", ("event_id",)
    )
    p7 = h3_sql.h3_parent_sql("h3", 7, 9)
    return (
        f"SELECT CAST(event_id AS BIGINT) AS event_id, CAST(h3 AS BIGINT) AS h3, "
        f"CAST({p7} AS BIGINT) AS h3_r7 FROM ({inner}) q"
    )


# ===========================================================================
# SimHash Hamming near-dup pairs on the planted-duplicate corpus
# ===========================================================================

@_register("simhash_neardup")
def _shn(spark, sf_dir):
    docs = _doubled_docs(spark, sf_dir)
    sigs = D.simhash64(docs)
    return D.simhash_neardup_pairs(sigs, max_hamming=3).select(
        F.col("a").cast("long"), F.col("b").cast("long"), F.col("hamming").cast("long")
    )


@_oracle("simhash_neardup")
def _shn_o():
    wh_expr = TS.minhash_word_hash_sql("w", TS.DUCKDB)
    sums = []
    for i in range(32):
        sums.append(f"SUM(CASE WHEN ((wh >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}")
        sums.append(
            f"SUM(CASE WHEN ((wh2 >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i + 32}"
        )
    bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(63)
    )
    return f"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {_DOCS2_CAP}
  UNION ALL SELECT doc_id + {_DUP_SHIFT}, text FROM documents
  WHERE doc_id < {_DOCS2_CAP}
),
words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs),
wh0 AS (SELECT doc_id, {wh_expr} AS wh FROM words WHERE length(w) > 0),
whx AS (SELECT doc_id, wh, (wh * 69069 + 362437) % {TS.MINHASH_P} AS wh2 FROM wh0),
agg AS (SELECT doc_id, {', '.join(sums)} FROM whx GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM agg)
SELECT CAST(l.doc_id AS BIGINT) AS a, CAST(r.doc_id AS BIGINT) AS b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
FROM sh l JOIN sh r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
"""


# ===========================================================================
# BPE-ish subword token counting (regex pre-tokenizer; identical under
# Java regex and RE2 for pure character classes)
# ===========================================================================

@_register("token_count_bpe")
def _tcb(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    out = TX.with_bpe_token_count(TX.with_token_count(docs))
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("n_subtokens").cast("long"),
    )


@_oracle("token_count_bpe")
def _tcb_o():
    return (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"CAST({TS.token_count_sql('text')} AS BIGINT) AS n_tokens, "
        f"CAST({TS.bpe_token_count_sql('text', TS.DUCKDB)} AS BIGINT) AS n_subtokens "
        f"FROM documents"
    )


# ===========================================================================
# per-label embedding centroids in exact integer space (k-means / IVF
# training step; quantized so distributed partial sums are exact)
# ===========================================================================

@_register("label_centroids")
def _lc(spark, sf_dir):
    emb = _ts(spark, sf_dir, "embeddings")
    return SIM.label_centroids(emb).select(
        F.col("label").cast("long"),
        F.col("dim").cast("long"),
        F.col("sum_q").cast("long"),
        F.col("n").cast("long"),
    )


@_oracle("label_centroids")
def _lc_o():
    return """
SELECT CAST(label AS BIGINT) AS label, CAST(t.i AS BIGINT) AS dim,
       CAST(SUM(CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS sum_q,
       CAST(COUNT(*) AS BIGINT) AS n
FROM embeddings, range(0, 64) t(i)
GROUP BY label, t.i
"""


# ===========================================================================
# n-gram repetition ratio (boilerplate/template quality signal)
# ===========================================================================

_REP_N = 3


@_register("repetition_ratio")
def _rep(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    out = TX.with_repetition_ratio(docs, n=_REP_N)
    return out.select(
        F.col("doc_id").cast("long"), F.col("n_ngrams"), F.col("rep_ppm")
    )


@_oracle("repetition_ratio")
def _rep_o():
    # words via the same empty-token filter; n-grams by 1-based list
    # indexing over a positions range; ratio mirrors the FLOOR-ppm math
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
k AS (
  SELECT doc_id, ws, GREATEST(len(ws) - {_REP_N - 1}, 0) AS kk FROM t
),
g AS (
  SELECT doc_id,
         (ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3]) AS ng
  FROM (SELECT doc_id, ws, unnest(range(0, kk)) AS i FROM k) __g
),
agg AS (
  SELECT doc_id, COUNT(*) AS total, COUNT(DISTINCT ng) AS dn
  FROM g GROUP BY doc_id
)
SELECT CAST(k.doc_id AS BIGINT) AS doc_id,
       CAST(k.kk AS BIGINT) AS n_ngrams,
       CAST(CASE WHEN k.kk >= 1
            THEN FLOOR((1.0 - CAST(a.dn AS DOUBLE) / a.total) * 1000000.0)
            ELSE 0 END AS BIGINT) AS rep_ppm
FROM k LEFT JOIN agg a ON a.doc_id = k.doc_id
"""


# ===========================================================================
# int8 embedding quantization (per-vector symmetric scale, FLOOR-exact)
# ===========================================================================

@_register("quantize_int8")
def _qi8(spark, sf_dir):
    emb = _ts(spark, sf_dir, "embeddings")
    # posexplode_OUTER: plain posexplode makes InferFiltersFromGenerate
    # synthesize `size(q) > 0 AND isnotnull(q)`, and predicate pushdown
    # re-inlines the whole quantize expression (per-element amax — the
    # no-cost-model pushdown trap) into a scan-stage filter, measured at
    # ~5 s vs ~1 s at the driver's SF.  q always has one entry per
    # embedding dimension, so outer emits identical rows.
    out = pin(SIM.quantize_int8(emb))
    return out.select(
        F.col("vec_id").cast("long"),
        F.col("scale_ppm"),
        F.posexplode_outer("q").alias("dim", "qv"),
    ).select(
        "vec_id",
        "scale_ppm",
        F.col("dim").cast("long"),
        F.col("qv").cast("long"),
    )


@_oracle("quantize_int8")
def _qi8_o():
    return """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(FLOOR(amax * 1000000.0) AS BIGINT) AS scale_ppm,
       CAST(t.i AS BIGINT) AS dim,
       CAST(CASE WHEN amax = 0
                 THEN 0
                 ELSE FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) / amax * 127.0)
            END AS BIGINT) AS qv
FROM (SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings) e, range(0, 64) t(i)
"""


# ===========================================================================
# k-means (IVF training loop) in exact integer space: deterministic init,
# bit-exact float-x-int-literal argmax assignment, integer centroid
# updates — the whole Lloyd iteration reproduces identically in DuckDB
# (the oracle re-runs the same iterations on the DuckDB side)
# ===========================================================================

_KM_K = 8
_KM_ITERS = 3
_KM_QUANT = 1000
_KM_DIM = 64


@_register("kmeans_clusters")
def _km(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out, _ = SIM.kmeans_quantized(
        emb, k=_KM_K, iters=_KM_ITERS, quant=_KM_QUANT
    )
    return out


def _km_dot_sql(c) -> str:
    # left-to-right float-read x int-literal sum — the DuckDB text twin of
    # plane_proj_expr's zip_with/aggregate fold
    return " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * ({int(w)})" for i, w in enumerate(c)
    )


@_oracle("kmeans_clusters")
def _km_o():
    import math
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    rows = con.execute(
        f"SELECT embedding FROM embeddings ORDER BY vec_id LIMIT {_KM_K}"
    ).fetchall()
    cents = [
        [int(math.floor(float(x) * _KM_QUANT)) for x in r[0]] for r in rows
    ]

    def assign_sql(cs) -> str:
        k = len(cs)
        dcols = ", ".join(f"({_km_dot_sql(c)}) AS d{j}" for j, c in enumerate(cs))
        best = "GREATEST(" + ", ".join(f"d{j}" for j in range(k)) + ")"
        case = " ".join(f"WHEN d{j} = best THEN {j}" for j in range(k))
        return (
            f"SELECT vec_id, (CASE {case} END) AS c FROM ("
            f"SELECT e.vec_id AS vec_id, {dcols}, {best} AS best "
            f"FROM embeddings e) __b"
        )

    for _ in range(_KM_ITERS):
        stats = con.execute(
            f"WITH a AS MATERIALIZED ({assign_sql(cents)}) "
            f"SELECT a.c, t.i AS dim, "
            f"SUM(CAST(FLOOR(CAST(e.embedding[t.i + 1] AS DOUBLE) "
            f"* {_KM_QUANT}) AS BIGINT)) AS s, COUNT(*) AS n "
            f"FROM a JOIN embeddings e ON a.vec_id = e.vec_id "
            f"CROSS JOIN range(0, {_KM_DIM}) t(i) GROUP BY a.c, t.i"
        ).fetchall()
        new = [list(c) for c in cents]
        for c, d, s, n in stats:
            new[int(c)][int(d)] = int(s) // int(n)
        cents = new
    return (
        f"SELECT CAST(vec_id AS BIGINT) AS vec_id, "
        f"CAST(c AS BIGINT) AS cluster FROM ({assign_sql(cents)}) __f"
    )


# ===========================================================================
# OSC change-file parse: deterministic XML generated from `orders`, parsed
# by the real parser (sources/osc.py incl. max-version dedup and fixed-
# point coordinate rounding); oracle derives the same rows relationally
# ===========================================================================

def _osc_xml(sf_dir: str) -> str:
    con = duckdb.connect()
    keys = [
        int(r[0])
        for r in con.execute(
            f"SELECT o_orderkey FROM read_parquet('{sf_dir}/orders.parquet') "
            f"WHERE o_orderkey < {_ORDERS_CAP} ORDER BY o_orderkey"
        ).fetchall()
    ]
    secs = {"create": [], "modify": [], "delete": []}
    names = ["create", "modify", "delete"]
    for k in keys:
        nid = (k - (k % 2)) // 2
        ver = k % 7
        lon = ((k * 7919) % 3600000000) - 1800000000
        lat = ((k * 104729) % 1800000000) - 900000000
        secs[names[k % 3]].append(
            f'<node id="{nid}" version="{ver}" '
            f'lon="{lon / 1e7:.7f}" lat="{lat / 1e7:.7f}"/>'
        )
    body = "".join(
        f"<{s}>{''.join(rows)}</{s}>" for s, rows in secs.items() if rows
    )
    return f"<osmChange>{body}</osmChange>"


@_register("osc_parse")
def _osc(spark, sf_dir):
    from .sources import osc as OSC

    nodes, _, _ = OSC.osc_to_dfs(spark, _osc_xml(sf_dir))
    return nodes.select(
        F.col("id").cast("long"),
        F.col("version").cast("long"),
        F.col("changetype").cast("long"),
        F.col("lon").cast("long"),
        F.col("lat").cast("long"),
    )


@_oracle("osc_parse")
def _osc_o():
    # changetype mapping: create=5, modify=4, delete=1 (operators/merge.py)
    return f"""
WITH s AS (
  SELECT CAST((o_orderkey - (o_orderkey % 2)) / 2 AS BIGINT) AS id,
         CAST(o_orderkey % 7 AS BIGINT) AS version,
         CAST(CASE o_orderkey % 3 WHEN 0 THEN 5 WHEN 1 THEN 4 ELSE 1 END AS BIGINT)
           AS changetype,
         CAST((o_orderkey * 7919) % 3600000000 - 1800000000 AS BIGINT) AS lon,
         CAST((o_orderkey * 104729) % 1800000000 - 900000000 AS BIGINT) AS lat
  FROM orders WHERE o_orderkey < {_ORDERS_CAP}
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY version DESC) AS rn FROM s
)
SELECT id, version, changetype, lon, lat FROM r WHERE rn = 1
"""


# ===========================================================================
# connected components over the near-dup pair graph (duplicate CLUSTERS,
# not just pairs — transitive closure).  Spark: min-label propagation, one
# shuffle per round, O(diameter) rounds.  Oracle: DuckDB recursive CTE
# transitive closure (test-scale) over the same simhash pair derivation.
# ===========================================================================

@_register("dup_components")
def _dcc(spark, sf_dir):
    docs = _doubled_docs(spark, sf_dir)
    sigs = D.simhash64(docs)
    pairs = D.simhash_neardup_pairs(sigs, max_hamming=3)
    comps = D.connected_components(docs.select("doc_id"), pairs)
    return comps.select(
        F.col("doc_id").cast("long"), F.col("comp").cast("long")
    )


@_oracle("dup_components")
def _dcc_o():
    pairs_sql = _shn_o()
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
verts AS (
  SELECT doc_id FROM documents WHERE doc_id < {_DOCS2_CAP}
  UNION ALL SELECT doc_id + {_DUP_SHIFT} FROM documents
  WHERE doc_id < {_DOCS2_CAP}
),
edges AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
),
reach(id, r) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM verts
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS comp
FROM reach GROUP BY id
"""


# ===========================================================================
# deterministic train/val hash split + top-k vocabulary (tokenizer prep)
# ===========================================================================

@_register("hash_split")
def _hsp(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return TX.hash_split(docs).select(
        F.col("doc_id").cast("long"), F.col("split")
    )


@_oracle("hash_split")
def _hsp_o():
    h = TS.md5_prefix_int_sql(
        "concat('split-v1', ':', CAST(doc_id AS VARCHAR))", TS.DUCKDB
    )
    return (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"CASE WHEN ({h}) % 100 < 90 THEN 'train' ELSE 'val' END AS split "
        f"FROM documents"
    )


_SAMPLE_PPM = 250000


@_register("sample_by_hash")
def _sbh(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return TX.sample_by_hash(docs, rate_ppm=_SAMPLE_PPM).select(
        F.col("doc_id").cast("long"), F.col("n_chars").cast("long")
    )


@_oracle("sample_by_hash")
def _sbh_o():
    h = TS.md5_prefix_int_sql(
        "concat('sample-v1', ':', CAST(doc_id AS VARCHAR))", TS.DUCKDB
    )
    threshold = (_SAMPLE_PPM * (1 << 60)) // 1000000
    return (
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, "
        f"CAST(n_chars AS BIGINT) AS n_chars "
        f"FROM documents WHERE ({h}) < {threshold}"
    )


_VOCAB_K = 100


@_register("top_vocabulary")
def _tv(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents")
    return TX.top_vocabulary(docs, k=_VOCAB_K).select(
        F.col("word"), F.col("cnt").cast("long"), F.col("rank").cast("long")
    )


@_oracle("top_vocabulary")
def _tv_o():
    return f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM words
  WHERE length(word) > 0 GROUP BY word
)
SELECT word, cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank
FROM counts ORDER BY cnt DESC, word LIMIT {_VOCAB_K}
"""


# ===========================================================================
# exact per-group quantiles (profiling): rank-based, integer-exact in
# both engines (approx_percentile sketches would diverge per engine)
# ===========================================================================

@_register("token_quantiles_by_source")
def _tqs(spark, sf_dir):
    from .operators import stats as ST

    docs = TX.with_token_count(_ts(spark, sf_dir, "documents"))
    out = ST.group_quantiles(docs, "source", "n_tokens", "doc_id")
    return out.select(
        F.col("source"),
        F.col("n").cast("long"),
        F.col("vmin").cast("long"),
        F.col("vmax").cast("long"),
        F.col("median_x2").cast("long"),
        F.col("p90").cast("long"),
    )


@_oracle("token_quantiles_by_source")
def _tqs_o():
    toks = TS.token_count_sql("text")
    return f"""
WITH d AS (
  SELECT source, doc_id, CAST({toks} AS BIGINT) AS v FROM documents
),
r AS (
  SELECT source, v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(v) AS BIGINT) AS vmin, CAST(MAX(v) AS BIGINT) AS vmax,
       CAST(CASE WHEN MAX(n) % 2 = 1
            THEN SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN v ELSE 0 END) * 2
            ELSE SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN v ELSE 0 END)
            END AS BIGINT) AS median_x2,
       CAST(SUM(CASE WHEN rn = CAST(CEIL(n * 9 / 10.0) AS BIGINT) THEN v ELSE 0 END)
            AS BIGINT) AS p90
FROM r GROUP BY source
"""


# ===========================================================================
# raster materialization.  Fully oracled: the gate output (tile, n_images,
# max_count) is computed relationally — footprints x 64x64 grid cells
# equi-joined per tile, coverage counted per pixel, MAX per tile — which
# is exactly what render_tile's difference-array accumulation computes.
# Tile routing reuses the INDEPENDENT insertion-order oracle tree
# (tests/oracle_tiles.py) and tile bboxes come from the independent scalar
# as_bbox (tests/oracle_qt.py); pixel rects use the same trunc-toward-zero
# + clip float math as render_tile (exact IEEE, verified bit-for-bit).
# The PNG bytes themselves stay pytest-verified (tests/test_raster.py).
# ===========================================================================

_RT_N = 20000
_RT_TARGET = 4000
_RT_SIZE = 64


@_register("raster_tiles")
def _rt(spark, sf_dir):
    from .functions import qt_spark as qs
    from .operators import raster as RA
    from .plans import pipeline as P

    base = spark.range(_RT_N).select(F.col("id"))
    fp = P.with_synth_footprint(base, "id")
    with_qt = qs.with_bbox_qt(fp, "minlon", "minlat", "maxlon", "maxlat", "qt")
    assigned, _ = P.assign_tiles(
        with_qt, "qt", None, target=_RT_TARGET, persist=False
    )
    rasters = RA.materialize_raster_tiles(
        assigned.select("tile", "minlon", "minlat", "maxlon", "maxlat"),
        size=_RT_SIZE,
    )
    return rasters.select(
        F.col("tile").cast("long"),
        F.col("n_images").cast("long"),
        F.col("max_count").cast("long"),
    )


@_oracle("raster_tiles")
def _rt_o():
    import os
    import sys

    from .functions import qt_sql as qsql
    from .gate import _oracle_route_sql, _oracle_synth_groups
    from .sources import synth

    tests_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
    )
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    import oracle_qt as OQ

    e = synth.synth_geo_exprs("id")
    base = (
        f"SELECT id, {e['minlon']} AS minlon, {e['minlat']} AS minlat, "
        f"{e['maxlon']} AS maxlon, {e['maxlat']} AS maxlat "
        f"FROM range({_RT_N}) t(id)"
    )
    enc = qsql.qt_calculate_subquery(
        base,
        "minlon",
        "minlat",
        "maxlon",
        "maxlat",
        "qt",
        ("id", "minlon", "minlat", "maxlon", "maxlat"),
    )
    gcells, gvals = _oracle_synth_groups(_RT_N, _RT_TARGET)
    # tile bboxes + pixel scale factors from the INDEPENDENT scalar
    # as_bbox (tile 0 included for the COALESCE fallback), mirroring
    # render_tile's sx = size / max(extent, 1) python-float division
    tb_rows = []
    for t in sorted({0, *(int(c) for c in gcells)}):
        mnl, mnt, mxl, mxt = (int(v) for v in OQ.as_bbox(t, 0.05))
        sx = _RT_SIZE / max(mxl - mnl, 1)
        sy = _RT_SIZE / max(mxt - mnt, 1)
        tb_rows.append(
            f"({t}, {mnl}, {mnt}, {mxl}, {mxt}, "
            f"CAST({sx!r} AS DOUBLE), CAST({sy!r} AS DOUBLE))"
        )
    tbvals = ", ".join(tb_rows)
    hi = _RT_SIZE - 1

    def _px(v: str) -> str:
        # numpy .astype(int64) truncates toward zero, then np.clip
        return f"GREATEST(LEAST(CAST(TRUNC({v}) AS BIGINT), {hi}), 0)"

    return f"""
WITH enc AS ({enc}),
groups(cell, d) AS (VALUES {gvals}),
assigned AS (
  SELECT q.id, q.minlon, q.minlat, q.maxlon, q.maxlat,
         {_oracle_route_sql('q.qt')} AS tile
  FROM enc q),
tb(tile, tminlon, tminlat, tmaxlon, tmaxlat, sx, sy) AS (VALUES {tbvals}),
px AS (
  SELECT a.tile,
         {_px("CAST(a.minlon - tb.tminlon AS DOUBLE) * tb.sx")} AS x0,
         {_px("CAST(a.maxlon - tb.tminlon AS DOUBLE) * tb.sx")} AS x1,
         {_px("CAST(tb.tmaxlat - a.maxlat AS DOUBLE) * tb.sy")} AS y0,
         {_px("CAST(tb.tmaxlat - a.minlat AS DOUBLE) * tb.sy")} AS y1
  FROM assigned a JOIN tb ON a.tile = tb.tile),
cells AS (
  SELECT t.tile, gx.range AS cx, gy.range AS cy
  FROM (SELECT DISTINCT tile FROM px) t, range({_RT_SIZE}) gx, range({_RT_SIZE}) gy),
cov AS (
  SELECT c.tile, c.cx, c.cy, COUNT(*) AS cnt
  FROM cells c JOIN px p
    ON p.tile = c.tile AND c.cx BETWEEN p.x0 AND p.x1
   AND c.cy BETWEEN p.y0 AND p.y1
  GROUP BY c.tile, c.cx, c.cy)
SELECT CAST(n.tile AS BIGINT) AS tile,
       CAST(n.n_images AS BIGINT) AS n_images,
       CAST(m.max_count AS BIGINT) AS max_count
FROM (SELECT tile, COUNT(*) AS n_images FROM assigned GROUP BY tile) n
JOIN (SELECT tile, MAX(cnt) AS max_count FROM cov GROUP BY tile) m
  ON n.tile = m.tile
"""


# ===========================================================================
# count-min sketch + heavy hitters (bounded-memory frequency estimation;
# operators/sketch.py).  The corpus is enriched with two per-doc unique
# tokens so the vocabulary (~1k) exceeds the sketch width (256) and
# collisions genuinely occur; heavy_hitters' sketch prefilter must still
# return the EXACT answer (count-min never under-counts -> recall 1, the
# verify aggregate restores precision), so its oracle is the direct
# exact computation.
# ===========================================================================

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_THRESHOLD = 100
_CMS_TEXT_SPARK = "concat(text, ' u', CAST(doc_id AS STRING), ' u', CAST(doc_id AS STRING))"
_CMS_TEXT_DUCK = _CMS_TEXT_SPARK.replace("AS STRING", "AS VARCHAR")


def _cms_corpus(spark, sf_dir):
    return _ts(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_CMS_TEXT_SPARK).alias("text")
    )


@_register("cms_sketch")
def _cms(spark, sf_dir):
    from .operators import sketch as SK

    out = SK.count_min_sketch(
        _cms_corpus(spark, sf_dir), depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return out.select(
        F.col("d").cast("long"),
        F.col("bucket").cast("long"),
        F.col("cnt").cast("long"),
    )


@_oracle("cms_sketch")
def _cms_o():
    from .operators import sketch as SK

    inner = f"SELECT doc_id, {_CMS_TEXT_DUCK} AS text FROM documents"
    return SK.cms_bucket_oracle_sql(
        f"({inner})", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )


@_register("heavy_hitter_tokens")
def _hht(spark, sf_dir):
    from .operators import sketch as SK

    out = SK.heavy_hitters(
        _cms_corpus(spark, sf_dir),
        threshold=_CMS_THRESHOLD,
        depth=_CMS_DEPTH,
        width=_CMS_WIDTH,
    )
    return out.select(F.col("word"), F.col("cnt").cast("long"))


@_oracle("heavy_hitter_tokens")
def _hht_o():
    return f"""
WITH corpus AS MATERIALIZED (
  SELECT doc_id, {_CMS_TEXT_DUCK} AS text FROM documents
),
words AS MATERIALIZED (
  SELECT unnest(string_split(text, ' ')) AS word FROM corpus
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM words WHERE length(word) > 0
GROUP BY word HAVING COUNT(*) >= {_CMS_THRESHOLD}
"""


# ===========================================================================
# batched IVF ANN join: every query row gets its exact top-k within its
# n_probe best clusters (operators/similarity.ivf_topk_join).  Queries
# are the first _ANNJ_NQ embedding rows; centroids reuse _ivf_inputs.
# All dots are pinned left-to-right float folds on both engines.
# ===========================================================================

_ANNJ_NQ = 5
_ANNJ_K = 10


@_register("ann_topk_join")
def _annj(spark, sf_dir):
    emb = _ts(spark, sf_dir, "embeddings")
    centroids, _ = _ivf_inputs(sf_dir)
    queries = emb.filter(F.col("vec_id") < _ANNJ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = SIM.ivf_topk_join(
        queries, emb, centroids, k=_ANNJ_K, n_probe=_IVF_PROBE,
        q_vec_col="embedding",
    )
    return out.select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long"),
        F.col("score_ppm").cast("long"),
        F.col("rk").cast("long"),
    )


@_oracle("ann_topk_join")
def _annj_o():
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    centroids, _ = _ivf_inputs(sf_dir)
    dim = len(centroids[0])

    def dot_lit(tbl, c):
        return " + ".join(
            f"CAST({tbl}.embedding[{i + 1}] AS DOUBLE) * CAST({repr(float(v))} AS DOUBLE)"
            for i, v in enumerate(c)
        )

    # per-query centroid dots, one UNION arm per centroid
    arms = " UNION ALL ".join(
        f"SELECT q.vec_id AS query_id, CAST({j} AS BIGINT) AS cl, "
        f"({dot_lit('q', c)}) AS cd FROM q"
        for j, c in enumerate(centroids)
    )
    # corpus argmax assignment (weak >= toward earlier j = first max wins)
    dots = [f"({dot_lit('e', c)})" for c in centroids]
    branches = []
    for j in range(len(centroids)):
        conds = [f"{dots[j]} >= {dots[i]}" for i in range(len(centroids)) if i != j]
        branches.append(f"WHEN {' AND '.join(conds)} THEN {j}")
    assign = f"(CASE {' '.join(branches)} ELSE 0 END)"
    pair_dot = " + ".join(
        f"CAST(q.embedding[{i + 1}] AS DOUBLE) * CAST(e.embedding[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_ANNJ_NQ}
),
qdots AS MATERIALIZED ({arms}),
probes AS MATERIALIZED (
  SELECT query_id, cl FROM (
    SELECT query_id, cl,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cd DESC, cl) AS pr
    FROM qdots
  ) WHERE pr <= {_IVF_PROBE}
),
corp AS MATERIALIZED (
  SELECT vec_id, embedding, CAST({assign} AS BIGINT) AS cl FROM embeddings e
),
scored AS MATERIALIZED (
  SELECT p.query_id, e.vec_id, ({pair_dot}) AS d
  FROM probes p
  JOIN corp e ON e.cl = p.cl
  JOIN q ON q.vec_id = p.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(FLOOR(d * 1000000.0) AS BIGINT) AS score_ppm, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT query_id, vec_id, d,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {_ANNJ_K}
"""


# ===========================================================================
# token co-occurrence (skip-gram counts): exact forward window counts,
# the integer substrate of PMI / embedding training (operators/text.py)
# ===========================================================================

_COOC_WINDOW = 3


@_register("token_cooccurrence")
def _cooc(spark, sf_dir):
    out = TX.token_cooccurrence(
        _ts(spark, sf_dir, "documents"), window=_COOC_WINDOW
    )
    return out.select("w_a", "w_b", F.col("cnt").cast("long"))


@_oracle("token_cooccurrence")
def _cooc_o():
    return f"""
WITH wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
toks AS MATERIALIZED (
  SELECT doc_id, i AS pos, ws[i + 1] AS w
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS i
        FROM wsx WHERE len(ws) > 0) g
)
SELECT a.w AS w_a, b.w AS w_b, CAST(COUNT(*) AS BIGINT) AS cnt
FROM toks a JOIN toks b
  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + {_COOC_WINDOW}
GROUP BY 1, 2
"""


# ===========================================================================
# fraction-based curation cut: best 40% per source by quality
# (operators/text.top_frac_per_group — the percentage twin of the
# top_k_per_source gate)
# ===========================================================================

_TFPS_FRAC_PPM = 400000


@_register("top_frac_per_source")
def _tfps(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = TX.with_quality_score(docs)
    out = TX.top_frac_per_group(
        scored, group="source", order="quality", frac_ppm=_TFPS_FRAC_PPM
    )
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("source"),
        F.col("quality").cast("long"),
        F.col("rk").cast("long"),
    )


@_oracle("top_frac_per_source")
def _tfps_o():
    q = TS.quality_score_sql("text")
    return f"""
WITH scored AS MATERIALIZED (
  SELECT doc_id, source, CAST({q} AS BIGINT) AS quality FROM documents
),
counts AS MATERIALIZED (
  SELECT source, CAST(FLOOR(COUNT(*) * {_TFPS_FRAC_PPM} / 1000000) AS BIGINT) AS kg
  FROM scored GROUP BY source
),
ranked AS MATERIALIZED (
  SELECT doc_id, source, quality,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.source,
       CAST(r.quality AS BIGINT) AS quality, CAST(r.rk AS BIGINT) AS rk
FROM ranked r JOIN counts c ON r.source = c.source
WHERE r.rk <= c.kg
"""


# ===========================================================================
# deterministic random-projection dim reduction (JL compressor):
# 64 floats -> 8 quantized ints per vector, engine-exact
# (operators/similarity.random_projection)
# ===========================================================================

_RP_OUT = 8
_RP_QUANT = 1000
_RP_DIM = 64


@_register("random_projection")
def _rp(spark, sf_dir):
    emb = _ts(spark, sf_dir, "embeddings")
    out = SIM.random_projection(
        emb, out_dim=_RP_OUT, quant=_RP_QUANT, dim=_RP_DIM
    )
    return out.select(
        F.col("vec_id").cast("long"),
        *[F.col(f"rp{d}").cast("long") for d in range(_RP_OUT)],
    )


@_oracle("random_projection")
def _rp_o():
    sels = []
    for d in range(_RP_OUT):
        w = SIM.plane_weights(d, _RP_DIM)
        dot = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {w[i]}" for i in range(_RP_DIM)
        )
        sels.append(f"CAST(FLOOR(({dot}) * {_RP_QUANT}) AS BIGINT) AS rp{d}")
    return (
        f"SELECT CAST(vec_id AS BIGINT) AS vec_id, {', '.join(sels)} "
        f"FROM embeddings"
    )


# ===========================================================================
# compress-then-rescore ANN: coarse integer top-C in rp space, exact dot
# rescoring of the candidates (operators/similarity.rp_topk)
# ===========================================================================

_RPT_K = 10
_RPT_CAND = 40


@_register("rp_topk_rescore")
def _rpt(spark, sf_dir):
    emb = _ts(spark, sf_dir, "embeddings")
    _, query = _ivf_inputs(sf_dir)
    out = SIM.rp_topk(
        emb, query, k=_RPT_K, candidates=_RPT_CAND,
        out_dim=_RP_OUT, quant=_RP_QUANT,
    )
    return out.select(
        F.col("vec_id").cast("long"), F.col("score_ppm").cast("long")
    )


@_oracle("rp_topk_rescore")
def _rpt_o():
    import math
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    _, query = _ivf_inputs(sf_dir)
    rps, qrp = [], []
    for d in range(_RP_OUT):
        w = SIM.plane_weights(d, _RP_DIM)
        dot = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {w[i]}" for i in range(_RP_DIM)
        )
        rps.append(f"CAST(FLOOR(({dot}) * {_RP_QUANT}) AS BIGINT) AS rp{d}")
        qrp.append(
            math.floor(sum(float(x) * wi for x, wi in zip(query, w)) * _RP_QUANT)
        )
    dist = " + ".join(
        f"(rp{d} - ({qrp[d]})) * (rp{d} - ({qrp[d]}))" for d in range(_RP_OUT)
    )
    qdot = " + ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) * CAST({repr(float(v))} AS DOUBLE)"
        for i, v in enumerate(query)
    )
    return f"""
WITH rp AS MATERIALIZED (
  SELECT vec_id, embedding, {", ".join(rps)} FROM embeddings
),
cand AS MATERIALIZED (
  SELECT vec_id, embedding FROM rp
  ORDER BY ({dist}) ASC, vec_id ASC LIMIT {_RPT_CAND}
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(FLOOR(({qdot}) * 1000000.0) AS BIGINT) AS score_ppm
FROM cand ORDER BY ({qdot}) DESC, vec_id ASC LIMIT {_RPT_K}
"""


# ===========================================================================
# end-to-end curation pipeline v2: langid -> quality -> normalized exact
# dedup keepers -> 40%-per-source top_frac cut -> per-source stats.
# Extends corpus_clean_stats with the percentage curation cut as the
# final stage, pinning the interaction of all four stages.
# ===========================================================================

_CUT_FRAC_PPM = 400000


@_register("curation_cut_stats")
def _cut(spark, sf_dir):
    from pyspark.sql import Window

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source", "text")
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"), "source", "text"
        )
    )
    scored = TX.with_langid(TX.with_quality_score(TX.with_token_count(doubled)))
    kept = scored.filter(
        (F.col("en_score") >= _CC_EN_MIN) & (F.col("quality") >= _CC_Q_MIN)
    )
    w = Window.partitionBy(F.md5("text"))
    final = kept.withColumn("__keep", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("__keep")
    ).drop("__keep")
    # the histogram-refinement cut drives several aggregate-only rounds
    # over `final`; checkpoint it so each round scans the materialized
    # frame instead of re-running the langid/quality regex chain (the
    # image-curation gate's r7 fix, same reason)
    final = final.localCheckpoint(eager=True)
    cut = TX.top_frac_per_group(
        final, group="source", order="quality", frac_ppm=_CUT_FRAC_PPM
    )
    return cut.groupBy("source").agg(
        F.count("*").cast("long").alias("n_cut"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.max("rk").cast("long").alias("max_rk"),
    )


@_oracle("curation_cut_stats")
def _cut_o():
    en = TS.langid_score_sql("text")
    q = TS.quality_score_sql("text")
    tok = TS.token_count_sql("text")
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT}, source, text FROM documents
),
scored AS MATERIALIZED (
  SELECT doc_id, source, text,
         CAST({en} AS BIGINT) AS en,
         CAST({q} AS BIGINT) AS q,
         CAST({tok} AS BIGINT) AS toks
  FROM docs
),
kept AS MATERIALIZED (
  SELECT * FROM scored WHERE en >= {_CC_EN_MIN} AND q >= {_CC_Q_MIN}
),
keepers AS MATERIALIZED (
  SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM kept GROUP BY md5(text)
),
final AS MATERIALIZED (
  SELECT s.doc_id, s.source, s.q, s.toks
  FROM kept s JOIN keepers k ON s.doc_id = k.keeper
),
counts AS MATERIALIZED (
  SELECT source,
         CAST(FLOOR(COUNT(*) * {_CUT_FRAC_PPM} / 1000000) AS BIGINT) AS kg
  FROM final GROUP BY source
),
ranked AS MATERIALIZED (
  SELECT doc_id, source, q, toks,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY q DESC, doc_id ASC) AS rk
  FROM final
)
SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_cut,
       CAST(SUM(r.toks) AS BIGINT) AS sum_tokens,
       CAST(MAX(r.rk) AS BIGINT) AS max_rk
FROM ranked r JOIN counts c ON r.source = c.source
WHERE r.rk <= c.kg
GROUP BY r.source
"""


# ===========================================================================
# end-to-end NEAR-dup dedup: simhash pairs -> connected components ->
# keep the component minimum -> per-source corpus stats.  The transitive
# cut (dropping each pair's higher id in one sweep misses chains)
# composed with real corpus accounting — the full near-dedup story in
# one gate.
# ===========================================================================

@_register("neardup_dedup_corpus")
def _ndc(spark, sf_dir):
    # _DOCS2_CAP (not a private cap): the oracle composes _shn_o(), whose
    # pair corpus is _doubled_docs-capped — both sides must agree
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _DOCS2_CAP)
        .select("doc_id", "source", "text")
    )
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"), "source", "text"
        )
    )
    sigs = D.simhash64(doubled)
    pairs = D.simhash_neardup_pairs(sigs, max_hamming=3)
    comps = D.connected_components(doubled.select("doc_id"), pairs)
    keepers = comps.filter(F.col("doc_id") == F.col("comp")).select("doc_id")
    kept = doubled.join(keepers, "doc_id", "left_semi")
    out = TX.with_token_count(kept).groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )
    return out.select("source", "n_kept", "sum_tokens")


@_oracle("neardup_dedup_corpus")
def _ndc_o():
    pairs_sql = _shn_o()
    tok = TS.token_count_sql("text")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
docs AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id < {_DOCS2_CAP}
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT}, source, text FROM documents
  WHERE doc_id < {_DOCS2_CAP}
),
edges AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
),
reach(id, r) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM docs
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comps AS (
  SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id
),
kept AS (
  SELECT d.source, CAST({tok} AS BIGINT) AS toks
  FROM docs d JOIN comps c ON d.doc_id = c.doc_id AND c.comp = d.doc_id
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(toks) AS BIGINT) AS sum_tokens
FROM kept GROUP BY source
"""


# ===========================================================================
# winnowing fingerprints (published MOSS local-fingerprinting scheme,
# value-set variant): distinct per-window minimum shingle hash
# (operators/dedup.winnow_fingerprints)
# ===========================================================================

# n=5: same reasoning as _NG_N — on this 30-word-vocab synthetic corpus
# n=3 fingerprints produced ~1.4M incidental candidate pairs at sf0.1
# (12s/gate in the bench); n=5 cuts that 13x while every planted
# shared run (>= n + window - 1 = 8 words) still fires the winnowing
# guarantee
_WIN_N = 5
_WIN_W = 4


@_register("winnow_fingerprints")
def _wfp(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    out = D.winnow_fingerprints(docs, n=_WIN_N, window=_WIN_W)
    return out.select(F.col("doc_id").cast("long"), F.col("fp").cast("long"))


@_oracle("winnow_fingerprints")
def _wfp_o():
    shingle = f"array_to_string(ws[i+1:i+{_WIN_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id, i AS pos, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_WIN_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_WIN_N}) g
),
fp AS MATERIALIZED (
  SELECT doc_id, pos,
         MIN(shh) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
         COUNT(*) OVER (PARTITION BY doc_id) AS cnt
  FROM sh
)
SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, CAST(fp AS BIGINT) AS fp
FROM fp WHERE pos <= cnt - {_WIN_W}
"""


# ===========================================================================
# winnowing near-dup: fingerprint candidates -> exact n-gram Jaccard
# verify restricted to them (operators/dedup.winnow_neardup_pairs);
# planted corpus = every doc doubled with a mid-text splice, so each
# pair shares long word runs (the winnowing guarantee's home turf)
# ===========================================================================

_WND_T = 300000


@_register("winnow_neardup")
def _wnd(spark, sf_dir):
    docs = (
        _ts(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _WND_DOC_CAP)
        .select("doc_id", "text")
    )
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"),
            F.expr(
                "concat(substr(text, 1, 40), ' zz ', substr(text, 41))"
            ).alias("text"),
        )
    )
    out = D.winnow_neardup_pairs(
        doubled, n=_WIN_N, window=_WIN_W, threshold_ppm=_WND_T
    )
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("jaccard_ppm").cast("long"),
    )


@_oracle("winnow_neardup")
def _wnd_o(where: str = f"WHERE doc_id < {_WND_DOC_CAP}"):
    # `where` restricts the source documents; the default mirrors the
    # winnow_neardup gate's own cap, and the dedup_keep_best oracle
    # passes its % 4 + span-cap clause instead
    shingle = f"array_to_string(ws[i+1:i+{_WIN_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, text FROM documents {where}
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT},
         concat(substr(text, 1, 40), ' zz ', substr(text, 41))
  FROM documents {where}
),
wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM docs
),
shp AS MATERIALIZED (
  SELECT doc_id, i AS pos, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_WIN_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_WIN_N}) g
),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
           MIN(shh) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS cnt
    FROM shp
  ) WHERE pos <= cnt - {_WIN_W}
),
cand AS MATERIALIZED (
  SELECT DISTINCT la.doc_id AS a, lb.doc_id AS b
  FROM fp la JOIN fp lb ON la.fp = lb.fp AND la.doc_id < lb.doc_id
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shh FROM shp
),
sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
),
inter AS MATERIALIZED (
  SELECT c.a, c.b, COUNT(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.shh = sa.shh
  GROUP BY c.a, c.b
)
SELECT CAST(t.a AS BIGINT) AS a, CAST(t.b AS BIGINT) AS b,
       CAST(FLOOR((CAST(t.i AS DOUBLE) / CAST(t.u AS DOUBLE)) * 1000000.0)
            AS BIGINT) AS jaccard_ppm
FROM (
  SELECT x.a, x.b, x.i, za.sz + zb.sz - x.i AS u
  FROM inter x
  JOIN sizes za ON za.doc_id = x.a
  JOIN sizes zb ON zb.doc_id = x.b
) t
WHERE t.i * 1000000 >= {_WND_T} * t.u
"""


# ===========================================================================
# asymmetric containment near-subset pairs (operators/dedup.
# ngram_containment_pairs): planted corpus = each doc plus its 120-char
# prefix — the prefix's shingles are a subset of the original's, so the
# contained direction passes the threshold and the reverse does not
# ===========================================================================

_CONT_T = 800000


@_register("ngram_containment")
def _ngc(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"),
            F.expr("substr(text, 1, 120)").alias("text"),
        )
    )
    out = D.ngram_containment_pairs(
        corpus, n=_WIN_N, threshold_ppm=_CONT_T
    )
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("containment_ppm").cast("long"),
    )


@_oracle("ngram_containment")
def _ngc_o():
    shingle = f"array_to_string(ws[i+1:i+{_WIN_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT}, substr(text, 1, 120) FROM documents
),
wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM docs
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_WIN_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_WIN_N}) g
),
sizes AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
),
inter AS MATERIALIZED (
  SELECT sa.doc_id AS a, sb.doc_id AS b, COUNT(*) AS i
  FROM sh sa JOIN sh sb ON sa.shh = sb.shh AND sa.doc_id != sb.doc_id
  GROUP BY sa.doc_id, sb.doc_id
)
SELECT CAST(x.a AS BIGINT) AS a, CAST(x.b AS BIGINT) AS b,
       CAST(FLOOR((CAST(x.i AS DOUBLE) / CAST(za.sz AS DOUBLE)) * 1000000.0)
            AS BIGINT) AS containment_ppm
FROM inter x JOIN sizes za ON za.doc_id = x.a
WHERE x.i * 1000000 >= {_CONT_T} * za.sz
"""


# ===========================================================================
# document chunking (operators/text.chunk_documents): overlapping
# token-window splitter — deterministic start grid, shared slice math
# ===========================================================================

_CHUNK_T = 16
_CHUNK_O = 4


@_register("chunk_documents")
def _chk(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.chunk_documents(
        docs, chunk_tokens=_CHUNK_T, overlap=_CHUNK_O
    )
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("chunk_id").cast("long"),
        F.col("n_chunk_tokens").cast("long"),
        F.col("chunk_text"),
    )


@_oracle("chunk_documents")
def _chk_o():
    step = _CHUNK_T - _CHUNK_O
    return f"""
WITH wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
starts AS MATERIALIZED (
  SELECT doc_id, ws, unnest(range(0, len(ws), {step})) AS s
  FROM wsx WHERE len(ws) > 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(s // {step} AS BIGINT) AS chunk_id,
       CAST(len(ws[s + 1 : s + {_CHUNK_T}]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(ws[s + 1 : s + {_CHUNK_T}], ' ') AS chunk_text
FROM starts
"""


# ===========================================================================
# eval-set decontamination: flag training docs sharing any word n-gram
# with a broadcast benchmark corpus (operators/dedup.decontaminate_against).
# Benchmark = a 20-word slice (words 5..24) of every doc_id % _DC_MOD == 0
# document with >= 24 words — so contamination is planted by construction
# (the source docs share those 8-grams) while the 30-word-vocab corpus
# makes incidental 8-gram collisions essentially impossible.
# ===========================================================================

_DC_N = 8
_DC_MOD = 31


@_register("decontaminate")
def _dc(spark, sf_dir):
    from .operators.text import split_words

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    ws = docs.withColumn("__ws", split_words("text"))
    bench = (
        ws.filter((F.col("doc_id") % _DC_MOD) == 0)
        .filter(F.size("__ws") >= 24)
        .select(F.expr("array_join(slice(__ws, 5, 20), ' ')").alias("text"))
    )
    out = D.decontaminate_against(docs, bench, n=_DC_N, mode="flag")
    return out.filter(F.col("contaminated")).select(
        F.col("doc_id").cast("long"), F.col("n_hits").cast("long")
    )


@_oracle("decontaminate")
def _dc_o():
    shingle = f"array_to_string(ws[i+1:i+{_DC_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
bench AS MATERIALIZED (
  SELECT list_filter(string_split(array_to_string(ws[5:24], ' '), ' '),
                     w -> len(w) > 0) AS ws
  FROM wsx WHERE doc_id % {_DC_MOD} = 0 AND len(ws) >= 24
),
bsh AS MATERIALIZED (
  SELECT DISTINCT {shh} AS shh
  FROM (SELECT ws, unnest(range(0, len(ws) - {_DC_N - 1})) AS i
        FROM bench WHERE len(ws) >= {_DC_N}) g
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_DC_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_DC_N}) g
)
SELECT CAST(sh.doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM sh JOIN bsh USING (shh)
GROUP BY sh.doc_id
"""


# ===========================================================================
# exact-substring span extraction: maximal shared verbatim word runs on
# winnowing-candidate pairs (operators/dedup.shared_span_pairs) — the
# WHERE of the near-dup overlap.  Corpus = the winnow_neardup doubled
# corpus (every doc + a mid-text splice), so each planted pair shares a
# long suffix run (and usually a short prefix run); min_run=8 >= the
# winnowing recall bound n + window - 1 = 6.
# ===========================================================================

_SSP_MIN_RUN = 8
# every-doc boilerplate footer for the capped span gates: 8 words =
# n + window - 1, so the footer GUARANTEES winnow fingerprints shared by
# every document (df = n_docs) — exactly the hot-fingerprint fan-out
# fp_df_cap exists to bound.  With the cap, footer fps drop from the
# candidate join (bounded fan-out); the doubled pairs still connect via
# their unique-text df=2 fingerprints, and span extraction (exact on
# surviving pairs) still reports the footer run itself.
_SSP_FOOTER = "fb0 fb1 fb2 fb3 fb4 fb5 fb6 fb7"
_SSP_CAP = 2


@_register("shared_spans")
def _ssp(spark, sf_dir):
    # doc_id % 4: bench hygiene (r6, was % 2 — the span gates were the
    # only ones over the ~3.5s wall); full density stays covered by the
    # winnow_neardup gate
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 4 == 0
    )
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"),
            F.expr(
                "concat(substr(text, 1, 40), ' zz ', substr(text, 41))"
            ).alias("text"),
        )
    )
    cand = D.winnow_candidates(
        D.winnow_fingerprints(doubled, n=_WIN_N, window=_WIN_W)
    )
    out = D.shared_span_pairs(
        cand, doubled, n=_WIN_N, min_run=_SSP_MIN_RUN
    ).localCheckpoint(eager=True)
    cand.unpersist()
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("a_start").cast("long"),
        F.col("b_start").cast("long"),
        F.col("run_len").cast("long"),
    )


@_oracle("shared_spans")
def _ssp_o():
    shingle = f"array_to_string(ws[i+1:i+{_WIN_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT},
         concat(substr(text, 1, 40), ' zz ', substr(text, 41))
  FROM documents WHERE doc_id % 4 = 0
),
wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM docs
),
shp AS MATERIALIZED (
  SELECT doc_id, i AS pos, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_WIN_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_WIN_N}) g
),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
           MIN(shh) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS cnt
    FROM shp
  ) WHERE pos <= cnt - {_WIN_W}
),
cand AS MATERIALIZED (
  SELECT DISTINCT la.doc_id AS a, lb.doc_id AS b
  FROM fp la JOIN fp lb ON la.fp = lb.fp AND la.doc_id < lb.doc_id
),
anchors AS MATERIALIZED (
  SELECT c.a, c.b, sa.pos AS pa, sb.pos AS pb, sa.pos - sb.pos AS diag
  FROM cand c
  JOIN shp sa ON sa.doc_id = c.a
  JOIN shp sb ON sb.doc_id = c.b AND sb.shh = sa.shh
),
isl AS MATERIALIZED (
  SELECT a, b, diag, pa, pb,
         pa - ROW_NUMBER() OVER (PARTITION BY a, b, diag ORDER BY pa) AS grp
  FROM anchors
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(MIN(pa) AS BIGINT) AS a_start,
       CAST(MIN(pb) AS BIGINT) AS b_start,
       CAST(COUNT(*) + {_WIN_N - 1} AS BIGINT) AS run_len
FROM isl
GROUP BY a, b, diag, grp
HAVING COUNT(*) + {_WIN_N - 1} >= {_SSP_MIN_RUN}
"""


# ===========================================================================
# incremental near-dup against a persisted fingerprint index
# (operators/incremental.incremental_neardup): base = even docs (their
# winnow fingerprints ARE the index — base text is never given to the
# operator), delta = odd docs + spliced near-copies of every 10th even
# doc planted as cross-epoch dups.  The oracle recomputes both
# fingerprint sets from scratch and applies the identical fp-Jaccard
# decision; survivors must match.
# ===========================================================================

_INC_SHIFT = 700000
_INC_T = 300000


@_register("incremental_neardup")
def _inc(spark, sf_dir):
    from pyspark.sql import Window

    from .operators import incremental as INC

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    planted = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _INC_SHIFT).alias("doc_id"),
        F.expr("concat(substr(text, 1, 40), ' zz ', substr(text, 41))").alias(
            "text"
        ),
    )
    delta = docs.filter(F.col("doc_id") % 2 == 1).unionByName(planted)
    # the index carries stored per-doc fingerprint counts, exactly as
    # write_fp_index persists them — the gate drives the r6 stored-size
    # (window-free) index path, not the legacy bare-(id, fp) fallback
    index = D.winnow_fingerprints(base, n=_WIN_N, window=_WIN_W).withColumn(
        "sz", F.count("*").over(Window.partitionBy("doc_id"))
    )
    surv, _fps = INC.incremental_neardup(
        delta, index, n=_WIN_N, window=_WIN_W, threshold_ppm=_INC_T
    )
    return surv.select(F.col("doc_id").cast("long"))


@_oracle("incremental_neardup")
def _inc_o():
    shingle = f"array_to_string(ws[i+1:i+{_WIN_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    jacc = (
        f"x.i * 1000000 >= {_INC_T} * (x.sa + x.sb - x.i)"
    )
    return f"""
WITH delta AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + {_INC_SHIFT},
         concat(substr(text, 1, 40), ' zz ', substr(text, 41))
  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
),
docs2 AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, text FROM delta
),
wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM docs2
),
shp AS MATERIALIZED (
  SELECT doc_id, i AS pos, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_WIN_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_WIN_N}) g
),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
           MIN(shh) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS cnt
    FROM shp
  ) WHERE pos <= cnt - {_WIN_W}
),
sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id),
bfp AS MATERIALIZED (
  SELECT f.* FROM fp f WHERE f.doc_id % 2 = 0 AND f.doc_id < {_INC_SHIFT}
),
dfp AS MATERIALIZED (
  SELECT f.* FROM fp f WHERE NOT (f.doc_id % 2 = 0 AND f.doc_id < {_INC_SHIFT})
),
cross_losers AS MATERIALIZED (
  SELECT DISTINCT x.a AS doc_id FROM (
    SELECT d.doc_id AS a, b.doc_id AS b, COUNT(*) AS i,
           MAX(za.sz) AS sa, MAX(zb.sz) AS sb
    FROM dfp d JOIN bfp b ON d.fp = b.fp
    JOIN sz za ON za.doc_id = d.doc_id
    JOIN sz zb ON zb.doc_id = b.doc_id
    GROUP BY d.doc_id, b.doc_id
  ) x WHERE {jacc}
),
intra_losers AS MATERIALIZED (
  SELECT DISTINCT x.b AS doc_id FROM (
    SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS i,
           MAX(za.sz) AS sa, MAX(zb.sz) AS sb
    FROM dfp l JOIN dfp r ON l.fp = r.fp AND l.doc_id < r.doc_id
    JOIN sz za ON za.doc_id = l.doc_id
    JOIN sz zb ON zb.doc_id = r.doc_id
    GROUP BY l.doc_id, r.doc_id
  ) x WHERE {jacc}
),
losers AS MATERIALIZED (
  SELECT doc_id FROM cross_losers UNION SELECT doc_id FROM intra_losers
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM delta d ANTI JOIN losers l USING (doc_id)
"""


# ===========================================================================
# fingerprint-index compaction round-trip (operators/incremental.
# compact_fp_index): write two epochs (even docs / odd docs), squash
# into the negative-keyspace compacted epoch, read back.  The oracle
# recomputes every doc's winnow fingerprint set and size from scratch —
# so the gate checks the distinct-union content AND the stored-sz
# invariant (sz == the doc's row count) after compaction.
# ===========================================================================

@_register("compact_fp_index")
def _cfpi(spark, sf_dir):
    import shutil
    import tempfile

    from .operators import incremental as INC

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="gate_cfpi_")
    try:
        # doc_id % 4 < 2: bench hygiene (r6) — the round-trip semantics,
        # not corpus size, are the point; the two epochs stay disjoint
        for epoch, par in ((0, 0), (1, 1)):
            fps = D.winnow_fingerprints(
                docs.filter(F.col("doc_id") % 4 == par),
                n=_WIN_N, window=_WIN_W,
            )
            INC.write_fp_index(fps, base, epoch)
        compacted = INC.compact_fp_index(spark, base)
        idx = INC.read_fp_index(spark, base)
        return (
            idx.agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("doc_id").alias("n_docs"),
                F.sum("sz").alias("sum_sz"),
                F.sum(F.col("fp") % 1000003).alias("sum_fpmod"),
                F.min("epoch").cast("long").alias("min_epoch"),
                F.max("epoch").cast("long").alias("max_epoch"),
            )
            .select(
                F.col("n_rows").cast("long"),
                F.col("n_docs").cast("long"),
                F.col("sum_sz").cast("long"),
                F.col("sum_fpmod").cast("long"),
                "min_epoch",
                "max_epoch",
                F.lit(int(compacted)).cast("long").alias("compacted_epoch"),
            )
            .localCheckpoint(eager=True)  # survive the rmtree below
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@_oracle("compact_fp_index")
def _cfpi_o():
    shingle = f"array_to_string(ws[i+1:i+{_WIN_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents WHERE doc_id % 4 < 2
),
shp AS MATERIALIZED (
  SELECT doc_id, i AS pos, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_WIN_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_WIN_N}) g
),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
           MIN(shh) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS cnt
    FROM shp
  ) WHERE pos <= cnt - {_WIN_W}
),
sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT f.doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(s.sz) AS BIGINT) AS sum_sz,
       CAST(SUM(f.fp % 1000003) AS BIGINT) AS sum_fpmod,
       CAST(-1 AS BIGINT) AS min_epoch,
       CAST(-1 AS BIGINT) AS max_epoch,
       CAST(-1 AS BIGINT) AS compacted_epoch
FROM fp f JOIN sz s USING (doc_id)
"""


# ===========================================================================
# composed exact-substring dedup pipeline, end to end
# (operators/dedup.dedup_shared_spans): winnow candidates -> maximal
# shared runs -> drop the higher id of every >= min_run pair -> corpus
# stats.  Same doubled corpus as shared_spans.
# ===========================================================================

@_register("span_dedup_corpus")
def _sdc(spark, sf_dir):
    from .operators.text import split_words

    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" " + _SSP_FOOTER)).alias("text"),
    ).filter((F.col("doc_id") % 4 == 0) & (F.col("doc_id") < _SPAN_DOC_CAP))
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"),
            F.expr(
                "concat(substr(text, 1, 40), ' zz ', substr(text, 41))"
            ).alias("text"),
        )
    )
    out = D.dedup_shared_spans(
        doubled, n=_WIN_N, window=_WIN_W, min_run=_SSP_MIN_RUN,
        fp_df_cap=_SSP_CAP,
    )
    return out.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
        F.sum(F.size(split_words("text"))).cast("long").alias("total_tokens"),
    )


@_oracle("span_dedup_corpus")
def _sdc_o():
    shingle = f"array_to_string(ws[i+1:i+{_WIN_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, concat(text, ' {_SSP_FOOTER}') AS text
  FROM documents WHERE doc_id % 4 = 0 AND doc_id < {_SPAN_DOC_CAP}
),
docs AS MATERIALIZED (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT},
         concat(substr(text, 1, 40), ' zz ', substr(text, 41))
  FROM base
),
wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM docs
),
shp AS MATERIALIZED (
  SELECT doc_id, i AS pos, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_WIN_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_WIN_N}) g
),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
           MIN(shh) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS cnt
    FROM shp
  ) WHERE pos <= cnt - {_WIN_W}
),
fpc AS MATERIALIZED (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS fdf FROM fp
  ) WHERE fdf <= {_SSP_CAP}
),
cand AS MATERIALIZED (
  SELECT DISTINCT la.doc_id AS a, lb.doc_id AS b
  FROM fpc la JOIN fpc lb ON la.fp = lb.fp AND la.doc_id < lb.doc_id
),
anchors AS MATERIALIZED (
  SELECT c.a, c.b, sa.pos AS pa, sa.pos - sb.pos AS diag
  FROM cand c
  JOIN shp sa ON sa.doc_id = c.a
  JOIN shp sb ON sb.doc_id = c.b AND sb.shh = sa.shh
),
isl AS MATERIALIZED (
  SELECT a, b, diag, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY a, b, diag ORDER BY pa) AS grp
  FROM anchors
),
losers AS MATERIALIZED (
  SELECT DISTINCT b AS doc_id FROM isl
  GROUP BY a, b, diag, grp
  HAVING COUNT(*) + {_WIN_N - 1} >= {_SSP_MIN_RUN}
),
surv AS MATERIALIZED (
  SELECT w.doc_id, w.ws FROM wsx w ANTI JOIN losers l USING (doc_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id,
       CAST(SUM(len(ws)) AS BIGINT) AS total_tokens
FROM surv
"""


# ===========================================================================
# quality-aware duplicate-cluster keeper (operators/dedup.dedup_keep_best):
# winnow near-dup pairs on a spliced doubled corpus -> connected
# components -> keep the BEST-quality member per cluster (not min id) ->
# per-source stats.  The splice perturbs the mutant's quality score, so
# the chosen keeper genuinely exercises the quality ordering.
# ===========================================================================

@_register("dedup_keep_best")
def _dkb(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).filter((F.col("doc_id") % 4 == 0) & (F.col("doc_id") < _SPAN_DOC_CAP))
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"),
            "source",
            F.expr(
                "concat(substr(text, 1, 40), ' zz ', substr(text, 41))"
            ).alias("text"),
        )
    )
    pairs = D.winnow_neardup_pairs(
        doubled, n=_WIN_N, window=_WIN_W, threshold_ppm=_WND_T
    )
    comps = D.connected_components(doubled.select("doc_id"), pairs)
    scored = TX.with_quality_score(doubled)
    kept = D.dedup_keep_best(scored, comps, order="quality")
    return kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("quality").cast("long").alias("sum_quality"),
        F.min("doc_id").cast("long").alias("min_kept"),
    )


@_oracle("dedup_keep_best")
def _dkb_o():
    pairs_sql = _wnd_o(
        f"WHERE doc_id % 4 = 0 AND doc_id < {_SPAN_DOC_CAP}"
    )
    q = TS.quality_score_sql("text")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
docs AS (
  SELECT doc_id, source, text FROM documents
  WHERE doc_id % 4 = 0 AND doc_id < {_SPAN_DOC_CAP}
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT}, source,
         concat(substr(text, 1, 40), ' zz ', substr(text, 41))
  FROM documents WHERE doc_id % 4 = 0 AND doc_id < {_SPAN_DOC_CAP}
),
edges AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
),
reach(id, r) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM docs
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comps AS (
  SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id
),
scored AS (
  SELECT d.doc_id, d.source, CAST({q} AS BIGINT) AS quality, c.comp
  FROM docs d JOIN comps c ON c.doc_id = d.doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY comp
                               ORDER BY quality DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(quality) AS BIGINT) AS sum_quality,
       CAST(MIN(doc_id) AS BIGINT) AS min_kept
FROM ranked WHERE rn = 1
GROUP BY source
"""


# ===========================================================================
# span TRIMMING (operators/dedup.trim_shared_spans): the later document
# keeps everything EXCEPT the shared >= min_run runs — the
# published recipe's remove-the-span-not-the-document half.  Same halved
# doubled corpus as span_dedup_corpus; oracle rebuilds the trimmed text
# relationally (positions anti-join covered intervals -> string_agg).
# ===========================================================================

@_register("trim_spans_corpus")
def _tsc(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" " + _SSP_FOOTER)).alias("text"),
    ).filter((F.col("doc_id") % 4 == 0) & (F.col("doc_id") < _SPAN_DOC_CAP))
    doubled = docs.unionByName(
        docs.select(
            (F.col("doc_id") + _DUP_SHIFT).alias("doc_id"),
            F.expr(
                "concat(substr(text, 1, 40), ' zz ', substr(text, 41))"
            ).alias("text"),
        )
    )
    out = D.trim_shared_spans(
        doubled, n=_WIN_N, window=_WIN_W, min_run=_SSP_MIN_RUN,
        fp_df_cap=_SSP_CAP,
    )
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("text"),
        F.col("n_trimmed_tokens").cast("long"),
    )


@_oracle("trim_spans_corpus")
def _tsc_o():
    shingle = f"array_to_string(ws[i+1:i+{_WIN_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, concat(text, ' {_SSP_FOOTER}') AS text
  FROM documents WHERE doc_id % 4 = 0 AND doc_id < {_SPAN_DOC_CAP}
),
docs AS MATERIALIZED (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + {_DUP_SHIFT},
         concat(substr(text, 1, 40), ' zz ', substr(text, 41))
  FROM base
),
wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM docs
),
shp AS MATERIALIZED (
  SELECT doc_id, i AS pos, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_WIN_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_WIN_N}) g
),
fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
           MIN(shh) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp,
           COUNT(*) OVER (PARTITION BY doc_id) AS cnt
    FROM shp
  ) WHERE pos <= cnt - {_WIN_W}
),
fpc AS MATERIALIZED (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS fdf FROM fp
  ) WHERE fdf <= {_SSP_CAP}
),
cand AS MATERIALIZED (
  SELECT DISTINCT la.doc_id AS a, lb.doc_id AS b
  FROM fpc la JOIN fpc lb ON la.fp = lb.fp AND la.doc_id < lb.doc_id
),
anchors AS MATERIALIZED (
  SELECT c.a, c.b, sa.pos AS pa, sb.pos AS pb, sa.pos - sb.pos AS diag
  FROM cand c
  JOIN shp sa ON sa.doc_id = c.a
  JOIN shp sb ON sb.doc_id = c.b AND sb.shh = sa.shh
),
isl AS MATERIALIZED (
  SELECT a, b, diag, pa, pb,
         pa - ROW_NUMBER() OVER (PARTITION BY a, b, diag ORDER BY pa) AS grp
  FROM anchors
),
ivs AS MATERIALIZED (
  SELECT b AS doc_id, MIN(pb) AS s,
         MIN(pb) + COUNT(*) + {_WIN_N - 1} AS e
  FROM isl GROUP BY a, b, diag, grp
  HAVING COUNT(*) + {_WIN_N - 1} >= {_SSP_MIN_RUN}
),
flagged AS MATERIALIZED (
  SELECT doc_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                   OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_isl
  FROM ivs
),
numbered AS MATERIALIZED (
  SELECT doc_id, s, e,
         SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS isl2
  FROM flagged
),
merged AS MATERIALIZED (
  SELECT doc_id, MIN(s) AS lo, MAX(e) AS hi
  FROM numbered GROUP BY doc_id, isl2
),
affected AS MATERIALIZED (SELECT DISTINCT doc_id FROM merged),
covered AS MATERIALIZED (
  SELECT doc_id, unnest(range(lo, hi)) AS pos FROM merged
),
positions AS MATERIALIZED (
  SELECT w.doc_id, w.ws, unnest(range(0, len(w.ws))) AS pos
  FROM wsx w SEMI JOIN affected a USING (doc_id)
  WHERE len(w.ws) > 0
),
kept AS MATERIALIZED (
  SELECT p.doc_id, p.ws[p.pos + 1] AS w, p.pos
  FROM positions p ANTI JOIN covered c USING (doc_id, pos)
),
rebuilt AS MATERIALIZED (
  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text, COUNT(*) AS c
  FROM kept GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN d.text
            ELSE COALESCE(r.text, '') END AS text,
       CAST(CASE WHEN a.doc_id IS NULL THEN 0
                 ELSE len(w.ws) - COALESCE(r.c, 0) END AS BIGINT)
           AS n_trimmed_tokens
FROM docs d
JOIN wsx w ON w.doc_id = d.doc_id
LEFT JOIN affected a ON a.doc_id = d.doc_id
LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
"""


# ===========================================================================
# deterministic stratified sampling (operators/text.sample_k_per_group):
# exactly k docs per source by salted-hash order — reproducible quota
# sampling; the oracle replays the identical md5-prefix draw.
# ===========================================================================

_SKG_K = 7
_SKG_SALT = "gate-strat-v1"


@_register("stratified_sample")
def _skg(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source")
    out = TX.sample_k_per_group(docs, k=_SKG_K, salt=_SKG_SALT)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("source"),
        F.col("sample_rk").cast("long"),
    )


@_oracle("stratified_sample")
def _skg_o():
    h = TS.md5_prefix_int_sql(
        f"concat('{_SKG_SALT}', ':', CAST(doc_id AS STRING))", TS.DUCKDB
    )
    return f"""
WITH hashed AS MATERIALIZED (
  SELECT doc_id, source, {h} AS h FROM documents
),
ranked AS MATERIALIZED (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY h ASC, doc_id ASC) AS sample_rk
  FROM hashed
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(sample_rk AS BIGINT) AS sample_rk
FROM ranked WHERE sample_rk <= {_SKG_K}
"""


# ===========================================================================
# decontamination ATTRIBUTION report (operators/dedup.decontaminate_report):
# which benchmark item each training doc overlaps, by how many distinct
# n-grams — same planted benchmark as the decontaminate gate, bench ids
# = source doc ids.
# ===========================================================================

@_register("decontaminate_report")
def _dcr(spark, sf_dir):
    from .operators.text import split_words

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    ws = docs.withColumn("__ws", split_words("text"))
    bench = (
        ws.filter((F.col("doc_id") % _DC_MOD) == 0)
        .filter(F.size("__ws") >= 24)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.expr("array_join(slice(__ws, 5, 20), ' ')").alias("text"),
        )
    )
    out = D.decontaminate_report(docs, bench, n=_DC_N)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("bench_id").cast("long"),
        F.col("n_shared").cast("long"),
    )


@_oracle("decontaminate_report")
def _dcr_o():
    shingle = f"array_to_string(ws[i+1:i+{_DC_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    return f"""
WITH wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
bench AS MATERIALIZED (
  SELECT doc_id AS bench_id,
         list_filter(string_split(array_to_string(ws[5:24], ' '), ' '),
                     w -> len(w) > 0) AS ws
  FROM wsx WHERE doc_id % {_DC_MOD} = 0 AND len(ws) >= 24
),
bsh AS MATERIALIZED (
  SELECT DISTINCT bench_id, {shh} AS shh
  FROM (SELECT bench_id, ws, unnest(range(0, len(ws) - {_DC_N - 1})) AS i
        FROM bench WHERE len(ws) >= {_DC_N}) g
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_DC_N - 1})) AS i
        FROM wsx WHERE len(ws) >= {_DC_N}) g
)
SELECT CAST(sh.doc_id AS BIGINT) AS doc_id,
       CAST(b.bench_id AS BIGINT) AS bench_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM sh JOIN bsh b USING (shh)
GROUP BY sh.doc_id, b.bench_id
"""


# ===========================================================================
# integer-exact rarity / unigram-surprisal score
# (operators/text.with_rarity_score): IDF-shaped quality signal with
# floor(log2(df))+1 computed as length(bin(df)) — no float log anywhere.
# ===========================================================================

@_register("rarity_score")
def _rar(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.with_rarity_score(docs)
    return out.select(
        F.col("doc_id").cast("long"), F.col("rarity_ppm").cast("long")
    )


@_oracle("rarity_score")
def _rar_o():
    return """
WITH wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
words AS MATERIALIZED (
  SELECT doc_id, unnest(ws) AS w FROM wsx
),
vocab AS MATERIALIZED (
  SELECT w, COUNT(*) AS dfw
  FROM (SELECT DISTINCT doc_id, w FROM words) GROUP BY w
),
scored AS MATERIALIZED (
  SELECT words.doc_id,
         CAST((SUM(64 - len(bin(dfw))) * 1000000) // COUNT(*)
              AS BIGINT) AS rarity_ppm
  FROM words JOIN vocab USING (w)
  GROUP BY words.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(s.rarity_ppm, 0) AS rarity_ppm
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


# ===========================================================================
# PII redaction (operators/text.redact_pii): the synthetic documents
# carry no natural PII, so the gate PLANTS it deterministically from
# doc_id arithmetic (email + SSN + IPv4 for 4/5 of docs, a phone for
# every 3rd, nothing for doc_id % 5 == 4 — zero-count docs exercised) —
# identical concat arithmetic on both engines, then the shared
# redact_pii_sql / pii_count_sql generators (text_sql.PII_PATTERNS'
# cross-engine regex class) do the scrub.  Full per-doc redacted text +
# counts are compared, not aggregates.
# ===========================================================================

@_register("redact_pii")
def _rpii(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 5 != 4,
                F.concat(
                    F.lit(" reach user"),
                    did.cast("string"),
                    F.lit("@mail.example.org or "),
                    (did % 900 + 100).cast("string"),
                    F.lit("-"),
                    (did % 90 + 10).cast("string"),
                    F.lit("-"),
                    (did % 9000 + 1000).cast("string"),
                    F.lit(" from 10."),
                    (did % 200).cast("string"),
                    F.lit(".0."),
                    ((did * 7) % 250).cast("string"),
                    F.when(
                        did % 3 == 0,
                        F.concat(
                            F.lit(" call (212) 555-"),
                            (did % 9000 + 1000).cast("string"),
                        ),
                    ).otherwise(F.lit("")),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = TX.redact_pii(planted)
    return out.select(
        F.col("doc_id").cast("long"),
        "text",
        F.col("n_pii_redacted").cast("long"),
    )


@_oracle("redact_pii")
def _rpii_o():
    red = TS.redact_pii_sql("text", TS.DUCKDB)
    cnt = TS.pii_count_sql("text", TS.DUCKDB)
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id,
         concat(text, CASE WHEN doc_id % 5 <> 4 THEN concat(
           ' reach user', CAST(doc_id AS VARCHAR), '@mail.example.org or ',
           CAST(doc_id % 900 + 100 AS VARCHAR), '-',
           CAST(doc_id % 90 + 10 AS VARCHAR), '-',
           CAST(doc_id % 9000 + 1000 AS VARCHAR),
           ' from 10.', CAST(doc_id % 200 AS VARCHAR), '.0.',
           CAST((doc_id * 7) % 250 AS VARCHAR),
           CASE WHEN doc_id % 3 = 0
                THEN concat(' call (212) 555-',
                            CAST(doc_id % 9000 + 1000 AS VARCHAR))
                ELSE '' END
         ) ELSE '' END) AS text
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {red} AS text,
       {cnt} AS n_pii_redacted
FROM planted
"""


# ===========================================================================
# the 100th gate: the complete modern curation pipeline in ONE DAG,
# composed from round-5 pieces — eval-set decontamination (remove) ->
# normalize + exact-dedup keeper -> quality + integer-IDF rarity scores
# -> keep the best 50% per source by rarity -> per-source stats.  Every
# stage is individually gated; this pins their interaction and staging
# order (scores computed over the DECONTAMINATED, DEDUPED corpus).
# ===========================================================================

@_register("curation_pipeline_v2")
def _cp2(spark, sf_dir):
    from .operators.text import split_words

    # doc_id % 2: bench hygiene (r6) — the composition is the point of
    # this gate, not corpus size; every stage is individually gated at
    # full density
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).filter(F.col("doc_id") % 2 == 0)
    ws = docs.withColumn("__ws", split_words("text"))
    bench = (
        ws.filter((F.col("doc_id") % _DC_MOD) == 0)
        .filter(F.size("__ws") >= 24)
        .select(F.expr("array_join(slice(__ws, 5, 20), ' ')").alias("text"))
    )
    clean = D.decontaminate_against(docs, bench, n=_DC_N, mode="remove")
    nrm = TX.with_normalized_text(clean)
    keepers = D.dedup_exact(nrm, key="norm_text").select(
        F.col("keeper").alias("doc_id")
    )
    # checkpoint the derived frames before the multi-scan stages (rarity
    # consumes its input twice, top_frac 2+rounds times) — exactly the
    # "persist upstream if the input is an expensive derived frame"
    # guidance in top_frac_per_group's docstring; without it the whole
    # decontaminate+dedup chain re-evaluates per scan (measured ~8s ->
    # ~3s at sf0.1)
    kept = (
        nrm.join(keepers, "doc_id", "left_semi")
        .drop("norm_text")
        .localCheckpoint(eager=True)
    )
    scored = TX.with_rarity_score(
        TX.with_quality_score(kept)
    ).localCheckpoint(eager=True)
    cut = TX.top_frac_per_group(
        scored, group="source", order="rarity_ppm", frac_ppm=500000
    )
    return cut.groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("quality").cast("long").alias("sum_quality"),
        F.sum("rarity_ppm").cast("long").alias("sum_rarity"),
        F.min("doc_id").cast("long").alias("min_kept"),
    )


@_oracle("curation_pipeline_v2")
def _cp2_o():
    shingle = f"array_to_string(ws[i+1:i+{_DC_N}], ' ')"
    shh = TS.md5_prefix_int_sql(shingle, TS.DUCKDB)
    norm = TS.normalize_text_sql("text")
    q = TS.quality_score_sql("text")
    return f"""
WITH wsx0 AS MATERIALIZED (
  SELECT doc_id, source, text,
         list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents WHERE doc_id % 2 = 0
),
bench AS MATERIALIZED (
  SELECT list_filter(string_split(array_to_string(ws[5:24], ' '), ' '),
                     w -> len(w) > 0) AS ws
  FROM wsx0 WHERE doc_id % {_DC_MOD} = 0 AND len(ws) >= 24
),
bsh AS MATERIALIZED (
  SELECT DISTINCT {shh} AS shh
  FROM (SELECT ws, unnest(range(0, len(ws) - {_DC_N - 1})) AS i
        FROM bench WHERE len(ws) >= {_DC_N}) g
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, {shh} AS shh
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {_DC_N - 1})) AS i
        FROM wsx0 WHERE len(ws) >= {_DC_N}) g
),
contam AS MATERIALIZED (
  SELECT DISTINCT sh.doc_id FROM sh SEMI JOIN bsh USING (shh)
),
clean AS MATERIALIZED (
  SELECT w.* FROM wsx0 w ANTI JOIN contam c USING (doc_id)
),
keepers AS MATERIALIZED (
  SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY md5({norm})
),
kept AS MATERIALIZED (
  SELECT c.* FROM clean c SEMI JOIN keepers k USING (doc_id)
),
words AS MATERIALIZED (
  SELECT doc_id, unnest(ws) AS w FROM kept
),
vocab AS MATERIALIZED (
  SELECT w, COUNT(*) AS dfw
  FROM (SELECT DISTINCT doc_id, w FROM words) GROUP BY w
),
rarity AS MATERIALIZED (
  SELECT words.doc_id,
         CAST((SUM(64 - len(bin(dfw))) * 1000000) // COUNT(*)
              AS BIGINT) AS rarity_ppm
  FROM words JOIN vocab USING (w)
  GROUP BY words.doc_id
),
scored AS MATERIALIZED (
  SELECT k.doc_id, k.source, CAST({q} AS BIGINT) AS quality,
         COALESCE(r.rarity_ppm, 0) AS rarity_ppm
  FROM kept k LEFT JOIN rarity r ON r.doc_id = k.doc_id
),
counts AS MATERIALIZED (
  SELECT source, CAST(FLOOR(COUNT(*) * 500000 / 1000000) AS BIGINT) AS kg
  FROM scored GROUP BY source
),
ranked AS MATERIALIZED (
  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY s.source
                                 ORDER BY s.rarity_ppm DESC,
                                          s.doc_id ASC) AS rk
  FROM scored s
),
cut AS MATERIALIZED (
  SELECT r.* FROM ranked r JOIN counts c
  ON r.source = c.source AND r.rk <= c.kg
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(quality) AS BIGINT) AS sum_quality,
       CAST(SUM(rarity_ppm) AS BIGINT) AS sum_rarity,
       CAST(MIN(doc_id) AS BIGINT) AS min_kept
FROM cut GROUP BY source
"""


# ===========================================================================
# deterministic distinct-count sketch (operators/sketch.approx_distinct_kmv):
# KMV bottom-k over the shared salted md5-prefix hash — per-source
# distinct-word estimates reproducible across engines (HLL never is).
# ===========================================================================

_KMV_K = 64
_KMV_SALT = "kmv-v1"


@_register("distinct_kmv")
def _kmv(spark, sf_dir):
    from .operators.sketch import approx_distinct_kmv
    from .operators.text import split_words

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source", "text")
    words = docs.select(
        "source", F.explode(split_words("text")).alias("word")
    )
    out = approx_distinct_kmv(
        words, "word", k=_KMV_K, group="source", salt=_KMV_SALT
    )
    return out.select(
        "source",
        F.col("distinct_est").cast("long"),
        F.col("is_exact"),
        F.col("sketch_k").cast("long"),
    )


@_oracle("distinct_kmv")
def _kmv_o():
    h = TS.md5_prefix_int_sql(
        f"concat('{_KMV_SALT}', ':', CAST(word AS STRING))", TS.DUCKDB
    )
    scale = repr(float((_KMV_K - 1) * (1 << 60)))
    return f"""
WITH words AS MATERIALIZED (
  SELECT source, unnest(list_filter(string_split(text, ' '),
                                    w -> len(w) > 0)) AS word
  FROM documents
),
hashed AS MATERIALIZED (
  SELECT DISTINCT source, {h} AS h FROM words
),
ranked AS MATERIALIZED (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rk
  FROM hashed
),
bottom AS MATERIALIZED (
  SELECT source, h FROM ranked WHERE rk <= {_KMV_K}
)
SELECT source,
       CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS BIGINT)
            ELSE CAST(FLOOR({scale} / CAST(MAX(h) AS DOUBLE)) AS BIGINT)
       END AS distinct_est,
       COUNT(*) < {_KMV_K} AS is_exact,
       CAST({_KMV_K} AS BIGINT) AS sketch_k
FROM bottom GROUP BY source
"""


# ===========================================================================
# line-level quality signals (operators/text.with_line_stats): the
# synthetic documents are single-line, so the gate PLANTS a 5-line
# layout from substr arithmetic — line 3 duplicates line 1 for every
# 3rd doc, plus an empty and a whitespace-only line (both must be
# ignored).  Identical concat/substr/chr SQL text on both engines; the
# metrics come from the shared text_sql generators (dialect-split on
# function names only).
# ===========================================================================

_LQS_PLANT = (
    "concat(substr(text, 1, 30), chr(10), substr(text, 31, 25), chr(10), "
    "chr(10), '   ', chr(10), "
    "CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 30) "
    "ELSE substr(text, 61, 20) END)"
)


@_register("line_quality_signals")
def _lqs(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_LQS_PLANT).alias("text")
    )
    out = TX.with_line_stats(docs)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("n_lines").cast("long"),
        F.col("dup_line_ppm").cast("long"),
        F.col("dup_line_char_ppm").cast("long"),
    )


@_oracle("line_quality_signals")
def _lqs_o():
    lines = TS.lines_array_sql("text", TS.DUCKDB)
    dupc = TS.dup_line_chars_sql("srt", TS.DUCKDB)
    total = TS.line_chars_sql("lines", TS.DUCKDB)
    ratio = TS.idiv_sql(f"({dupc}) * 1000000", total, TS.DUCKDB)
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id, {_LQS_PLANT} AS text FROM documents
),
lx AS MATERIALIZED (
  SELECT doc_id, {lines} AS lines FROM planted
),
sx AS MATERIALIZED (
  SELECT doc_id, lines, {TS.sort_array_sql('lines', TS.DUCKDB)} AS srt
  FROM lx
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST({TS.dup_line_ppm_sql('lines', TS.DUCKDB)} AS BIGINT)
         AS dup_line_ppm,
       CAST(CASE WHEN ({total}) > 0 THEN {ratio} ELSE 0 END AS BIGINT)
         AS dup_line_char_ppm
FROM sx
"""


# ===========================================================================
# markup stripping (operators/text.strip_markup): tags + entities are
# PLANTED around the document text (including an entity-encoded segment
# and an unclosed '<' that must SURVIVE on both engines); the gate
# compares the full stripped text per doc, not aggregates.
# ===========================================================================

_SMK_PLANT = (
    "concat('<p class=\"x\">', substr(text, 1, 40), '</p><br/>', "
    "' <b>id ', CAST(doc_id AS STRING), '</b> &amp; &lt;tail&gt;', "
    "CASE WHEN doc_id % 5 = 0 THEN ' <unclosed' ELSE '' END)"
)


@_register("strip_markup")
def _smk(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SMK_PLANT).alias("text")
    )
    out = TX.strip_markup(docs)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("text_stripped"),
        F.col("n_tags").cast("long"),
    )


@_oracle("strip_markup")
def _smk_o():
    plant = _SMK_PLANT.replace("AS STRING", "AS VARCHAR")
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id, {plant} AS text FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {TS.strip_markup_sql('text', TS.DUCKDB)} AS text_stripped,
       {TS.tag_count_sql('text', TS.DUCKDB)} AS n_tags
FROM planted
"""


# ===========================================================================
# URL host stats (operators/text.url_host_stats): URLs planted from a
# 4-host table keyed on doc_id % 4 (+ a shared dup host for every 7th
# doc, exercising n_urls > n_docs per host) — the corpus text itself
# contains no URLs (verified), so the planted set is exact.
# ===========================================================================

_UHS_PLANT = (
    "concat(text, ' see https://', "
    "CASE doc_id % 4 WHEN 0 THEN 'www.alpha.example.com' "
    "WHEN 1 THEN 'beta.example.org' WHEN 2 THEN 'cdn.gamma.net' "
    "ELSE 'delta.io' END, "
    "'/p/', CAST(doc_id AS STRING), "
    "CASE WHEN doc_id % 7 = 0 THEN ' and http://dup.example.com/x' "
    "ELSE '' END)"
)


@_register("url_host_stats")
def _uhs(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_UHS_PLANT).alias("text")
    )
    return TX.url_host_stats(docs).select(
        "host",
        "domain",
        F.col("n_urls").cast("long"),
        F.col("n_docs").cast("long"),
    )


@_oracle("url_host_stats")
def _uhs_o():
    plant = _UHS_PLANT.replace("AS STRING", "AS VARCHAR")
    hosts = TS.url_hosts_sql("text", TS.DUCKDB)
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id, {plant} AS text FROM documents
),
hx AS MATERIALIZED (
  SELECT doc_id, unnest({hosts}) AS host FROM planted
)
SELECT host,
       {TS.domain_sql('host', TS.DUCKDB)} AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM hx GROUP BY host
"""


# ===========================================================================
# deterministic weighted sampling (operators/text.sample_by_weight):
# per-doc keep probability derived from the quality score (quality/2 +
# 250k ppm, spanning sparse to dense keeps); the kept SET is compared
# row-by-row — any hash or threshold divergence flips membership.
# ===========================================================================

@_register("weighted_sample")
def _wsmp(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = TX.with_quality_score(docs)
    weighted = scored.withColumn(
        "weight_ppm", F.expr("quality DIV 2 + 250000")
    )
    out = TX.sample_by_weight(weighted, weight_ppm="weight_ppm")
    return out.select(
        F.col("doc_id").cast("long"),
        "source",
        F.col("weight_ppm").cast("long"),
    )


@_oracle("weighted_sample")
def _wsmp_o():
    q = TS.quality_score_sql("text")
    h = TS.md5_prefix_int_sql(
        "concat('s0', ':', CAST(doc_id AS VARCHAR))", TS.DUCKDB
    )
    return f"""
WITH weighted AS MATERIALIZED (
  SELECT doc_id, source, ({q}) // 2 + 250000 AS weight_ppm FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(weight_ppm AS BIGINT) AS weight_ppm
FROM weighted
WHERE ({h}) % 1000000 < weight_ppm
"""


# ===========================================================================
# image dedup keep-best (operators/multimodal.image_dedup_keep_best):
# synthetic phash corpus (the multimodal_neardup recipe — md5-derived
# 60-bit hashes, dup copies at doc_id + shift with a 2-bit or 28-bit
# mask) + a planted quality that alternates which side of each dup pair
# wins, so the keeper genuinely exercises quality ordering through
# banding -> connected components -> salted keep-best.  The banding is
# recall-exact, so the oracle is brute-force pairs + recursive-CTE CC.
# ===========================================================================

_IDK_SHIFT = 400000
_IDK_MASK_SQL = "CASE doc_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 96 ELSE 268435455 END"
_IDK_QUAL_SQL = "(doc_id * 13) % 1000"
_IDK_DQUAL_SQL = (
    "(doc_id * 13) % 1000 + CASE WHEN doc_id % 2 = 0 THEN 500 ELSE -500 END"
)


@_register("image_dedup_keep_best")
def _idk(spark, sf_dir):
    from .operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ph0 = TS.md5_prefix_int_sql("CAST(doc_id AS STRING)", TS.SPARK)
    base = docs.select(
        F.col("doc_id").alias("image_id"),
        F.expr(ph0).alias("phash"),
        F.expr(_IDK_QUAL_SQL).alias("quality"),
    )
    dups = docs.select(
        (F.col("doc_id") + _IDK_SHIFT).alias("image_id"),
        F.expr(f"({ph0}) ^ ({_IDK_MASK_SQL})").alias("phash"),
        F.expr(_IDK_DQUAL_SQL).alias("quality"),
    )
    corpus = base.unionByName(dups)
    kept = MM.image_dedup_keep_best(corpus, max_hamming=3)
    return kept.select(
        F.col("image_id").cast("long"),
        F.col("phash").cast("long"),
        F.col("quality").cast("long"),
    )


@_oracle("image_dedup_keep_best")
def _idk_o():
    ph0 = TS.md5_prefix_int_sql("CAST(doc_id AS VARCHAR)", TS.DUCKDB)
    return f"""
WITH RECURSIVE corpus AS MATERIALIZED (
  SELECT doc_id AS image_id, {ph0} AS phash,
         {_IDK_QUAL_SQL} AS quality
  FROM documents
  UNION ALL
  SELECT doc_id + {_IDK_SHIFT}, xor({ph0}, {_IDK_MASK_SQL}),
         {_IDK_DQUAL_SQL}
  FROM documents
),
pairs AS MATERIALIZED (
  SELECT l.image_id AS a, r.image_id AS b
  FROM corpus l JOIN corpus r ON l.image_id < r.image_id
  WHERE bit_count(xor(l.phash, r.phash)) <= 3
),
edges AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
),
reach(id, r) AS (
  SELECT CAST(image_id AS BIGINT), CAST(image_id AS BIGINT) FROM corpus
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comps AS (
  SELECT id AS image_id, MIN(r) AS comp FROM reach GROUP BY id
),
ranked AS (
  SELECT c.image_id, c.phash, c.quality,
         ROW_NUMBER() OVER (PARTITION BY m.comp
                            ORDER BY c.quality DESC, c.image_id ASC) AS rn
  FROM corpus c JOIN comps m ON m.image_id = c.image_id
)
SELECT CAST(image_id AS BIGINT) AS image_id,
       CAST(phash AS BIGINT) AS phash,
       CAST(quality AS BIGINT) AS quality
FROM ranked WHERE rn = 1
"""


# ===========================================================================
# boilerplate-line removal (operators/text.remove_boilerplate_lines):
# the corpus-wide CCNet step — a 4-line layout is planted where line 2
# is a footer shared by ALL docs and line 4 a banner shared by every
# 2nd doc; min_df=50 removes both everywhere while the per-doc substr
# lines (df ~ 1) survive.  Both engines key line identity on the same
# 60-bit md5 prefix, so the gate compares full rebuilt texts per doc.
# ===========================================================================

_BPL_PLANT = (
    "concat(substr(text, 1, 30), chr(10), "
    "'all rights reserved footer line', chr(10), "
    "substr(text, 31, 25), chr(10), "
    "CASE WHEN doc_id % 2 = 0 THEN 'accept cookies to continue' "
    "ELSE substr(text, 61, 20) END)"
)
_BPL_MIN_DF = 50


@_register("boilerplate_lines")
def _bpl(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_BPL_PLANT).alias("text")
    )
    out = TX.remove_boilerplate_lines(docs, min_df=_BPL_MIN_DF)
    return out.select(
        F.col("doc_id").cast("long"),
        "text_clean",
        F.col("n_boiler_lines").cast("long"),
    )


@_oracle("boilerplate_lines")
def _bpl_o():
    lines = TS.lines_array_sql("text", TS.DUCKDB)
    lh = TS.md5_prefix_int_sql("line", TS.DUCKDB)
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id, {_BPL_PLANT} AS text FROM documents
),
lx AS MATERIALIZED (
  SELECT doc_id, unnest(lines) AS line,
         generate_subscripts(lines, 1) AS pos
  FROM (SELECT doc_id, {lines} AS lines FROM planted) t
),
hx AS MATERIALIZED (
  SELECT doc_id, pos, line, {lh} AS lh FROM lx
),
hot AS MATERIALIZED (
  SELECT lh FROM (SELECT lh, COUNT(DISTINCT doc_id) AS d FROM hx GROUP BY lh)
  WHERE d >= {_BPL_MIN_DF}
),
fx AS MATERIALIZED (
  SELECT hx.doc_id, hx.pos, hx.line, hot.lh IS NOT NULL AS is_hot
  FROM hx LEFT JOIN hot ON hot.lh = hx.lh
),
rb AS (
  SELECT doc_id,
         COALESCE(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE NOT is_hot), '') AS text_clean,
         CAST(COUNT(*) FILTER (WHERE is_hot) AS BIGINT) AS n_boiler_lines
  FROM fx GROUP BY doc_id
)
SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
       COALESCE(rb.text_clean, '') AS text_clean,
       COALESCE(rb.n_boiler_lines, 0) AS n_boiler_lines
FROM planted p LEFT JOIN rb ON rb.doc_id = p.doc_id
"""


# ===========================================================================
# the web-crawl half of curation in ONE DAG (r6 capstone, the
# curation_pipeline_v2 pattern): planted markup + a universal footer
# line + per-doc PII -> boilerplate-line removal -> markup strip -> PII
# redaction -> quality score -> keep quality >= threshold -> per-source
# stats.  Every stage is individually gated; this pins their
# interaction and staging ORDER (line dedup must run while lines still
# exist — strip_markup collapses LF).
# ===========================================================================

_WCP_PLANT = (
    "concat('<h1>', substr(text, 1, 30), '</h1>', chr(10), "
    "'subscribe to our newsletter', chr(10), "
    "'<p>', substr(text, 31), '</p> reach user', "
    "CAST(doc_id AS STRING), '@mail.example.org')"
)
_WCP_MIN_DF = 50
_WCP_QCUT = 400000


@_register("web_curation_pipeline")
def _wcp(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_WCP_PLANT).alias("text")
    )
    step1 = TX.remove_boilerplate_lines(docs, min_df=_WCP_MIN_DF)
    step2 = TX.strip_markup(step1, text="text_clean")
    step3 = TX.redact_pii(step2, text="text_stripped")
    step4 = TX.with_quality_score(step3, text="text_stripped")
    # the cut is folded into conditional aggregates, NOT a filter: a
    # filter over an expensive derived column gets alias-SUBSTITUTED
    # through the projection by predicate pushdown (no cost model), so
    # `filter(quality >= cut)` would re-inline the whole strip+redact
    # regex chain ~14x into the filter condition (measured 5.4s -> 2.3s
    # at sf0.1; optimized-plan regexp_replace count 70 -> 11)
    keep = F.col("quality") >= _WCP_QCUT
    return (
        step4.groupBy("source")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(keep, F.col("n_boiler_lines"))).cast("long").alias("n_boiler"),
            F.sum(F.when(keep, F.col("n_tags"))).cast("long").alias("n_tags"),
            F.sum(F.when(keep, F.col("n_pii_redacted"))).cast("long").alias("n_pii"),
            F.sum(F.when(keep, F.col("quality"))).cast("long").alias("sum_quality"),
        )
        .filter(F.col("n_docs") > 0)
    )


@_oracle("web_curation_pipeline")
def _wcp_o():
    plant = _WCP_PLANT.replace("AS STRING", "AS VARCHAR")
    lines = TS.lines_array_sql("text", TS.DUCKDB)
    lh = TS.md5_prefix_int_sql("line", TS.DUCKDB)
    stripped = TS.strip_markup_sql("text_clean", TS.DUCKDB)
    ntags = TS.tag_count_sql("text_clean", TS.DUCKDB)
    red = TS.redact_pii_sql("text_stripped", TS.DUCKDB)
    npii = TS.pii_count_sql("text_stripped", TS.DUCKDB)
    q = TS.quality_score_sql("text_redacted")
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id, source, {plant} AS text FROM documents
),
lx AS MATERIALIZED (
  SELECT doc_id, unnest(lines) AS line,
         generate_subscripts(lines, 1) AS pos
  FROM (SELECT doc_id, {lines} AS lines FROM planted) t
),
hx AS MATERIALIZED (
  SELECT doc_id, pos, line, {lh} AS lh FROM lx
),
hot AS MATERIALIZED (
  SELECT lh FROM (SELECT lh, COUNT(DISTINCT doc_id) AS d FROM hx GROUP BY lh)
  WHERE d >= {_WCP_MIN_DF}
),
fx AS MATERIALIZED (
  SELECT hx.doc_id, hx.pos, hx.line, hot.lh IS NOT NULL AS is_hot
  FROM hx LEFT JOIN hot ON hot.lh = hx.lh
),
rb AS MATERIALIZED (
  SELECT doc_id,
         COALESCE(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE NOT is_hot), '') AS text_clean,
         CAST(COUNT(*) FILTER (WHERE is_hot) AS BIGINT) AS n_boiler_lines
  FROM fx GROUP BY doc_id
),
cleaned AS MATERIALIZED (
  SELECT p.doc_id, p.source,
         COALESCE(rb.text_clean, '') AS text_clean,
         COALESCE(rb.n_boiler_lines, 0) AS n_boiler_lines
  FROM planted p LEFT JOIN rb ON rb.doc_id = p.doc_id
),
strippedx AS MATERIALIZED (
  SELECT doc_id, source, n_boiler_lines,
         {stripped} AS text_stripped, {ntags} AS n_tags
  FROM cleaned
),
redacted AS MATERIALIZED (
  SELECT doc_id, source, n_boiler_lines, n_tags,
         {red} AS text_redacted, {npii} AS n_pii_redacted
  FROM strippedx
),
scored AS MATERIALIZED (
  SELECT source, n_boiler_lines, n_tags, n_pii_redacted,
         CAST({q} AS BIGINT) AS quality
  FROM redacted
)
SELECT source,
       CAST(COUNT(*) FILTER (WHERE quality >= {_WCP_QCUT}) AS BIGINT)
         AS n_docs,
       CAST(SUM(n_boiler_lines) FILTER (WHERE quality >= {_WCP_QCUT})
            AS BIGINT) AS n_boiler,
       CAST(SUM(n_tags) FILTER (WHERE quality >= {_WCP_QCUT}) AS BIGINT)
         AS n_tags,
       CAST(SUM(n_pii_redacted) FILTER (WHERE quality >= {_WCP_QCUT})
            AS BIGINT) AS n_pii,
       CAST(SUM(quality) FILTER (WHERE quality >= {_WCP_QCUT}) AS BIGINT)
         AS sum_quality
FROM scored
GROUP BY source
HAVING COUNT(*) FILTER (WHERE quality >= {_WCP_QCUT}) > 0
"""


# ===========================================================================
# temperature mixture sampling (operators/text.
# temperature_sample_by_source): source sizes are made UNEQUAL by a
# deterministic thinning keyed on the source index (idx % 3 -> keep
# 1/2, 1/3 or 1/4 of docs), then tau = 1/2 rebalances toward uniform.
# The keep set is compared row-by-row; the rate math is sqrt-only
# (exact IEEE on both engines) so the oracle reproduces it bit-for-bit.
# ===========================================================================

_TMS_THIN = "(doc_id % (2 + CAST(substr(source, 4) AS INT) % 3)) = 0"


@_register("temperature_mixture")
def _tms(spark, sf_dir):
    docs = (
        _ts(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .filter(F.expr(_TMS_THIN))
    )
    out = TX.temperature_sample_by_source(docs, tau_quarters=2)
    return out.select(F.col("doc_id").cast("long"), "source")


@_oracle("temperature_mixture")
def _tms_o():
    h = TS.md5_prefix_int_sql(
        "concat('t0', ':', CAST(doc_id AS VARCHAR))", TS.DUCKDB
    )
    x = "(CAST(nmin AS DOUBLE) / CAST(ns AS DOUBLE))"
    return f"""
WITH thinned AS MATERIALIZED (
  SELECT doc_id, source FROM documents WHERE {_TMS_THIN}
),
counts AS MATERIALIZED (
  SELECT source, COUNT(*) AS ns FROM thinned GROUP BY source
),
rates AS MATERIALIZED (
  SELECT source,
         CAST(FLOOR(1000000.0 * sqrt({x})) AS BIGINT) AS rppm
  FROM counts CROSS JOIN (SELECT MIN(ns) AS nmin FROM counts) m
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, t.source
FROM thinned t JOIN rates r ON r.source = t.source
WHERE ({h}) % 1000000 < r.rppm
"""


# ===========================================================================
# training-sequence packing (operators/packing.pack_sequences): global
# concat-and-chunk of the documents table into fixed-budget token
# windows.  The Spark side runs the two-level distributed scan
# (within-bucket window + broadcast bucket offsets — no single-partition
# global sort); the oracle is the NAIVE global prefix-sum window, so the
# gate pins that the scalable decomposition is bit-identical to the
# simple definition.  bucket_width 64 forces multi-bucket routing even
# at sf0.001.
# ===========================================================================

_PACK_BUDGET = 2048
_PACK_BUCKET_W = 64


@_register("pack_sequences")
def _pks(spark, sf_dir):
    from .operators.packing import pack_sequences

    out = pack_sequences(
        _ts(spark, sf_dir, "documents"),
        _PACK_BUDGET,
        bucket_width=_PACK_BUCKET_W,
    )
    return out.select(
        F.col("seq").cast("long"),
        F.col("seq_off").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("doc_off").cast("long"),
        F.col("n_tokens").cast("long"),
    )


@_oracle("pack_sequences")
def _pks_o():
    toks = TS.bpe_token_count_sql("text", TS.DUCKDB)
    L = _PACK_BUDGET
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, CAST({toks} AS BIGINT) AS tok FROM documents
),
nz AS MATERIALIZED (
  SELECT doc_id, tok,
         CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS g
  FROM d WHERE tok > 0
),
spans AS MATERIALIZED (
  SELECT doc_id, tok, g,
         UNNEST(generate_series(g // {L}, (g + tok - 1) // {L})) AS seq
  FROM nz
)
SELECT CAST(seq AS BIGINT) AS seq,
       CAST(GREATEST(g, seq * {L}) - seq * {L} AS BIGINT) AS seq_off,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(GREATEST(g, seq * {L}) - g AS BIGINT) AS doc_off,
       CAST(LEAST(g + tok, (seq + 1) * {L})
            - GREATEST(g, seq * {L}) AS BIGINT) AS n_tokens
FROM spans
"""


# ===========================================================================
# cross-modal duplicate audit: the 'any' policy of multimodal_neardup_
# pairs classified by modality agreement — both / image_only /
# caption_only — over the same planted three-class corpus.  Mismatched
# classes are the curation signal (caption spam over distinct images;
# watermark/template images under distinct captions).  NULL metrics
# (the modality that did not match) are filled with -1 on BOTH engines
# so the value-hash comparison is deterministic.
# ===========================================================================


@_register("cross_modal_audit")
def _cma(spark, sf_dir):
    from .operators import multimodal as MM

    corpus = _mm_corpus(spark, sf_dir)
    out = MM.multimodal_neardup_pairs(corpus, n=_MM_N, policy="any")
    return out.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.when(F.col("hamming").isNull(), F.lit("caption_only"))
        .when(F.col("jaccard_ppm").isNull(), F.lit("image_only"))
        .otherwise(F.lit("both"))
        .alias("dup_class"),
        F.coalesce(F.col("hamming"), F.lit(-1)).cast("long").alias("hamming"),
        F.coalesce(F.col("jaccard_ppm"), F.lit(-1)).cast("long").alias("jaccard_ppm"),
    )


@_oracle("cross_modal_audit")
def _cma_o():
    base = GATE["multimodal_neardup"]["oracle"]()
    # same himg/txt CTEs, FULL OUTER composition instead of the inner join
    head, _tail = base.rsplit("SELECT CAST(h.a AS BIGINT)", 1)
    return (
        head
        + """SELECT CAST(COALESCE(h.a, t.a) AS BIGINT) AS a,
       CAST(COALESCE(h.b, t.b) AS BIGINT) AS b,
       CASE WHEN h.a IS NULL THEN 'caption_only'
            WHEN t.a IS NULL THEN 'image_only'
            ELSE 'both' END AS dup_class,
       CAST(COALESCE(h.hamming, -1) AS BIGINT) AS hamming,
       CAST(COALESCE(t.jaccard_ppm, -1) AS BIGINT) AS jaccard_ppm
FROM himg h FULL OUTER JOIN txt t ON t.a = h.a AND t.b = h.b
"""
    )


# ===========================================================================
# integer BM25 top-k retrieval (operators/retrieval.bm25_topk): queries
# are every 50th document's first 60 characters (substr is identical on
# both engines, so a word cut mid-query truncates identically); k=5 per
# query, rank ties broken by doc_id.  idf is the rarity-score integer
# bit trick; the saturation ratio is the pure-integer 44Ttf/(20Ttf+6T+
# 18*dl*N) rational form (k1=6/5, b=3/4) floored to per-thousand units.
# ===========================================================================

_BM25_K = 5


@_register("bm25_topk")
def _bm25(spark, sf_dir):
    from .operators.retrieval import bm25_topk

    docs = (
        _ts(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _BM25_CAP)
        .select("doc_id", "text")
    )
    qs = docs.filter(F.expr("doc_id % 50 = 7")).select(
        F.col("doc_id").alias("qid"),
        F.expr("substr(text, 1, 60)").alias("qtext"),
    )
    out = bm25_topk(docs, qs, k=_BM25_K)
    return out.select(
        F.col("qid").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("score_ppk").cast("long"),
        F.col("rk").cast("long"),
    )


@_oracle("bm25_topk")
def _bm25_o():
    words = "list_filter(string_split({src}, ' '), x -> len(x) > 0)"
    return f"""
WITH w AS MATERIALIZED (
  SELECT doc_id, unnest({words.format(src='text')}) AS w FROM documents
  WHERE doc_id < {_BM25_CAP}
),
tf AS MATERIALIZED (
  SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w
),
dl AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
st AS MATERIALIZED (
  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS t FROM dl
),
qw AS MATERIALIZED (
  SELECT doc_id AS qid, unnest({words.format(src="substr(text, 1, 60)")}) AS w
  FROM documents WHERE doc_id % 50 = 7 AND doc_id < {_BM25_CAP}
),
q AS MATERIALIZED (SELECT DISTINCT qid, w FROM qw),
dfw AS MATERIALIZED (
  SELECT w, COUNT(*) AS dfw FROM tf
  WHERE w IN (SELECT w FROM q) GROUP BY w
),
sc AS MATERIALIZED (
  SELECT q.qid, tf.doc_id,
         CAST(SUM(((64 - len(bin(dfw.dfw))) * 44000 * st.t * tf.tf)
             // (20 * st.t * tf.tf + 6 * st.t + 18 * dl.dl * st.n))
             AS BIGINT) AS score_ppk
  FROM tf
  JOIN q USING (w)
  JOIN dfw USING (w)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
  GROUP BY q.qid, tf.doc_id
)
SELECT CAST(qid AS BIGINT) AS qid,
       CAST(doc_id AS BIGINT) AS doc_id,
       score_ppk,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT qid, doc_id, score_ppk,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score_ppk DESC, doc_id) AS rk
  FROM sc
) WHERE rk <= {_BM25_K}
"""


# ===========================================================================
# spatially-constrained image dedup (operators/multimodal.
# geo_image_dedup_keep_best) — the graft cell (geospatial x image) in
# one operator: phash-near pairs count as duplicates ONLY when taken
# within 500 m great-circle of each other.  Corpus plants three classes
# by doc_id parity/mask: co-located 2-bit flips (true dups — keeper by
# planted quality), DISPLACED 2-bit flips (+0.1 deg lon ~ 11 km:
# phash-near but spatially distinct, both survive), and co-located
# 28-bit flips (phash-far, both survive).  Positions are the shared
# synthetic footprint centres; the chord verify is the libm-pinned
# 2R*sqrt(hav) integer-mm form (trajectory.chord_mm_sql).
# ===========================================================================

_GID_SHIFT = 500000
_GID_MASK_SQL = "CASE doc_id % 3 WHEN 0 THEN 5 WHEN 1 THEN 96 ELSE 268435455 END"
_GID_DISP_SQL = "CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1000000 END"
_GID_RADIUS_MM = 500_000


def _gid_corpus(spark, sf_dir):
    from .sources import synth

    e = synth.synth_geo_exprs("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ph0 = TS.md5_prefix_int_sql("CAST(doc_id AS STRING)", TS.SPARK)
    base = docs.select(
        F.col("doc_id").alias("image_id"),
        F.expr(ph0).alias("phash"),
        F.expr("(doc_id * 13) % 1000").alias("quality"),
        F.expr(e["lon"]).alias("lon"),
        F.expr(e["lat"]).alias("lat"),
    )
    dups = docs.select(
        (F.col("doc_id") + _GID_SHIFT).alias("image_id"),
        F.expr(f"({ph0}) ^ ({_GID_MASK_SQL})").alias("phash"),
        F.expr(
            "(doc_id * 13) % 1000 + CASE WHEN doc_id % 2 = 0 THEN 500 ELSE -500 END"
        ).alias("quality"),
        F.expr(f"({e['lon']}) + ({_GID_DISP_SQL})").alias("lon"),
        F.expr(e["lat"]).alias("lat"),
    )
    return base.unionByName(dups)


@_register("geo_image_dedup")
def _gid(spark, sf_dir):
    from .operators import multimodal as MM

    kept = MM.geo_image_dedup_keep_best(
        _gid_corpus(spark, sf_dir), max_hamming=3, radius_mm=_GID_RADIUS_MM
    )
    return kept.select(
        F.col("image_id").cast("long"),
        F.col("phash").cast("long"),
        F.col("quality").cast("long"),
        F.col("lon").cast("long"),
        F.col("lat").cast("long"),
    )


@_oracle("geo_image_dedup")
def _gid_o():
    from .operators.trajectory import chord_mm_sql
    from .sources import synth

    e = synth.synth_geo_exprs("doc_id")
    ph0 = TS.md5_prefix_int_sql("CAST(doc_id AS VARCHAR)", TS.DUCKDB)
    chord = chord_mm_sql("l.lon", "l.lat", "r.lon", "r.lat")
    return f"""
WITH RECURSIVE corpus AS MATERIALIZED (
  SELECT doc_id AS image_id, {ph0} AS phash,
         (doc_id * 13) % 1000 AS quality,
         {e['lon']} AS lon, {e['lat']} AS lat
  FROM documents
  UNION ALL
  SELECT doc_id + {_GID_SHIFT}, xor({ph0}, {_GID_MASK_SQL}),
         (doc_id * 13) % 1000
           + CASE WHEN doc_id % 2 = 0 THEN 500 ELSE -500 END,
         ({e['lon']}) + ({_GID_DISP_SQL}), {e['lat']}
  FROM documents
),
pairs AS MATERIALIZED (
  SELECT l.image_id AS a, r.image_id AS b
  FROM corpus l JOIN corpus r ON l.image_id < r.image_id
  WHERE bit_count(xor(l.phash, r.phash)) <= 3
    AND {chord} <= {_GID_RADIUS_MM}
),
edges AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
),
reach(id, r) AS (
  SELECT CAST(image_id AS BIGINT), CAST(image_id AS BIGINT) FROM corpus
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
comps AS (
  SELECT id AS image_id, MIN(r) AS comp FROM reach GROUP BY id
),
ranked AS (
  SELECT c.image_id, c.phash, c.quality, c.lon, c.lat,
         ROW_NUMBER() OVER (PARTITION BY m.comp
                            ORDER BY c.quality DESC, c.image_id ASC) AS rn
  FROM corpus c JOIN comps m ON m.image_id = c.image_id
)
SELECT CAST(image_id AS BIGINT) AS image_id,
       CAST(phash AS BIGINT) AS phash,
       CAST(quality AS BIGINT) AS quality,
       CAST(lon AS BIGINT) AS lon,
       CAST(lat AS BIGINT) AS lat
FROM ranked WHERE rn = 1
"""


# ===========================================================================
# per-group packing (pack_sequences group_col mode): independent
# concat-and-chunk streams per documents.source — the sharded training
# layout (one sequence namespace per shard).  Oracle is the per-group
# naive prefix-sum window.
# ===========================================================================


@_register("pack_by_source")
def _pkg(spark, sf_dir):
    from .operators.packing import pack_sequences

    out = pack_sequences(
        _ts(spark, sf_dir, "documents"), _PACK_BUDGET, group_col="source"
    )
    return out.select(
        F.col("source"),
        F.col("seq").cast("long"),
        F.col("seq_off").cast("long"),
        F.col("doc_id").cast("long"),
        F.col("doc_off").cast("long"),
        F.col("n_tokens").cast("long"),
    )


@_oracle("pack_by_source")
def _pkg_o():
    toks = TS.bpe_token_count_sql("text", TS.DUCKDB)
    L = _PACK_BUDGET
    return f"""
WITH d AS MATERIALIZED (
  SELECT source, doc_id, CAST({toks} AS BIGINT) AS tok FROM documents
),
nz AS MATERIALIZED (
  SELECT source, doc_id, tok,
         CAST(COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS g
  FROM d WHERE tok > 0
),
spans AS MATERIALIZED (
  SELECT source, doc_id, tok, g,
         UNNEST(generate_series(g // {L}, (g + tok - 1) // {L})) AS seq
  FROM nz
)
SELECT source,
       CAST(seq AS BIGINT) AS seq,
       CAST(GREATEST(g, seq * {L}) - seq * {L} AS BIGINT) AS seq_off,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(GREATEST(g, seq * {L}) - g AS BIGINT) AS doc_off,
       CAST(LEAST(g + tok, (seq + 1) * {L})
            - GREATEST(g, seq * {L}) AS BIGINT) AS n_tokens
FROM spans
"""


# ===========================================================================
# resize pipeline gate (operators/multimodal.resize_nearest -> decode_
# verify): nearest-neighbour downscale of the PNG synthetic images to
# 20x12, then per-image exact channel sums of the RESIZED pixels — the
# oracle derives the same sums purely arithmetically from the pixel
# generator (R depends only on x, G only on y, B on x+y) composed with
# the floor source-index mapping x = X*w // out_w.  PSNR/equality check
# runs against a python ref of the identical composition (psnr_ok
# must be all-1).
# ===========================================================================

_RSZ_W, _RSZ_H = 20, 12


@_register("resize_stats")
def _rsz(spark, sf_dir):
    import numpy as np

    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N).filter(F.col("fmt") == "png")
    small = MM.resize_nearest(images, _RSZ_W, _RSZ_H)

    def ref(image_id: str, w: int, h: int):
        i = int(image_id[3:])
        iw, ih = FX.W_CYCLE[i % 4], FX.H_CYCLE[i % 4]
        px = FX.synth_pixels(i, iw, ih)
        ys = (np.arange(_RSZ_H) * ih // _RSZ_H).astype(int)
        xs = (np.arange(_RSZ_W) * iw // _RSZ_W).astype(int)
        return px[ys][:, xs]

    out = MM.decode_verify(small, ref)
    return out.select(
        F.col("image_id"),
        F.col("w").cast("int"),
        F.col("h").cast("int"),
        F.col("n_pixels").cast("long"),
        F.col("sum_r").cast("long"),
        F.col("sum_g").cast("long"),
        F.col("sum_b").cast("long"),
        F.col("psnr_ok").cast("long"),
    )


@_oracle("resize_stats")
def _rsz_o():
    from .sources.fixtures import FMT_CYCLE, H_CYCLE, W_CYCLE

    png_pos = FMT_CYCLE.index("png")
    w_case = " ".join(f"WHEN {i} THEN {w}" for i, w in enumerate(W_CYCLE))
    h_case = " ".join(f"WHEN {i} THEN {h}" for i, h in enumerate(H_CYCLE))
    OW, OH = _RSZ_W, _RSZ_H
    return f"""
WITH imgs AS MATERIALIZED (
  SELECT CAST(t.i AS BIGINT) AS i, printf('img%012d', t.i) AS image_id,
         CAST((CASE t.i % 4 {w_case} END) AS BIGINT) AS w,
         CAST((CASE t.i % 4 {h_case} END) AS BIGINT) AS h
  FROM range({_IDS_N}) t(i) WHERE t.i % {len(FMT_CYCLE)} = {png_pos}),
rsum AS (
  SELECT i.i, SUM((((x.range * i.w // {OW}) * 255) // (i.w - 1) + i.i) % 256) AS sr
  FROM imgs i, range({OW}) x GROUP BY i.i),
gsum AS (
  SELECT i.i, SUM((((y.range * i.h // {OH}) * 255) // (i.h - 1) + 2 * i.i) % 256) AS sg
  FROM imgs i, range({OH}) y GROUP BY i.i),
bsum AS (
  SELECT i.i, SUM(((x.range * i.w // {OW}) + (y.range * i.h // {OH}) + 3 * i.i) % 256) AS sb
  FROM imgs i, range({OW}) x, range({OH}) y GROUP BY i.i)
SELECT im.image_id,
       CAST({OW} AS INT) AS w, CAST({OH} AS INT) AS h,
       CAST({OW} * {OH} AS BIGINT) AS n_pixels,
       CAST(r.sr * {OH} AS BIGINT) AS sum_r,
       CAST(g.sg * {OW} AS BIGINT) AS sum_g,
       CAST(b.sb AS BIGINT) AS sum_b,
       CAST(1 AS BIGINT) AS psnr_ok
FROM imgs im
JOIN rsum r ON r.i = im.i
JOIN gsum g ON g.i = im.i
JOIN bsum b ON b.i = im.i
"""


# ===========================================================================
# video frame sampling (operators/multimodal.sample_frames) + audio DSP
# features (audio_features), over deterministic fixture codecs.  Frame f
# of video v is synth_pixels(v*101 + f), so the sampled frames' channel
# sums derive arithmetically (every_n = 3 keeps frames 0,3,6,9 of 12);
# audio clips are s[k] = ((k*k + 7i) % 20001) - 10000, whose squared
# sums stay < 2^53 — the RMS floor(sqrt(sum/n)*1000) is the pinned
# div/sqrt/mul/floor chain, engine-identical.
# ===========================================================================

_VID_N = 8
_VID_EVERY = 3
_AUD_N = 24


@_register("frame_sample_stats")
def _fss(spark, sf_dir):
    import numpy as np

    from .operators import multimodal as MM
    from .sources import fixtures as FX

    vdf = local_frame(
        spark, FX.synth_video_rows(_VID_N), "video_id string, bytes binary"
    )
    frames = MM.sample_frames(vdf, every_n=_VID_EVERY)
    imgs = frames.select(
        F.concat(F.col("video_id"), F.lit(":"), F.col("frame_idx")).alias(
            "image_id"
        ),
        F.col("frame_idx"),
        F.col("bytes"),
        F.col("w"),
        F.col("h"),
        F.lit("png").alias("fmt"),
    )

    def ref(image_id: str, w: int, h: int):
        vid, fidx = image_id.split(":")
        return FX.synth_pixels(
            int(vid[3:]) * 101 + int(fidx), FX.VID_W, FX.VID_H
        )

    out = MM.decode_verify(imgs, ref)
    return out.select(
        F.col("image_id"),
        F.col("n_pixels").cast("long"),
        F.col("sum_r").cast("long"),
        F.col("sum_g").cast("long"),
        F.col("sum_b").cast("long"),
        F.col("psnr_ok").cast("long"),
    )


@_oracle("frame_sample_stats")
def _fss_o():
    from .sources.fixtures import VID_FRAMES, VID_H, VID_W

    return f"""
WITH vf AS MATERIALIZED (
  SELECT v.range AS v, f.range AS f,
         CAST(v.range * 101 + f.range AS BIGINT) AS i
  FROM range({_VID_N}) v, range({VID_FRAMES}) f
  WHERE f.range % {_VID_EVERY} = 0),
rsum AS (
  SELECT vf.v, vf.f, SUM((x.range * 255 // ({VID_W} - 1) + vf.i) % 256) AS sr
  FROM vf, range({VID_W}) x GROUP BY vf.v, vf.f),
gsum AS (
  SELECT vf.v, vf.f, SUM((y.range * 255 // ({VID_H} - 1) + 2 * vf.i) % 256) AS sg
  FROM vf, range({VID_H}) y GROUP BY vf.v, vf.f),
bsum AS (
  SELECT vf.v, vf.f,
         SUM((x.range + y.range + 3 * vf.i) % 256) AS sb
  FROM vf, range({VID_W}) x, range({VID_H}) y GROUP BY vf.v, vf.f)
SELECT printf('vid%06d:%d', vf.v, vf.f) AS image_id,
       CAST({VID_W} * {VID_H} AS BIGINT) AS n_pixels,
       CAST(r.sr * {VID_H} AS BIGINT) AS sum_r,
       CAST(g.sg * {VID_W} AS BIGINT) AS sum_g,
       CAST(b.sb AS BIGINT) AS sum_b,
       CAST(1 AS BIGINT) AS psnr_ok
FROM vf
JOIN rsum r ON r.v = vf.v AND r.f = vf.f
JOIN gsum g ON g.v = vf.v AND g.f = vf.f
JOIN bsum b ON b.v = vf.v AND b.f = vf.f
"""


@_register("frame_diff_stats")
def _fds(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    vdf = local_frame(
        spark, FX.synth_video_rows(_VID_N), "video_id string, bytes binary"
    )
    return MM.frame_diff_stats(vdf).select(
        F.col("video_id"),
        F.col("frame_idx").cast("int"),
        F.col("diff_l1").cast("long"),
    )


@_oracle("frame_diff_stats")
def _fds_o():
    from .sources.fixtures import VID_FRAMES, VID_H, VID_W

    # frame f = synth_pixels(v*101 + f): consecutive seeds differ by 1,
    # so per-pixel diffs are |(base + i2) % 256 - (base + i1) % 256| —
    # mostly the seed delta, 256 minus it at each wrap; summed exactly.
    return f"""
WITH vf AS MATERIALIZED (
  SELECT v.range AS v, f.range AS f,
         CAST(v.range * 101 + f.range AS BIGINT) AS i2,
         CAST(v.range * 101 + f.range - 1 AS BIGINT) AS i1
  FROM range({_VID_N}) v, range(1, {VID_FRAMES}) f),
rd AS (
  SELECT vf.v, vf.f,
         SUM(ABS((x.range * 255 // ({VID_W} - 1) + i2) % 256
               - (x.range * 255 // ({VID_W} - 1) + i1) % 256)) AS d
  FROM vf, range({VID_W}) x GROUP BY vf.v, vf.f),
gd AS (
  SELECT vf.v, vf.f,
         SUM(ABS((y.range * 255 // ({VID_H} - 1) + 2 * i2) % 256
               - (y.range * 255 // ({VID_H} - 1) + 2 * i1) % 256)) AS d
  FROM vf, range({VID_H}) y GROUP BY vf.v, vf.f),
bd AS (
  SELECT vf.v, vf.f,
         SUM(ABS((x.range + y.range + 3 * i2) % 256
               - (x.range + y.range + 3 * i1) % 256)) AS d
  FROM vf, range({VID_W}) x, range({VID_H}) y GROUP BY vf.v, vf.f)
SELECT printf('vid%06d', vf.v) AS video_id, CAST(vf.f AS INT) AS frame_idx,
       CAST(r.d * {VID_H} + g.d * {VID_W} + b.d AS BIGINT) AS diff_l1
FROM vf
JOIN rd r ON r.v = vf.v AND r.f = vf.f
JOIN gd g ON g.v = vf.v AND g.f = vf.f
JOIN bd b ON b.v = vf.v AND b.f = vf.f
"""


@_register("audio_feature_stats")
def _afs(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    adf = local_frame(
        spark, FX.synth_audio_rows(_AUD_N), "audio_id string, bytes binary"
    )
    out = MM.audio_features(adf)
    return out.select(
        F.col("audio_id"),
        F.col("sample_rate").cast("long"),
        F.col("n_samples").cast("long"),
        F.col("duration_ms").cast("long"),
        F.col("rms_milli").cast("long"),
        F.col("zero_crossings").cast("long"),
    )


@_oracle("audio_feature_stats")
def _afs_o():
    from .sources.fixtures import AUD_BASE_N

    s = "(((k.range * k.range + 7 * a.i) % 20001) - 10000)"
    sp = "(((p * p + 7 * a.i) % 20001) - 10000)"
    return f"""
WITH a AS MATERIALIZED (
  SELECT CAST(t.i AS BIGINT) AS i,
         CAST({AUD_BASE_N} + 100 * (t.i % 5) AS BIGINT) AS n,
         CAST(8000 + 4000 * (t.i % 2) AS BIGINT) AS sr
  FROM range({_AUD_N}) t(i)),
agg AS (
  SELECT a.i, a.n, a.sr,
         CAST(SUM({s} * {s}) AS BIGINT) AS ss,
         CAST(SUM(CASE WHEN k.range > 0 AND
                       (({sp.replace('p', '(k.range - 1)')}) >= 0)
                       != ({s} >= 0)
                  THEN 1 ELSE 0 END) AS BIGINT) AS zc
  FROM a, range({AUD_BASE_N} + 400) k
  WHERE k.range < a.n
  GROUP BY a.i, a.n, a.sr)
SELECT printf('aud%06d', i) AS audio_id,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // sr AS BIGINT) AS duration_ms,
       CAST(FLOOR(sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) * 1000.0)
            AS BIGINT) AS rms_milli,
       zc AS zero_crossings
FROM agg
"""


# ===========================================================================
# distributed BPE merge learning (operators/bpe.learn_bpe_merges): the
# tokenizer-training loop as checkpoint-per-round Spark (the pagerank
# discipline); the oracle unrolls the identical rounds as MATERIALIZED
# CTE stages (pair explode -> argmax with count DESC, left, right
# tie-break -> replace()-applied merge).  String-exact: symbols are
# [a-z]+ so byte order == lexicographic on both engines, and both
# engines' replace() is left-to-right non-overlapping — classic BPE's
# merge-application order.
# ===========================================================================

_BPE_K = 8


@_register("bpe_merges")
def _bpem(spark, sf_dir):
    from .operators.bpe import learn_bpe_merges

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    out = learn_bpe_merges(docs, _BPE_K)
    return out.select(
        F.col("rk").cast("long"),
        "left",
        "right",
        F.col("pair_count").cast("long"),
    )


@_oracle("bpe_merges")
def _bpem_o():
    wx = TS.bpe_word_extract_sql("text", TS.DUCKDB)
    spaced = TS.bpe_spaced_sql("w", TS.DUCKDB)
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT {spaced} AS s, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest({wx}) AS w FROM documents) t
  GROUP BY 1
)"""
    ]
    sel = []
    for k in range(_BPE_K):
        ap = TS.bpe_merge_apply_sql("s", "l", "r")
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT sy[i+1] AS l, sy[i+2] AS r, CAST(SUM(c) AS BIGINT) AS cnt
  FROM (SELECT sy, c, unnest(range(0, len(sy) - 1)) AS i
        FROM (SELECT list_filter(string_split(s, ' '), x -> len(x) > 0) AS sy,
                     c
              FROM w{k}) t0
        WHERE len(sy) >= 2) t1
  GROUP BY l, r
)"""
        )
        parts.append(
            f"""b{k} AS MATERIALIZED (
  SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
)"""
        )
        parts.append(
            f"""w{k + 1} AS MATERIALIZED (
  SELECT {ap} AS s, c FROM w{k} CROSS JOIN b{k}
)"""
        )
        sel.append(
            f"SELECT CAST({k + 1} AS BIGINT) AS rk, l AS left, r AS right, "
            f"cnt AS pair_count FROM b{k}"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


# ===========================================================================
# integer-exact bigram surprisal (operators/text.with_bigram_surprisal):
# the conditional-probability extension of rarity_score — per adjacent
# word pair, length(bin(c1)) - length(bin(c12)) whole bits of
# -log2 p(w2|w1); per-doc mean in millionths via true int64 DIV.
# ===========================================================================


@_register("bigram_surprisal")
def _bgs(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.with_bigram_surprisal(docs)
    return out.select(
        F.col("doc_id").cast("long"), F.col("surprisal_ppm").cast("long")
    )


@_oracle("bigram_surprisal")
def _bgs_o():
    return """
WITH wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
bg AS MATERIALIZED (
  SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 1)) AS i
        FROM wsx WHERE len(ws) >= 2) t
),
lefts AS MATERIALIZED (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
bgc AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
scored AS MATERIALIZED (
  SELECT bg.doc_id,
         CAST((SUM(len(bin(c1)) - len(bin(c12))) * 1000000) // COUNT(*)
              AS BIGINT) AS surprisal_ppm
  FROM bg JOIN bgc USING (w1, w2) JOIN lefts USING (w1)
  GROUP BY bg.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(s.surprisal_ppm, 0) AS surprisal_ppm
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


# ===========================================================================
# web_curation_pipeline v3 stage: markup strip -> bigram-surprisal score
# -> keep-below-cut per-source stats.  Pins the surprisal/strip
# interaction (scores computed over STRIPPED text — markup tokens would
# otherwise dominate the bigram tables) with the same conditional-
# aggregate cut shape as web_curation_pipeline (no filter re-inlining).
# ===========================================================================

_CSC_PLANT = (
    "concat('<h1>', substr(text, 1, 30), '</h1> <p>', substr(text, 31), "
    "'</p>')"
)
_CSC_CUT = 4600000


@_register("curation_surprisal_cut")
def _csc(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_CSC_PLANT).alias("text")
    )
    step1 = TX.strip_markup(docs)
    step2 = TX.with_bigram_surprisal(step1, text="text_stripped")
    keep = F.col("surprisal_ppm") <= _CSC_CUT
    return (
        step2.groupBy("source")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(keep, F.col("surprisal_ppm")))
            .cast("long")
            .alias("sum_surprisal"),
        )
        .filter(F.col("n_docs") > 0)
    )


@_oracle("curation_surprisal_cut")
def _csc_o():
    plant = _CSC_PLANT.replace("AS STRING", "AS VARCHAR")
    stripped = TS.strip_markup_sql("text", TS.DUCKDB)
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id, source, {plant} AS text FROM documents
),
strippedx AS MATERIALIZED (
  SELECT doc_id, source, {stripped} AS ts FROM planted
),
wsx AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(ts, ' '), w -> len(w) > 0) AS ws
  FROM strippedx
),
bg AS MATERIALIZED (
  SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 1)) AS i
        FROM wsx WHERE len(ws) >= 2) t
),
lefts AS MATERIALIZED (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
bgc AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
scored AS MATERIALIZED (
  SELECT bg.doc_id,
         CAST((SUM(len(bin(c1)) - len(bin(c12))) * 1000000) // COUNT(*)
              AS BIGINT) AS sp
  FROM bg JOIN bgc USING (w1, w2) JOIN lefts USING (w1)
  GROUP BY bg.doc_id
),
docsp AS MATERIALIZED (
  SELECT s.source, COALESCE(sc.sp, 0) AS sp
  FROM strippedx s LEFT JOIN scored sc ON sc.doc_id = s.doc_id
)
SELECT source,
       CAST(COUNT(*) FILTER (WHERE sp <= {_CSC_CUT}) AS BIGINT) AS n_docs,
       CAST(SUM(sp) FILTER (WHERE sp <= {_CSC_CUT}) AS BIGINT)
         AS sum_surprisal
FROM docsp
GROUP BY source
HAVING COUNT(*) FILTER (WHERE sp <= {_CSC_CUT}) > 0
"""


# ===========================================================================
# deterministic shuffle-and-shard assignment (operators/shards.
# shard_assignments): seeded md5 sort key, global rank via the two-level
# scan (hash-prefix buckets + driver prefix — never a global window),
# shard = rank DIV rows_per_shard.  The oracle is the naive global
# ROW_NUMBER over (hash, id), so the gate pins that the scalable
# decomposition equals the simple definition.  The materializing writer
# (write_shards) reuses the checkpointed tile writer and is pinned by
# tests/test_round7.py's resume test.
# ===========================================================================

_SHD_ROWS = 64
_SHD_SEED = "r7shard"


@_register("shuffle_shards")
def _shd(spark, sf_dir):
    from .operators.shards import shard_assignments

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = shard_assignments(docs, _SHD_ROWS, _SHD_SEED)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("shard").cast("long"),
        F.col("pos").cast("long"),
    )


@_oracle("shuffle_shards")
def _shd_o():
    h = TS.md5_prefix_int_sql(
        f"concat('{_SHD_SEED}', ':', CAST(doc_id AS VARCHAR))", TS.DUCKDB
    )
    return f"""
WITH h AS MATERIALIZED (SELECT doc_id, {h} AS h FROM documents),
r AS MATERIALIZED (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS rn FROM h
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rn // {_SHD_ROWS} AS BIGINT) AS shard,
       CAST(rn % {_SHD_ROWS} AS BIGINT) AS pos
FROM r
"""


# ---------------------------------------------------------------------------
# token-budget mixture sampling (operators/text.sample_to_token_budget):
# per-source "give me B_s tokens" selection in seeded shuffle order — the
# step between mixture weights and sequence packing.  The oracle is the
# NAIVE per-source window form (the two-level scan must be bit-identical
# to it); src0 gets an explicit tight budget, src1 budget 0 (keeps
# nothing), everything else the default — all three budget paths bind at
# sf0.01 and above.
# ---------------------------------------------------------------------------

_TBM_SEED = "bt7"
_TBM_BUDGETS = {"src0": 150, "src1": 0}
_TBM_DEFAULT = 400


@_register("token_budget_mixture")
def _tbm(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = TX.sample_to_token_budget(
        docs, _TBM_BUDGETS, seed=_TBM_SEED, default_budget=_TBM_DEFAULT
    )
    return out.select(
        F.col("doc_id").cast("long"),
        "source",
        F.col("n_tokens").cast("long"),
    )


@_oracle("token_budget_mixture")
def _tbm_o():
    tokc = TS.bpe_token_count_sql("text", TS.DUCKDB)
    h = TS.md5_prefix_int_sql(
        f"concat('{_TBM_SEED}', ':', CAST(doc_id AS VARCHAR))", TS.DUCKDB
    )
    cases = " ".join(
        f"WHEN '{s}' THEN {b}" for s, b in _TBM_BUDGETS.items()
    )
    return f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, source, CAST({tokc} AS BIGINT) AS tok, {h} AS h
  FROM documents
),
c AS MATERIALIZED (
  SELECT doc_id, source, tok,
         CAST(SUM(tok) OVER (PARTITION BY source ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - tok AS pre
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(tok AS BIGINT) AS n_tokens
FROM c
WHERE pre < CASE source {cases} ELSE {_TBM_DEFAULT} END
"""


# ---------------------------------------------------------------------------
# pairwise cross-source overlap from mergeable KMV sketches
# (operators/sketch.kmv_set_ops): union/intersection/Jaccard estimates
# between every two sources over their word-bigram shingle sets — the
# sketch-level overlap audit that never joins the sources themselves.
# Values are bigrams (~hundreds distinct per source) so the k=64
# estimator actually estimates; the intersection/Jaccard arithmetic is
# integer multiply + DIV and the union estimate is the identical
# mul/div/floor as distinct_kmv — bit-exact both engines.
# ---------------------------------------------------------------------------

_KSO_K = 64
_KSO_SALT = "kmv-v1"


@_register("kmv_source_overlap")
def _kso(spark, sf_dir):
    from .operators.sketch import kmv_set_ops

    docs = _ts(spark, sf_dir, "documents").select("source", "text")
    # stage the split ONCE per row: inlining filter(split(...)) into the
    # transform lambda re-splits the text per element (~4s -> ~0.4s at
    # sf0.1; CollapseProject keeps the stage, gate_text convention shared
    # with bpe.py/text.py's __sy/__ws staging)
    wsdf = docs.select(
        "source",
        F.expr("filter(split(text, ' '), w -> length(w) > 0)").alias("__ws"),
    )
    bigrams = wsdf.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(__ws) - 2), "
                "i -> concat(__ws[i], ':', __ws[i+1]))"
            )
        ).alias("bg"),
    )
    out = kmv_set_ops(bigrams, "bg", "source", k=_KSO_K, salt=_KSO_SALT)
    return out.select(
        "src_a",
        "src_b",
        F.col("union_est").cast("long"),
        F.col("inter_est").cast("long"),
        F.col("jaccard_permille").cast("long"),
        "union_exact",
        F.col("sketch_k").cast("long"),
    )


@_oracle("kmv_source_overlap")
def _kso_o():
    h = TS.md5_prefix_int_sql(
        f"concat('{_KSO_SALT}', ':', CAST(bg AS VARCHAR))", TS.DUCKDB
    )
    scale = repr(float((_KSO_K - 1) * (1 << 60)))
    return f"""
WITH wsx AS MATERIALIZED (
  SELECT source, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
  FROM documents
),
bgs AS MATERIALIZED (
  SELECT source, ws[i+1] || ':' || ws[i+2] AS bg
  FROM (SELECT source, ws, unnest(range(0, len(ws) - 1)) AS i
        FROM wsx WHERE len(ws) >= 2) t
),
hashed AS MATERIALIZED (
  SELECT DISTINCT source, {h} AS h FROM bgs
),
ranked AS MATERIALIZED (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC) AS rk
  FROM hashed
),
bottom AS MATERIALIZED (
  SELECT source, h FROM ranked WHERE rk <= {_KSO_K}
),
gs AS MATERIALIZED (SELECT DISTINCT source FROM bottom),
gp AS MATERIALIZED (
  SELECT a.source AS ga, b.source AS gb
  FROM gs a JOIN gs b ON a.source < b.source
),
memb AS MATERIALIZED (
  SELECT gp.ga, gp.gb, bo.h FROM gp JOIN bottom bo ON bo.source = gp.ga
  UNION ALL
  SELECT gp.ga, gp.gb, bo.h FROM gp JOIN bottom bo ON bo.source = gp.gb
),
u AS MATERIALIZED (
  SELECT ga, gb, h, COUNT(*) = 2 AS inboth FROM memb GROUP BY ga, gb, h
),
r2 AS MATERIALIZED (
  SELECT ga, gb, h, inboth,
         ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h ASC) AS rk
  FROM u
),
st AS MATERIALIZED (
  SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS seen, MAX(h) AS kth,
         CAST(SUM(CASE WHEN inboth THEN 1 ELSE 0 END) AS BIGINT) AS nboth
  FROM r2 WHERE rk <= {_KSO_K} GROUP BY ga, gb
),
est AS MATERIALIZED (
  SELECT ga, gb, seen, nboth,
         CASE WHEN seen < {_KSO_K} THEN seen
              ELSE CAST(FLOOR({scale} / CAST(kth AS DOUBLE)) AS BIGINT)
         END AS union_est
  FROM st
)
SELECT ga AS src_a, gb AS src_b, union_est,
       CAST((nboth * union_est) // seen AS BIGINT) AS inter_est,
       CAST((nboth * 1000) // seen AS BIGINT) AS jaccard_permille,
       seen < {_KSO_K} AS union_exact,
       CAST({_KSO_K} AS BIGINT) AS sketch_k
FROM est
"""


# ---------------------------------------------------------------------------
# tokenizer ENCODE path (operators/bpe.encode_bpe_ids): documents ->
# token-id sequences under a FIXED merge table (learning is gated by
# bpe_merges; a constant table keeps the oracle's chain unrolled, not
# re-learned).  Ids are the lexicographic numbering of the final symbol
# strings — engine-independent for [a-z]+ symbols.  The gate checks the
# order-invariant per-doc aggregates (count + id sum); sequence ORDER is
# pinned by the pure-python net in tests/test_round7.py.
# ---------------------------------------------------------------------------

_ENC_MERGES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("s", "c"), ("sc", "a"), ("q", "u"), ("e", "r"),
]


@_register("bpe_encode_ids")
def _enc(spark, sf_dir):
    from .operators.bpe import encode_bpe_ids

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    out = encode_bpe_ids(docs, _ENC_MERGES)
    return out.select(
        F.col("doc_id").cast("long"),
        F.size("bpe_ids").cast("long").alias("n_tokens"),
        F.expr(
            "aggregate(bpe_ids, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("id_sum"),
    )


@_oracle("bpe_encode_ids")
def _enc_o():
    wx = TS.bpe_word_extract_sql("text", TS.DUCKDB)
    spaced = TS.bpe_spaced_sql("w", TS.DUCKDB)
    chain = "s"
    for l, r in _ENC_MERGES:
        chain = TS.bpe_merge_apply_sql(chain, f"'{l}'", f"'{r}'")
    return f"""
WITH dw AS MATERIALIZED (
  SELECT doc_id, w FROM (SELECT doc_id, unnest({wx}) AS w FROM documents) t
),
v0 AS MATERIALIZED (
  SELECT DISTINCT w, {spaced} AS s FROM dw
),
vz AS MATERIALIZED (
  SELECT w, {chain} AS s FROM v0
),
vsym AS MATERIALIZED (
  SELECT w, unnest(list_filter(string_split(s, ' '), x -> len(x) > 0)) AS sym
  FROM vz
),
ids AS MATERIALIZED (
  SELECT sym, ROW_NUMBER() OVER (ORDER BY sym ASC) - 1 AS id
  FROM (SELECT DISTINCT sym FROM vsym) t
),
wsum AS MATERIALIZED (
  SELECT vsym.w, CAST(COUNT(*) AS BIGINT) AS ntok,
         CAST(SUM(ids.id) AS BIGINT) AS idsum
  FROM vsym JOIN ids USING (sym) GROUP BY vsym.w
),
agg AS MATERIALIZED (
  SELECT dw.doc_id, CAST(SUM(ws.ntok) AS BIGINT) AS n_tokens,
         CAST(SUM(ws.idsum) AS BIGINT) AS id_sum
  FROM dw JOIN wsum ws USING (w) GROUP BY dw.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.id_sum, 0) AS id_sum
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


# ===========================================================================
# raster pyramid (operators/raster.raster_pyramid): one level up the tile
# pyramid — each parent raster is the mosaic of its children's DECODED
# 0..255 luminance grids, 2x2-box-summed into the child's quadrant.  The
# gate output (tile, n_children, sum_lum, max_lum) is derived relationally:
# child pixel counts (the raster_tiles cov machinery) -> the SAME integer
# display scaling grid_to_png applies (cnt*255 // per-tile max) -> parent
# pixel = SUM over the 2x2 block (cx//2 + qx*32, cy//2 + qy*32).  Parent /
# quadrant placement comes from the INDEPENDENT scalar oracle
# (tests/oracle_qt.py qt_round + as_bbox centre comparison), not the
# engine's bit math.  The gate therefore pins the real PNG encode ->
# decode -> downsample -> re-encode path end to end; parent PNG bytes are
# additionally pixel-verified in tests/test_raster.py.
# ===========================================================================

_RP_N = 20000
_RP_TARGET = 800
_RP_SIZE = 64


def _rp_pipeline(spark):
    from .functions import qt_spark as qs
    from .operators import raster as RA
    from .plans import pipeline as P

    base = spark.range(_RP_N).select(F.col("id"))
    fp = P.with_synth_footprint(base, "id")
    with_qt = qs.with_bbox_qt(fp, "minlon", "minlat", "maxlon", "maxlat", "qt")
    assigned, _ = P.assign_tiles(
        with_qt, "qt", None, target=_RP_TARGET, persist=False
    )
    return RA.materialize_raster_tiles(
        assigned.select("tile", "minlon", "minlat", "maxlon", "maxlat"),
        size=_RP_SIZE,
    )


@_register("raster_pyramid")
def _rp(spark, sf_dir):
    from .operators import raster as RA

    pyr = RA.raster_pyramid(_rp_pipeline(spark))
    return pyr.select(
        F.col("tile").cast("long"),
        F.col("n_children").cast("long"),
        F.col("sum_lum").cast("long"),
        F.col("max_lum").cast("long"),
    )


@_oracle("raster_pyramid")
def _rp_o():
    import os
    import sys

    from .functions import qt_sql as qsql
    from .gate import _oracle_route_sql, _oracle_synth_groups
    from .sources import synth

    tests_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
    )
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    import oracle_qt as OQ

    e = synth.synth_geo_exprs("id")
    base = (
        f"SELECT id, {e['minlon']} AS minlon, {e['minlat']} AS minlat, "
        f"{e['maxlon']} AS maxlon, {e['maxlat']} AS maxlat "
        f"FROM range({_RP_N}) t(id)"
    )
    enc = qsql.qt_calculate_subquery(
        base,
        "minlon",
        "minlat",
        "maxlon",
        "maxlat",
        "qt",
        ("id", "minlon", "minlat", "maxlon", "maxlat"),
    )
    gcells, gvals = _oracle_synth_groups(_RP_N, _RP_TARGET)
    tiles = sorted({0, *(int(c) for c in gcells)})
    tb_rows = []
    for t in tiles:
        mnl, mnt, mxl, mxt = (int(v) for v in OQ.as_bbox(t, 0.05))
        sx = _RP_SIZE / max(mxl - mnl, 1)
        sy = _RP_SIZE / max(mxt - mnt, 1)
        tb_rows.append(
            f"({t}, {mnl}, {mnt}, {mxl}, {mxt}, "
            f"CAST({sx!r} AS DOUBLE), CAST({sy!r} AS DOUBLE))"
        )
    tbvals = ", ".join(tb_rows)
    # parent + quadrant per child tile, via the independent scalar oracle:
    # parent = qt_round(depth-1); quadrant from unbuffered bbox centres
    pq_rows = []
    for t in tiles:
        d = OQ.depth(t)
        if d == 0:
            continue
        p = OQ.qt_round(t, d - 1)
        cb = [float(v) for v in OQ.as_bbox(t, 0.0)]
        pb = [float(v) for v in OQ.as_bbox(p, 0.0)]
        qx = 1 if (cb[0] + cb[2]) / 2 > (pb[0] + pb[2]) / 2 else 0
        qy = 0 if (cb[1] + cb[3]) / 2 > (pb[1] + pb[3]) / 2 else 1
        pq_rows.append(f"({t}, {p}, {qx}, {qy})")
    pqvals = ", ".join(pq_rows)
    hi = _RP_SIZE - 1
    half = _RP_SIZE // 2

    def _px(v: str) -> str:
        return f"GREATEST(LEAST(CAST(TRUNC({v}) AS BIGINT), {hi}), 0)"

    return f"""
WITH enc AS ({enc}),
groups(cell, d) AS (VALUES {gvals}),
assigned AS (
  SELECT q.id, q.minlon, q.minlat, q.maxlon, q.maxlat,
         {_oracle_route_sql('q.qt')} AS tile
  FROM enc q),
tb(tile, tminlon, tminlat, tmaxlon, tmaxlat, sx, sy) AS (VALUES {tbvals}),
pq(tile, parent, qx, qy) AS (VALUES {pqvals}),
px AS MATERIALIZED (
  SELECT a.tile,
         {_px("CAST(a.minlon - tb.tminlon AS DOUBLE) * tb.sx")} AS x0,
         {_px("CAST(a.maxlon - tb.tminlon AS DOUBLE) * tb.sx")} AS x1,
         {_px("CAST(tb.tmaxlat - a.maxlat AS DOUBLE) * tb.sy")} AS y0,
         {_px("CAST(tb.tmaxlat - a.minlat AS DOUBLE) * tb.sy")} AS y1
  FROM assigned a JOIN tb ON a.tile = tb.tile
  WHERE a.tile IN (SELECT tile FROM pq)),
cells AS MATERIALIZED (
  SELECT t.tile, gx.range AS cx, gy.range AS cy
  FROM (SELECT DISTINCT tile FROM px) t, range({_RP_SIZE}) gx,
       range({_RP_SIZE}) gy),
cov AS MATERIALIZED (
  SELECT c.tile, c.cx, c.cy, COUNT(*) AS cnt
  FROM cells c JOIN px p
    ON p.tile = c.tile AND c.cx BETWEEN p.x0 AND p.x1
   AND c.cy BETWEEN p.y0 AND p.y1
  GROUP BY c.tile, c.cx, c.cy),
mx AS MATERIALIZED (
  SELECT tile, MAX(cnt) AS mx FROM cov GROUP BY tile),
lum AS MATERIALIZED (
  SELECT c.tile, c.cx, c.cy, (c.cnt * 255) // m.mx AS lum
  FROM cov c JOIN mx m ON c.tile = m.tile),
pgrid AS MATERIALIZED (
  SELECT pq.parent, (l.cx // 2) + pq.qx * {half} AS gx,
         (l.cy // 2) + pq.qy * {half} AS gy,
         CAST(SUM(l.lum) AS BIGINT) AS v
  FROM lum l JOIN pq ON l.tile = pq.tile
  GROUP BY pq.parent, gx, gy),
nch AS MATERIALIZED (
  SELECT pq.parent, CAST(COUNT(*) AS BIGINT) AS n_children
  FROM (SELECT DISTINCT tile FROM px) a JOIN pq ON a.tile = pq.tile
  GROUP BY pq.parent)
SELECT CAST(n.parent AS BIGINT) AS tile, n.n_children,
       CAST(g.sum_lum AS BIGINT) AS sum_lum,
       CAST(g.max_lum AS BIGINT) AS max_lum
FROM nch n JOIN (
  SELECT parent, SUM(v) AS sum_lum, MAX(v) AS max_lum
  FROM pgrid GROUP BY parent) g ON n.parent = g.parent
"""


# ===========================================================================
# image entropy (operators/multimodal.channel_entropy over
# image_histogram): integer whole-bit entropy proxy per channel —
# n*len(bin(n)) - sum(c*len(bin(c))), zero for single-bin (flat)
# channels.  Oracle composes the histogram CTEs with the same algebra.
# ===========================================================================


@_register("image_entropy")
def _ien(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N).filter(F.col("fmt") == "png")
    hist = MM.image_histogram(images, bins=_IHB_BINS)
    return MM.channel_entropy(hist).select(
        F.col("image_id"),
        F.col("channel"),
        F.col("n_px").cast("long"),
        F.col("ent_bits").cast("long"),
    )


@_oracle("image_entropy")
def _ien_o():
    inner = _ihb_o().strip()
    return f"""
WITH hist AS MATERIALIZED ({inner})
SELECT image_id, channel,
       CAST(SUM(cnt) AS BIGINT) AS n_px,
       CAST(SUM(cnt) * len(bin(SUM(cnt)))
            - SUM(cnt * len(bin(cnt))) AS BIGINT) AS ent_bits
FROM hist GROUP BY image_id, channel
"""


# ===========================================================================
# image curation pipeline (composition gate, the image twin of
# web_curation_pipeline / mobility_pipeline): keep images that are not
# flat (min per-channel entropy), have real structure (Sobel edge
# pixels), and are not clipped (bounded mass in the extreme brightness
# bins); roll up the survivors' patch sums.  Composes channel_entropy +
# image_gradient_stats + image_histogram + patch_stats in one plan; the
# oracle composes their closed-form CTEs with identical threshold
# algebra.  Thresholds probed to bite on the fixture corpus.
# ===========================================================================

_ICP_MIN_ENT = 380        # per-channel ent_bits floor (corpus min 362, median 412)
_ICP_MIN_EDGE = 50        # edge-pixel floor (thr 512)
_ICP_CLIP_PPM = 110_000   # max mass in bins 0 and 15, ppm (corpus p80 ~104k, max 260k)


@_register("image_curation_pipeline")
def _icp(spark, sf_dir):
    from .operators import multimodal as MM
    from .sources import fixtures as FX

    images = FX.images_spark_df(spark, _IDS_N).filter(F.col("fmt") == "png")
    # hist is consumed twice (entropy + clipping); Spark recomputes
    # shared subplans per consumer (CLAUDE.md), and each recompute is a
    # full decode pass — localCheckpoint the <= 3*bins*N-row frame once
    # (blocks are the returned frame's to release via ContextCleaner)
    hist = MM.image_histogram(images, bins=_IHB_BINS).localCheckpoint(
        eager=True
    )
    ent = MM.channel_entropy(hist).groupBy("image_id").agg(
        F.min("ent_bits").alias("min_ent")
    )
    grad = MM.image_gradient_stats(images, edge_thr=_IGR_THR).select(
        "image_id", "edge_px"
    )
    clip = hist.groupBy("image_id").agg(
        F.sum("cnt").alias("__tot"),
        F.sum(
            F.when(F.col("bin").isin(0, _IHB_BINS - 1), F.col("cnt"))
            .otherwise(F.lit(0))
        ).alias("__ext"),
    ).select(
        "image_id",
        F.expr(
            "CAST((__ext * 1000000) DIV __tot AS BIGINT)"
        ).alias("clip_ppm"),
    )
    keep = (
        ent.join(grad, "image_id")
        .join(clip, "image_id")
        .filter(
            (F.col("min_ent") >= _ICP_MIN_ENT)
            & (F.col("edge_px") >= _ICP_MIN_EDGE)
            & (F.col("clip_ppm") <= _ICP_CLIP_PPM)
        )
        .select("image_id")
    )
    patches = MM.patch_stats(images, patch=_PST_P).join(keep, "image_id")
    return patches.groupBy("image_id").agg(
        F.count("*").alias("n_patches"),
        F.sum("sum_r").alias("tot_r"),
        F.sum("sum_g").alias("tot_g"),
        F.sum("sum_b").alias("tot_b"),
    ).select(
        "image_id",
        F.col("n_patches").cast("long"),
        F.col("tot_r").cast("long"),
        F.col("tot_g").cast("long"),
        F.col("tot_b").cast("long"),
    )


@_oracle("image_curation_pipeline")
def _icp_o():
    hist = _ihb_o().strip()
    grad = _igr_o().strip()
    pst = _pst_o().strip()
    return f"""
WITH hist AS MATERIALIZED ({hist}),
ent AS MATERIALIZED (
  SELECT image_id, MIN(e) AS min_ent FROM (
    SELECT image_id, channel,
           SUM(cnt) * len(bin(SUM(cnt))) - SUM(cnt * len(bin(cnt))) AS e
    FROM hist GROUP BY image_id, channel)
  GROUP BY image_id
),
grad AS MATERIALIZED (
  SELECT image_id, edge_px FROM ({grad})
),
clip AS MATERIALIZED (
  SELECT image_id,
         (SUM(CASE WHEN bin IN (0, {_IHB_BINS - 1}) THEN cnt ELSE 0 END)
          * 1000000) // SUM(cnt) AS clip_ppm
  FROM hist GROUP BY image_id
),
keep AS MATERIALIZED (
  SELECT e.image_id FROM ent e
  JOIN grad g ON g.image_id = e.image_id
  JOIN clip c ON c.image_id = e.image_id
  WHERE e.min_ent >= {_ICP_MIN_ENT} AND g.edge_px >= {_ICP_MIN_EDGE}
    AND c.clip_ppm <= {_ICP_CLIP_PPM}
),
patches AS MATERIALIZED ({pst})
SELECT p.image_id, CAST(COUNT(*) AS BIGINT) AS n_patches,
       CAST(SUM(p.sum_r) AS BIGINT) AS tot_r,
       CAST(SUM(p.sum_g) AS BIGINT) AS tot_g,
       CAST(SUM(p.sum_b) AS BIGINT) AS tot_b
FROM patches p JOIN keep k ON k.image_id = p.image_id
GROUP BY p.image_id
"""
