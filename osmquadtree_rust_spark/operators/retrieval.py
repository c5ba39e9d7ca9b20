"""Integer-exact BM25 top-k retrieval over the documents corpus.

Training-data pipelines use BM25 retrieval for data selection and
retrieval-based decontamination (pull the corpus documents closest to an
eval query, then audit/drop).  Classic BM25 is float soup; this form is
bit-deterministic cross-engine by the repo's integer disciplines:

  * idf(w) = 64 - (floor(log2(df_w)) + 1), computed as
    64 - length(bin(df_w)) — the exact integer bit trick behind
    with_rarity_score (no float log anywhere).
  * With the standard constants as rationals (k1 = 6/5, b = 3/4) the
    per-term saturation is a pure integer ratio: writing A = T/N
    (T = total corpus tokens, N = docs with >= 1 token),

        tf*(k1+1) / (tf + k1*(1 - b + b*dl/A))
      = 44*T*tf / (20*T*tf + 6*T + 18*dl*N)

    — multiply through by 20*T, then by N: every factor is a BIGINT.
  * score contribution (per thousand): FLOOR(1000 * idf * that ratio),
    i.e. (idf * 44000 * T * tf) DIV (20*T*tf + 6*T + 18*dl*N); summed
    per (query, doc) as exact integers.  Query tokens are DISTINCT
    (unit query term frequency — the standard short-query form).

Exactness bound: the numerator idf*44000*T*tf must fit int64, i.e.
T * tf < 2^63 / (64*44000) ~= 3.27e15 — comfortable for corpora into the
10^12-token range with realistic per-doc term frequencies.  The guard
lives INSIDE the scoring projection (a separate assert filter would
break whole-stage codegen) and raises rather than silently wrapping
(Spark's non-ANSI int64 arithmetic wraps).  Beyond that bound, shard the
corpus and merge per-shard top-k.

Plan shape: one corpus shuffle builds the (doc, word, tf) table; doc
lengths fold out of it by aggregation (no second corpus scan); query
terms broadcast into the tf table, so df/dl joins touch only matched
rows; final ranking is the skew-safe two-pass top_k_per_group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .text import split_words, top_k_per_group

_IDF_SCALE = 64 * 44000  # worst-case numerator factor ahead of T*tf


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "qid",
    qtext: str = "qtext",
) -> DataFrame:
    """Top-k corpus documents per query under integer BM25 (module
    docstring).  Returns (qid_col, id_col, score_ppk, rk) with rk the
    1-based rank per query, ordered (score desc, id asc) — documents
    sharing no token with the query never appear; queries matching
    fewer than k documents return fewer rows."""
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    words = docs.select(
        F.col(id_col), F.explode(split_words(text)).alias("__w")
    )
    # tf feeds four consumers (stats, dl-join, matched, dfw) and Spark
    # re-evaluates a subplan once per consumer — persist it and let the
    # stats collect drive the cache (CLAUDE.md cache-lifecycle pattern);
    # released before return, with the small top-k result checkpointed.
    tf = words.groupBy(id_col, "__w").agg(F.count("*").alias("__tf")).persist()
    dl = tf.groupBy(id_col).agg(F.sum("__tf").alias("__dl"))
    stats = dl.agg(
        F.count("*").alias("n"), F.sum("__dl").alias("t")
    ).collect()[0]
    n_docs, total = int(stats["n"] or 0), int(stats["t"] or 0)
    if total == 0:
        tf.unpersist()
        spark = docs.sparkSession
        return local_frame(
            spark, [], f"{qid_col} long, {id_col} long, score_ppk long, rk long"
        )
    max_tf = (2**63 - 1) // (_IDF_SCALE * total)
    if max_tf < 1:
        raise ValueError(
            f"corpus too large for int64 BM25: total tokens {total} "
            f"exceeds the 2^63/(64*44000) bound; shard and merge top-k"
        )
    qt = (
        queries.select(
            F.col(qid_col), F.explode(split_words(qtext)).alias("__w")
        )
        .distinct()
    )
    matched = tf.join(F.broadcast(qt), "__w")
    dfw = (
        tf.join(F.broadcast(qt.select("__w").distinct()), "__w", "left_semi")
        .groupBy("__w")
        .agg(F.count("*").alias("__df"))
    )
    term = (
        f"CASE WHEN __tf > {max_tf} THEN "
        f"CAST(raise_error('bm25_topk: tf * corpus-size product exceeds "
        f"the int64 exactness bound; shard the corpus') AS BIGINT) "
        f"ELSE ((64L - length(bin(__df))) * 44000L * {total}L * __tf) DIV "
        f"(20L * {total}L * __tf + 6L * {total}L + 18L * __dl * {n_docs}L) END"
    )
    scored = (
        matched.join(F.broadcast(dfw), "__w")
        .join(dl, id_col)
        .withColumn("__term", F.expr(term))
        .groupBy(qid_col, id_col)
        .agg(F.sum("__term").alias("score_ppk"))
    )
    # the result is k rows per query (queries are metadata-scale: eval
    # sets, probe sets) — checkpoint it eagerly so the tf cache can be
    # released before return
    out = top_k_per_group(
        scored, group=qid_col, order="score_ppk", k=k, id_col=id_col
    ).localCheckpoint(eager=True)
    tf.unpersist()
    return out
