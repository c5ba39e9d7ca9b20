"""Distributed BPE merge learning — the tokenizer-training step every
pretraining pipeline runs once per corpus.

Classic byte-pair encoding trains on the WORD-FREQUENCY table, not the
corpus: extract lowercase-alpha words (functions/text_sql.
bpe_word_extract_sql), aggregate (word -> count) once, and every merge
round after that touches only the vocabulary — at 100 TB the vocabulary
is millions of rows where the corpus is trillions, so the per-round cost
is vocabulary-sized regardless of corpus size.

Each round is one aggregate + one driver argmax + one projection:

  1. explode adjacent symbol pairs of every spaced word, weight by word
     count, aggregate (left, right) -> sum — map-side combinable, no
     sort;
  2. the best pair (count DESC, then left, right — a total, deterministic
     order: symbols are [a-z]+ so byte order == lexicographic on both
     engines) comes to the driver via TakeOrdered(1);
  3. apply the merge with plain replace() over the DOUBLE-spaced symbol
     string (text_sql.bpe_merge_apply_sql): the pair pattern is bounded
     by the inner spaces of the double separators, so replace()'s
     left-to-right non-overlapping scan reproduces classic BPE's merge
     order exactly, including same-symbol runs (seeded-net-pinned
     against a pure-python classic BPE in tests/test_round7.py).

Per-round lineage is truncated with an eager localCheckpoint and the
previous generation unpersisted — the pagerank/connected_components
discipline (operators/graph.py): constant plan depth, no Catalyst
blow-up at high merge counts.

The whole procedure is integer/string-exact, so the DuckDB gate oracle
unrolls the same rounds as MATERIALIZED CTE stages (gate_text.py
`bpe_merges`) and the result is bit-identical.  No reference-repo
counterpart: this is an LLM-pipeline extension (SURVEY §2 'beyond the
reference' family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text_sql as TS
from ..session import local_frame

_PAIRS_EXPR = (
    "transform(sequence(0, size(__sy) - 2), "
    "i -> struct(__sy[i] AS l, __sy[i+1] AS r))"
)


def _spaced_words(docs: DataFrame, text: str) -> DataFrame:
    """(__s, __c): the spaced-symbol word-frequency table."""
    wx = TS.bpe_word_extract_sql(text, TS.SPARK)
    return (
        docs.select(F.explode(F.expr(wx)).alias("__w"))
        .groupBy("__w")
        .agg(F.count("*").alias("__c"))
        .select(
            F.expr(TS.bpe_spaced_sql("__w", TS.SPARK)).alias("__s"), "__c"
        )
    )


def learn_bpe_merges(
    docs: DataFrame, n_merges: int, text: str = "text"
) -> DataFrame:
    """Learn up to `n_merges` BPE merges over the corpus' lowercase-alpha
    words.  Returns a small DataFrame (rk, left, right, pair_count):
    merge #rk (1-based) joined symbols `left`+`right`, which co-occurred
    adjacently `pair_count` times (weighted by word frequency) at the
    time it was learned.  Stops early when no adjacent pair remains
    (every word fully merged).  Deterministic: ties break on
    (left, right) lexicographic."""
    if n_merges < 1:
        raise ValueError(f"n_merges={n_merges} must be >= 1")
    spark = docs.sparkSession
    cur = _spaced_words(docs, text).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    syms = "filter(split(__s, ' '), x -> length(x) > 0)"
    for rk in range(1, int(n_merges) + 1):
        pairs = (
            cur.select(F.expr(syms).alias("__sy"), "__c")
            .filter(F.size("__sy") >= 2)
            .select(F.explode(F.expr(_PAIRS_EXPR)).alias("__p"), "__c")
            .groupBy(F.col("__p.l").alias("l"), F.col("__p.r").alias("r"))
            .agg(F.sum("__c").alias("cnt"))
        )
        best = pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1).collect()
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((rk, l, r, cnt))
        nxt = cur.select(
            F.expr(TS.bpe_merge_apply_sql("__s", f"'{l}'", f"'{r}'")).alias(
                "__s"
            ),
            "__c",
        ).localCheckpoint(eager=True)
        cur.unpersist()
        cur = nxt
    cur.unpersist()
    return local_frame(
        spark, merges, "rk long, left string, right string, pair_count long"
    )


def _vocab_final_spaced(
    words: DataFrame,
    merges: list[tuple[str, str]],
    merges_per_stage: int,
) -> tuple[DataFrame, list[DataFrame]]:
    """Apply the K-merge replace() chain to a DISTINCT-word frame
    (column __w), staged every `merges_per_stage` merges with eager
    vocab-sized localCheckpoints so whole-stage codegen never sees an
    unboundedly deep expression.  Returns (frame with final spaced __s,
    the intermediate checkpoints — release all but the last once the
    lineage is driven)."""
    vocab = words.withColumn(
        "__s", F.expr(TS.bpe_spaced_sql("__w", TS.SPARK))
    )
    checkpoints: list[DataFrame] = []
    for i in range(0, len(merges), int(merges_per_stage)):
        s = "__s"
        for l, r in merges[i : i + int(merges_per_stage)]:
            s = TS.bpe_merge_apply_sql(s, f"'{l}'", f"'{r}'")
        vocab = vocab.withColumn("__s", F.expr(s))
        if i + int(merges_per_stage) < len(merges):
            vocab = vocab.localCheckpoint(eager=True)
            checkpoints.append(vocab)
    return vocab, checkpoints


def apply_bpe_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
    id_col: str = "doc_id",
    out: str = "n_bpe_tokens",
    merges_per_stage: int = 256,
) -> DataFrame:
    """Per-document token count under a learned merge table.

    Scale shape: the K-merge replace() chain is applied to the DISTINCT
    word table (vocabulary-sized), never per word occurrence — the
    corpus-scale passes are two map-side-combinable aggregates
    ((doc, word) -> k and the distinct) plus one equi-join of per-doc
    word counts against the vocab token-count map (AQE picks broadcast
    when the vocab fits).  A 100 TB corpus therefore pays corpus + V*K
    string work, not corpus*K.  The chain itself is staged every
    `merges_per_stage` merges with an eager localCheckpoint (vocab-sized)
    so whole-stage codegen never sees an unboundedly deep expression at
    real merge counts (the janino-blow-up discipline of agg_lca).

    `merges` is [(left, right), ...] in merge order (pass
    [(r.left, r.right) for r in learn_bpe_merges(...).collect()]).
    Documents with no [a-z]+ words count 0."""
    if merges_per_stage < 1:
        raise ValueError(f"merges_per_stage={merges_per_stage} must be >= 1")
    wx = TS.bpe_word_extract_sql(text, TS.SPARK)
    doc_word = (
        docs.select(F.col(id_col), F.explode(F.expr(wx)).alias("__w"))
        .groupBy(id_col, "__w")
        .agg(F.count("*").alias("__k"))
    )
    vocab, checkpoints = _vocab_final_spaced(
        doc_word.select("__w").distinct(), merges, merges_per_stage
    )
    tokmap = vocab.select(
        "__w",
        F.expr(TS.spaced_symbol_count_sql("__s", TS.SPARK))
        .cast("long")
        .alias("__n"),
    )
    counts = (
        doc_word.join(tokmap, "__w")
        .groupBy(id_col)
        .agg(F.sum(F.col("__k") * F.col("__n")).alias(out))
    )
    res = docs.join(counts, id_col, "left").withColumn(
        out, F.coalesce(F.col(out), F.lit(0).cast("long"))
    )
    # intermediate stage checkpoints are only needed while building the
    # final tokmap lineage; the LAST stage (uncheckpointed) still refers
    # to the previous one, so release all but the latest
    for c in checkpoints[:-1]:
        c.unpersist()
    return res


def encode_bpe_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
    id_col: str = "doc_id",
    out: str = "bpe_ids",
    merges_per_stage: int = 256,
) -> DataFrame:
    """The ENCODE half of the tokenizer: per-document token-id sequences
    under a learned merge table (learn_bpe_merges learns it; this turns
    the corpus into the id streams a trainer consumes).

    Id assignment: the final symbol strings across the corpus
    vocabulary, sorted lexicographically, numbered 0..V-1 — dense,
    deterministic, and engine-independent (symbols are [a-z]+ so byte
    order == lexicographic on both engines).  Documents with no [a-z]+
    words get an empty array.

    Scale shape: the merge chain runs on the DISTINCT word table
    (vocabulary-sized, staged replace() chain as apply_bpe_merges —
    corpus + V·K cost, never corpus·K); per-word id arrays are built
    vocab-side (posexplode symbols -> id join -> one array_sort per
    word) and the corpus-scale passes are one posexplode of word
    occurrences, one equi-join against the word->ids map (AQE
    broadcasts it when the vocab fits) and one per-doc aggregate whose
    array_sort/flatten runs on each doc's own tokens.  The symbol-id
    numbering is ONE global sort of the distinct final symbols —
    vocab-alphabet-sized (≤ V·max_word_len strings), the same
    metadata-scale sort the merge table itself is."""
    if merges_per_stage < 1:
        raise ValueError(f"merges_per_stage={merges_per_stage} must be >= 1")
    from pyspark.sql import Window

    wx = TS.bpe_word_extract_sql(text, TS.SPARK)
    occ = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(wx)).alias("__pos", "__w"),
    )
    vocab, checkpoints = _vocab_final_spaced(
        occ.select("__w").distinct(), merges, merges_per_stage
    )
    symbols = "filter(split(__s, ' '), x -> length(x) > 0)"
    vocab_syms = vocab.select(
        "__w", F.posexplode(F.expr(symbols)).alias("__sp", "__sym")
    )
    sym_ids = (
        vocab_syms.select("__sym")
        .distinct()
        .withColumn(
            "__id",
            F.row_number().over(Window.orderBy("__sym")).cast("long") - 1,
        )
    )
    word_ids = (
        vocab_syms.join(sym_ids, "__sym")
        .groupBy("__w")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(__sp, __id))), "
                "x -> x.__id)"
            ).alias("__wids")
        )
    )
    enc = (
        occ.join(word_ids, "__w")
        .groupBy(id_col)
        .agg(
            F.expr(
                "flatten(transform("
                "array_sort(collect_list(struct(__pos, __wids))), "
                "x -> x.__wids))"
            ).alias(out)
        )
    )
    res = docs.join(enc, id_col, "left").withColumn(
        out, F.coalesce(F.col(out), F.expr("CAST(array() AS array<bigint>)"))
    )
    for c in checkpoints[:-1]:
        c.unpersist()
    return res
