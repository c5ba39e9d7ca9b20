"""Streaming near-dup: the daily-crawl pipeline as a file stream.

Each micro-batch of NEW documents is near-deduplicated against the
persisted fingerprint index (operators/incremental.incremental_neardup —
base documents are never rescanned), survivors land in a per-epoch
output directory, and their fingerprints append as the next index epoch.
Composes the repo's two incremental stories: the reference's
restricted-recompute update philosophy (find_update.rs:22-137) and the
LLM-pipeline fingerprint index.

Exactly-once contract (the standard foreachBatch idempotence shape, same
family as ingest.apply_change_batch): both the survivors epoch directory
and the index epoch directory are written with mode=overwrite keyed by
the stream's epoch id, so a retried epoch rewrites the identical data
instead of double-appending.  Crucially the index read EXCLUDES epochs
>= the current epoch_id: a retry after a crash between the index write
and the checkpoint commit would otherwise read the batch's OWN partial
epoch, self-match every document at Jaccard 1.0, and overwrite both
directories with empty data (the r5 ADVICE finding) — filtering on the
stored epoch column makes the retry read exactly the state the first
attempt saw.  incremental_neardup's a != b guard backstops ad-hoc
callers that skip the filter.

All path handling routes through fsio (Hadoop FileSystem API), so
checkpoint, survivors and index directories work on cluster URIs
(hdfs://, s3a://) exactly like local paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..session import local_frame


def _index_epochs_exist(index_dir: str, spark) -> bool:
    """True when at least one `epoch=*` child directory exists — via the
    Hadoop FS listing (returns [] for a missing dir), never driver-local
    glob, so cluster URIs behave like local paths."""
    return any(
        c["name"].startswith("epoch=")
        for c in fsio.list_dir_any(index_dir, spark)
    )


def apply_neardup_batch(
    survivors_dir: str,
    index_dir: str,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    window: int = 4,
    threshold_ppm: int = 300000,
    fp_df_cap: int | None = None,
):
    """Build the foreachBatch function: dedup the micro-batch against
    the index state PRIOR to this epoch (epoch < epoch_id — the retry
    contract above), write survivors + the new fingerprint epoch."""
    from ..operators import incremental as INC

    def on_batch(batch: DataFrame, epoch_id: int):
        spark = batch.sparkSession
        if _index_epochs_exist(index_dir, spark):
            idx = (
                INC.read_fp_index(spark, index_dir)
                .filter(F.col("epoch") < F.lit(int(epoch_id)))
                .select(F.col("doc_id").alias(id_col), "fp", "sz")
            )
        else:
            idx = local_frame(spark, [], f"{id_col} long, fp long, sz long")
        surv, sfps = INC.incremental_neardup(
            batch, idx, text, id_col, n, window, threshold_ppm, fp_df_cap
        )
        surv.write.mode("overwrite").parquet(
            f"{survivors_dir}/epoch={epoch_id}"
        )
        INC.write_fp_index(
            sfps, index_dir, epoch_id, mode="overwrite", id_col=id_col
        )

    return on_batch


def stream_neardup(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    checkpoint_dir: str,
    survivors_dir: str,
    index_dir: str,
    **kwargs,
):
    """File-source stream over new-document parquet files, near-deduped
    per micro-batch against the growing fingerprint index.  Runs with
    availableNow so callers control the drain (same harness as
    ingest.stream_change_files); kwargs pass through to
    apply_neardup_batch."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    on_batch = apply_neardup_batch(survivors_dir, index_dir, **kwargs)
    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_survivors(spark: SparkSession, survivors_dir: str) -> DataFrame:
    """All surviving documents across epochs (with the epoch column)."""
    return spark.read.option("basePath", survivors_dir).parquet(
        f"{survivors_dir}/epoch=*"
    )
