"""Snapshot merge / change application (reference combine_block.rs).

The reference merges N sorted streams with "newest snapshot wins on id
tie" (combine_block.rs:93-134, fold at :435-449) and then applies change
semantics: rows whose final changetype is Delete(1) or Remove(2) drop out,
survivors reset to Normal(0) (combine_block.rs:181-277).

Spark-first: the sorted 2-way merge is a window dedup —
``row_number() over (partition by key order by snapshot desc) = 1`` — one
shuffle for any number of snapshots instead of N-1 sequential merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NORMAL, DELETE, REMOVE, UNCHANGED, MODIFY, CREATE = 0, 1, 2, 3, 4, 5


def combine_snapshots(
    snapshots: list[DataFrame],
    keys: tuple[str, ...] = ("id",),
    snapshot_col: str = "snapshot",
) -> DataFrame:
    """Latest-wins union of ordered snapshots (index = recency).

    If the frames already carry `snapshot_col` it is respected; otherwise
    each frame is stamped with its list position.
    """
    stamped = []
    for i, df in enumerate(snapshots):
        if snapshot_col not in df.columns:
            df = df.withColumn(snapshot_col, F.lit(i))
        stamped.append(df)
    allrows = stamped[0]
    for df in stamped[1:]:
        allrows = allrows.unionByName(df)
    w = Window.partitionBy(*keys).orderBy(F.col(snapshot_col).desc())
    return (
        allrows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", snapshot_col)
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: tuple[str, ...] = ("id",),
    changetype_col: str = "changetype",
) -> DataFrame:
    """MERGE-INTO semantics: newer row wins per key, Delete/Remove rows
    tombstone the key, survivors reset to Normal
    (combine_block.rs apply_change + check_changetype)."""
    return merge_changes(base, [changes], keys, changetype_col)


def merge_changes(
    base: DataFrame,
    change_list: list[DataFrame],
    keys: tuple[str, ...] = ("id",),
    changetype_col: str = "changetype",
) -> DataFrame:
    """Fold N change sets (oldest..newest) onto a base snapshot in ONE
    window pass (combine_block.rs:435-449 does N sequential merges; the
    window dedup is order-equivalent because only the newest version of a
    key survives either way)."""
    merged = combine_snapshots([base, *change_list], keys)
    return merged.filter(
        ~F.col(changetype_col).isin(DELETE, REMOVE)
    ).withColumn(changetype_col, F.lit(NORMAL))


def dedup_max_version(
    df: DataFrame,
    keys: tuple[str, ...] = ("id",),
    version_col: str = "version",
) -> DataFrame:
    """Keep max version per id (change-file dedup,
    reference src/update/read_xml.rs:554-591)."""
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
