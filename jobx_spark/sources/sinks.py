"""Parquet upsert: MERGE-by-key for a plain parquet dataset, swapped in
crash-safely.

The reference's only tabular sink is a space-delimited CSV (or one file
per key) written on the driver (reference: mr/result_writers/file.py:
10-52 — covered for MR-parity by jobx_spark.result_writers). Every other
write in the package goes through Spark's own writer where it is made
(lineage cuts, index artifacts, streaming sinks); this module holds the
one write that needs more than that — a keyed rewrite that must never
lose the dataset it replaces.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> None:
    """MERGE-by-key for plain parquet: new rows win over existing rows
    with the same key; among duplicates the highest ``version_col``
    survives (ties broken toward the update batch).

    Implementation is union → per-key top-1 (max_by over a precedence
    struct) → crash-safe swap rewrite (see :func:`finish_swap`).
    Without a table format there is no row-level update in parquet, so
    upsert IS a rewrite — at scale, partition the dataset and rewrite
    only partitions the update batch touches (join the update keys
    against partition values first), or adopt a table format; this
    function is the single-partition core of that loop.
    """
    finish_swap(path)
    existing = spark.read.parquet(path)
    cols = existing.columns
    tagged = existing.withColumn("__prio", F.lit(0)).unionByName(
        updates.select(*cols).withColumn("__prio", F.lit(1))
    )
    precedence = F.struct(F.col(version_col), F.col("__prio"))
    merged = (
        tagged.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in cols]), precedence
            ).alias("__row")
        )
        .select("__row.*")
    )
    tmp, old = _swap_paths(path)
    merged.write.mode("overwrite").parquet(tmp)
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)


def _swap_paths(path: str) -> tuple[str, str]:
    """(new dataset being written, old dataset moved aside) of a swap."""
    base = path.rstrip("/")
    return base + ".upserting", base + ".replaced"


def finish_swap(path: str) -> None:
    """Complete a swap of ``path`` that a crash interrupted.

    The swap moves the old dataset aside, moves the fully written new
    one in, then deletes the old one, so ``path`` is missing only
    between the two moves. A crash there leaves both copies beside it:
    the new one is complete (it was written before the first move), so
    it is moved in. A crash after the second move leaves only the old
    copy to delete. A crash before the first move leaves ``path``
    intact (the next write overwrites the partial new copy)."""
    tmp, old = _swap_paths(path)
    if not os.path.exists(old):
        return
    if not os.path.exists(path):
        shutil.move(tmp if os.path.exists(tmp) else old, path)
    if os.path.exists(old):
        shutil.rmtree(old)
