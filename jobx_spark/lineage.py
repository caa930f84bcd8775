"""Reliable lineage truncation for iterative DataFrame loops.

``localCheckpoint()`` stores the truncated partitions on executors
only: on a real cluster an executor loss after round *k* destroys both
the lineage (truncated) and the blocks — the whole job dies, which is
exactly what checkpointing was supposed to prevent. Fine at
``local[32]``, unacceptable on 1000 executors over a long iterative
job.

``cut_lineage`` is the reliable equivalent: an eager parquet
round-trip. One write per call (the loop's next round reads back from
files, so nothing is computed twice, unlike ``Dataset.checkpoint(eager
=True)`` whose RDD checkpoint re-runs the partition computation in a
second job), bit-exact for every type these loops carry (int64,
double, string), restartable from any surviving replica of the
checkpoint store. A cluster deployment points ``JOBX_CHECKPOINT_DIR``
at durable shared storage (HDFS/S3/ABFS); the default is a
process-local temp root removed at interpreter exit, so repeated
bench/verify runs leak nothing.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

_root: str | None = None


def _ephemeral_base() -> str:
    """Directory to hold the per-process scratch root when no durable
    JOBX_CHECKPOINT_DIR is configured: prefer RAM-backed tmpfs (guide
    §6 — streaming checkpoint WALs and state-store commits pay
    per-partition-per-batch file creation against this root, and the
    whole tree is REMOVED AT INTERPRETER EXIT, so durable-disk I/O for
    it is pure waste; /tmp here is ext4). Durability is unchanged:
    production deployments point JOBX_CHECKPOINT_DIR at shared durable
    storage (HDFS/S3/ABFS) and never take this branch. Falls back to
    the system temp dir when tmpfs is absent or low on space."""
    shm = "/dev/shm"
    try:
        if os.path.isdir(shm) and os.access(shm, os.W_OK) and (
            shutil.disk_usage(shm).free > 8 * 1024**3
        ):
            return shm
    except OSError:  # pragma: no cover - statvfs failure
        pass
    return tempfile.gettempdir()


def checkpoint_root() -> str:
    """Lazily created per-process checkpoint directory (cleaned atexit
    unless JOBX_CHECKPOINT_DIR points at managed durable storage)."""
    global _root
    if _root is None:
        env = os.environ.get("JOBX_CHECKPOINT_DIR")
        if env:
            _root = os.path.join(env, f"ckpt-{uuid.uuid4().hex[:8]}")
            os.makedirs(_root, exist_ok=True)
        else:
            _root = tempfile.mkdtemp(
                prefix="jobx-ckpt-", dir=_ephemeral_base()
            )
            atexit.register(shutil.rmtree, _root, ignore_errors=True)
    return _root


def scratch_dir(tag: str = "scratch") -> str:
    """A fresh directory under the per-process checkpoint root — for
    query-local sinks/checkpoints that must outlive the query (the
    returned DataFrame reads them lazily) but not the process. Removed
    atexit, so repeated bench/verify runs leak nothing into /tmp."""
    path = os.path.join(checkpoint_root(), f"{tag}-{uuid.uuid4().hex[:12]}")
    os.makedirs(path)
    return path


def cut_lineage(df: DataFrame, tag: str = "step") -> DataFrame:
    """Eagerly materialize ``df`` to parquet and return a frame reading
    it back: reliable lineage truncation for iterative loops. The
    caller's next round plans against a bare file scan instead of the
    whole accumulated lineage."""
    path = os.path.join(checkpoint_root(), f"{tag}-{uuid.uuid4().hex[:12]}")
    df.write.mode("error").parquet(path)
    return _read_back(df, path)


def _read_back(df: DataFrame, path: str) -> DataFrame:
    """The parquet files just written from ``df`` at ``path``, read with
    the schema they were written with: naming it skips the footer
    inference, a Spark job per read."""
    return df.sparkSession.read.schema(df.schema).parquet(path)


def cut_lineage_observed(
    df: DataFrame, aggs, tag: str = "step", keep: list[str] | None = None
):
    """:func:`cut_lineage` whose materializing write ALSO evaluates the
    given aggregate expressions through an ``Observation`` riding the
    same action — iterative loops get their convergence metrics for
    free instead of paying a second job per round (guide §1: the
    per-round convergence ``count()``/``limit(1).count()`` was a full
    extra job over the just-written frame). ``keep`` optionally
    restricts the PERSISTED columns (the observation still sees every
    column of ``df``, so a metric may aggregate a column that is not
    written — e.g. a per-round ``changed`` flag). Returns
    ``(frame_reading_the_parquet, metrics_dict)``."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *aggs)
    if keep is not None:
        observed = observed.select(*keep)
    path = os.path.join(checkpoint_root(), f"{tag}-{uuid.uuid4().hex[:12]}")
    observed.write.mode("error").parquet(path)
    return _read_back(observed, path), obs.get
