"""Persisted-artifact contract: portable filesystem probes, a
version-pointer layout, and the one crash rule every persisted index
follows.

The rule (implemented once, in :mod:`jobx_spark.index`):

* **build = versioned publish.** A writer materializes every part
  under ``<root>/v=<N+1>/`` and only then publishes it by creating the
  empty marker ``<root>/_v<N+1>.ptr`` (a single atomic create, the
  rename-free analogue of a manifest swap). Readers resolve ``max(N)``
  over the markers, so a crash at any point leaves the previous
  version current; ensure = resolve + every part's ``_SUCCESS``.
* **append = base-complete gate + terminal marker.** Appendable
  artifacts mutate in place: the append clears ``<root>/_APPEND_DONE``,
  rewrites the base segment unless EVERY base part committed, writes
  its batch segment by dynamic partition overwrite, and touches
  ``_APPEND_DONE`` last.
* **repair reads only the marker.** Compaction re-runs the idempotent
  append whenever ``_APPEND_DONE`` is absent; Spark's root
  ``_SUCCESS`` cannot attest a multi-segment write (the first
  segment's commit already creates it).

Families covered: the IVF index (``ann-index``, its 8x ``:scaled``
build, the ``ann-index-append`` and ``ann-index-ingest`` segmented
twins), the PQ index (``ann-pq-index``), the dedup band index
(``dedup-index``, ``dedup-index-append``), the BM25 postings
(``bm25-index``, ``bm25-index-append``, ``bm25-index-ingest``) and the
BPE vocabulary (``bpe-vocab``).

All probes go through the Hadoop FileSystem API of the session's JVM
(file://, hdfs://, s3a://, ... resolve uniformly), falling back to
``os.path`` only when no JVM is reachable, so a local run exercises
the same code path a cluster uses. Retention keeps the latest two
versions: a reader pinned to ``v=N`` survives exactly one subsequent
publish; long-lived readers re-resolve per query (every serve path
does).

Scope: a SINGLE WRITER per artifact root. Two concurrent writers
would resolve the same next version, and ``next_version_dir``'s
crash-leftover cleanup could delete the other writer's in-flight
directory; coordinating writers across processes would need an
external lock.
Reference basis: the publish-then-flip-pointer discipline of table
formats' metadata pointer (Iceberg's version-hint, Delta's
_last_checkpoint), re-expressed for plain parquet directories.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import SparkSession

_PTR_RE = re.compile(r"_v(\d+)\.ptr$")


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def fs_exists(spark: SparkSession | None, path: str) -> bool:
    """Existence probe through the Hadoop FS API (portable to any
    warehouse scheme); ``os.path`` fallback when no JVM is reachable
    (e.g. pure-Python unit tests)."""
    if spark is not None:
        try:
            fs, p = _hadoop_fs(spark, path)
            return bool(fs.exists(p))
        except Exception:
            pass
    return os.path.exists(path)


def touch(spark: SparkSession | None, path: str) -> None:
    """Create (or truncate) an empty marker file."""
    if spark is not None:
        try:
            fs, p = _hadoop_fs(spark, path)
            fs.create(p, True).close()
            return
        except Exception:
            pass
    with open(path, "w", encoding="utf-8"):
        pass


def delete(spark: SparkSession | None, path: str) -> None:
    """Remove a file or directory tree; a missing path is a no-op."""
    if spark is not None:
        try:
            fs, p = _hadoop_fs(spark, path)
            fs.delete(p, True)
            return
        except Exception:
            pass
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)


def _list_markers(spark: SparkSession | None, root: str) -> list[int]:
    names: list[str] = []
    if spark is not None:
        try:
            fs, p = _hadoop_fs(spark, root)
            if fs.exists(p):
                for st in fs.listStatus(p):
                    names.append(st.getPath().getName())
        except Exception:
            names = []
    if not names:
        names = [os.path.basename(x) for x in glob.glob(
            os.path.join(root, "_v*.ptr")
        )]
    out = []
    for n in names:
        m = _PTR_RE.search(n)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(spark: SparkSession | None, root: str) -> int | None:
    """The published version a reader should open, or None if the
    artifact has never been published."""
    vs = _list_markers(spark, root)
    return vs[-1] if vs else None


def version_dir(root: str, version: int) -> str:
    return os.path.join(root, f"v={version}")


def resolve(spark: SparkSession | None, root: str) -> str | None:
    """Path of the current published version's directory, or None."""
    v = current_version(spark, root)
    return None if v is None else version_dir(root, v)


def publish(spark: SparkSession | None, root: str, version: int) -> str:
    """Flip the pointer to ``version`` (whose directory must already be
    fully written) and prune versions older than the previous one —
    the latest TWO stay on disk so a reader pinned to the prior
    version survives THIS publish (one-publish window: a second
    subsequent publish deletes v=N, see the module docstring's
    retention bound). Single-writer per root, also per the module
    docstring."""
    touch(spark, os.path.join(root, f"_v{version}.ptr"))
    for old in _list_markers(spark, root):
        if old < version - 1:
            delete(spark, os.path.join(root, f"_v{old}.ptr"))
            delete(spark, version_dir(root, old))
    return version_dir(root, version)


def next_version_dir(spark: SparkSession | None, root: str) -> tuple[int, str]:
    """(version, dir) the writer should materialize into. Never reuses
    a published version number; an unpublished crash leftover with the
    same number is removed first (it was invisible to readers). The
    leftover cleanup is exactly why the contract is single-writer per
    root: a second concurrent builder's in-flight directory looks like
    a crash leftover to this call."""
    cur = current_version(spark, root)
    nxt = (cur or 0) + 1
    vdir = version_dir(root, nxt)
    delete(spark, vdir)
    return nxt, vdir
