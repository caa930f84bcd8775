"""Persisted-artifact contract: portable filesystem probes and the one
rule every persisted index follows (implemented in
:mod:`jobx_spark.index`).

* **Publish by manifest.** A writer puts everything it writes into
  fresh directories it never rewrites once published, then publishes
  version ``N`` in two driver-side steps: the manifest
  ``<root>/_v<N>.json`` (each name a reader opens → its directory,
  relative to ``root``), then the empty pointer ``<root>/_v<N>.ptr``
  (a single atomic create, the rename-free analogue of a metadata
  swap). Readers resolve ``max(N)`` over the pointers and scan exactly
  what its manifest lists, so a crash at any point leaves the previous
  version (or none) current, and unlisted leftovers are never read.
* **Retention by reference.** The latest two manifests are retained.
  A publish deletes a directory only when neither of them lists it, so
  a reader resolved against version ``N`` survives exactly one later
  publish; long-lived readers re-resolve per query (every serve path
  does).
* **Single writer per root.** Two concurrent writers would resolve the
  same next version and overwrite each other's directories;
  coordinating writers across processes needs an external lock.

Families covered: the IVF index (``ann-index``, its 8x ``:scaled``
build, the ``ann-index-append`` and ``ann-index-ingest`` segmented
twins), the PQ index (``ann-pq-index``), the dedup band index
(``dedup-index``, ``dedup-index-append``), the BM25 postings
(``bm25-index``, ``bm25-index-append``, ``bm25-index-ingest``) and the
BPE vocabulary (``bpe-vocab``).

All probes go through the Hadoop FileSystem API of the session's JVM
(file://, hdfs://, s3a://, ... resolve uniformly), falling back to
``os.path`` only when no JVM is reachable, so a local run exercises
the same code path a cluster uses.
Reference basis: the publish-then-flip-pointer discipline of table
formats' metadata pointer (Iceberg's version-hint, Delta's
_last_checkpoint), re-expressed for plain parquet directories.
"""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql import SparkSession

_PTR_RE = re.compile(r"_v(\d+)\.ptr$")


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def touch(spark: SparkSession | None, path: str, text: str = "") -> None:
    """Create (or truncate) a file holding ``text``."""
    if spark is not None:
        try:
            fs, p = _hadoop_fs(spark, path)
            out = fs.create(p, True)
            try:
                out.write(bytearray(text.encode()))
            finally:
                out.close()
            return
        except Exception:
            pass
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def read_text(spark: SparkSession | None, path: str) -> str | None:
    """A small file's contents, or None when it does not exist."""
    if spark is not None:
        try:
            fs, p = _hadoop_fs(spark, path)
            if not fs.exists(p):
                return None
            hio = spark._jvm.org.apache.hadoop.io.IOUtils
            stream = fs.open(p)
            try:
                return bytes(hio.readFullyToByteArray(stream)).decode()
            finally:
                stream.close()
        except Exception:
            pass
    try:
        with open(path, encoding="utf-8") as f:
            return f.read()
    except FileNotFoundError:
        return None


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


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, f"_v{version}.json")


def manifest(
    spark: SparkSession | None, root: str, version: int | None = None
) -> dict[str, str]:
    """What ``version`` (default: the current one) lists, name →
    directory relative to ``root``; ``{}`` when it was never
    published."""
    if version is None:
        version = current_version(spark, root)
    text = None if version is None else read_text(
        spark, _manifest_path(root, version)
    )
    return json.loads(text) if text else {}


def publish(
    spark: SparkSession | None, root: str, version: int,
    listed: dict[str, str] | None = None,
) -> None:
    """Publish ``version`` (every directory in ``listed`` fully
    written): write its manifest, create its pointer, then drop the
    versions older than the previous one. A dropped version's pointer
    and manifest go first, then each directory it listed, and its own
    ``v=<old>``, that neither retained manifest lists or contains.
    Single-writer per root, per the module docstring."""
    touch(spark, _manifest_path(root, version), json.dumps(listed or {}))
    touch(spark, os.path.join(root, f"_v{version}.ptr"))
    vs = _list_markers(spark, root)
    live = [p for v in vs[-2:] for p in manifest(spark, root, v).values()]
    for old in vs[:-2]:
        dropped = manifest(spark, root, old)
        delete(spark, os.path.join(root, f"_v{old}.ptr"))
        delete(spark, _manifest_path(root, old))
        for rel in (*dropped.values(), f"v={old}"):
            if not any(p == rel or p.startswith(rel + "/") for p in live):
                delete(spark, os.path.join(root, rel))


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
