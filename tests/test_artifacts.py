"""Contract for jobx_spark.artifacts and jobx_spark.index: the
version-pointer layout, the Hadoop-FS-first probes, and crash
injection into every appendable index family."""

import os

import pytest

from jobx_spark import artifacts as A


def test_unpublished_root_resolves_none(tmp_path):
    root = str(tmp_path / "art")
    os.makedirs(root)
    assert A.current_version(None, root) is None
    assert A.resolve(None, root) is None


def test_publish_flips_pointer_and_keeps_two_versions(tmp_path):
    root = str(tmp_path / "art")
    os.makedirs(root)
    for v in (1, 2, 3):
        n, vdir = A.next_version_dir(None, root)
        assert n == v
        os.makedirs(vdir)
        with open(os.path.join(vdir, "data"), "w") as f:
            f.write(str(v))
        A.publish(None, root, n)
        assert A.current_version(None, root) == v
    # retention: v=3 current, v=2 pinned-reader safe, v=1 pruned
    assert os.path.isdir(A.version_dir(root, 3))
    assert os.path.isdir(A.version_dir(root, 2))
    assert not os.path.exists(A.version_dir(root, 1))


def test_unpublished_dir_is_invisible_and_reused(tmp_path):
    """A writer crash AFTER materializing v=1 but BEFORE publishing
    must leave readers on 'never published' and the next writer must
    clear the leftover."""
    root = str(tmp_path / "art")
    os.makedirs(root)
    n, vdir = A.next_version_dir(None, root)
    os.makedirs(vdir)
    with open(os.path.join(vdir, "partial"), "w") as f:
        f.write("half-written")
    # crash here: no publish
    assert A.resolve(None, root) is None
    n2, vdir2 = A.next_version_dir(None, root)
    assert n2 == 1 and vdir2 == vdir
    assert not os.path.exists(os.path.join(vdir, "partial"))


def test_fs_probes_use_hadoop_api_for_local_paths(spark, tmp_path):
    """With a live session the probes must go through the JVM Hadoop
    FileSystem (the path a cluster warehouse takes), and agree with
    the local filesystem on file:// paths."""
    p = str(tmp_path / "probe.txt")
    assert not A.fs_exists(spark, p)
    A.touch(spark, p)
    assert os.path.exists(p), "JVM touch must land on the local FS"
    assert A.fs_exists(spark, p)
    A.delete(spark, p)
    assert not os.path.exists(p)
    # and the marker listing sees JVM-created pointers
    root = str(tmp_path / "art")
    os.makedirs(root)
    A.publish(spark, root, 1)
    assert A.current_version(spark, root) == 1
    assert A.current_version(None, root) == 1  # os fallback agrees


def _segmented(family):
    """(artifact, append query, compact query) of one appendable family."""
    from jobx_spark.queries import dedup, similarity, text

    return {
        "ann": (similarity.ANN_APPEND, similarity.QUERIES["ann_index_append"],
                similarity.QUERIES["ann_index_compact"]),
        "bm25": (text.BM25_APPEND, text.QUERIES["text_bm25_index_append"],
                 text.QUERIES["text_bm25_index_compact"]),
        "dedup": (dedup.DEDUP_APPEND, dedup.QUERIES["dedup_index_append"],
                  dedup.QUERIES["dedup_index_compact"]),
    }[family]


@pytest.mark.parametrize(
    "family, lost",
    [
        # the base write died after the centroids committed
        pytest.param("ann", "index", id="ann-base-index"),
        # a crash between the base and batch segment writes: the base
        # commit already created the table's root _SUCCESS
        pytest.param("ann", "index/seg=batch", id="ann-batch-segment"),
        pytest.param("bm25", "postings/seg=batch", id="bm25-batch-segment"),
        pytest.param("dedup", "index/seg=batch", id="dedup-batch-segment"),
        # the base postings committed, scalars_base never written
        pytest.param("bm25", "scalars_base", id="bm25-scalars-base"),
    ],
)
def test_compact_repairs_crash_state(spark, tmp_path, family, lost):
    """Every crash window of an append leaves no terminal marker (it is
    touched last), so compact must re-run the idempotent append — whose
    base gate checks every base part — and compact the full generation
    instead of a partial one or failing on a missing part."""
    import shutil

    from tests.conftest import SF_SMOKE

    art, append, compact = _segmented(family)
    sf = str(tmp_path / f"sf-{family}")
    shutil.copytree(SF_SMOKE, sf)
    append(spark, sf).collect()
    full = sum(r["n_after"] for r in compact(spark, sf).collect())
    p = art.paths(sf)
    os.remove(p["_APPEND_DONE"])
    shutil.rmtree(os.path.join(art.root(sf), lost))
    # every surviving part still looks committed to a _SUCCESS probe
    for n in (art.table, *art.base_parts):
        if n != lost:
            assert os.path.exists(os.path.join(p[n], "_SUCCESS"))
    out = compact(spark, sf).collect()
    assert len(out) == art.size
    assert all(r["content_match"] == 1 for r in out)
    for r in out:
        assert r["files_after"] == (1 if r["n_after"] > 0 else 0)
    assert sum(r["n_after"] for r in out) == full, (
        "repair must rematerialize every lost part before compacting"
    )
