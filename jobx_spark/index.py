"""One lifecycle for every persisted index artifact.

Each family (IVF centroids + cells, PQ codebooks + codes, the dedup
band index, BM25 postings, the BPE vocabulary, and the persisted
streaming ingests) supplies only what is its own: the row producer,
the partition key with its domain size, and the census members. This
module owns every lifecycle decision, once:

* where an artifact lives (:func:`artifact_root`);
* build-once artifacts (:class:`Versioned`): write every part under a
  fresh ``v=N``, then publish; ensure = resolve + every part committed;
* segmented artifacts (:class:`Segmented`): a base segment written
  once and gated on every base part, batch segments by dynamic
  partition overwrite, a terminal ``_APPEND_DONE`` marker that compact
  repair reads and nothing else, and a one-file-per-key compaction;
* the per-key census over the key's full ``range(n)`` domain, so dead
  keys stay visible as zero rows.

The crash-consistency rule itself is documented in
:mod:`jobx_spark.artifacts`.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from jobx_spark import artifacts as A

SUCCESS = "_SUCCESS"
APPEND_DONE = "_APPEND_DONE"


def artifact_root(sf_dir: str, family: str, salt: str = "") -> str:
    """``<checkpoint_root>/<family>-<sha256(sf_dir + salt)[:12]>``."""
    from jobx_spark.lineage import checkpoint_root

    key = hashlib.sha256((sf_dir.rstrip("/") + salt).encode()).hexdigest()[:12]
    return os.path.join(checkpoint_root(), f"{family}-{key}")


def committed(spark: SparkSession, path: str) -> bool:
    """A Spark write to ``path`` committed (its ``_SUCCESS`` exists)."""
    return A.fs_exists(spark, os.path.join(path, SUCCESS))


# -- census ------------------------------------------------------------------
def rows() -> Column:
    return F.count(F.lit(1)).cast("long")


def xor(c: str | Column) -> Column:
    return F.coalesce(F.bit_xor(c), F.lit(0).cast("long"))


def zero(c: str) -> Column:
    return F.coalesce(F.col(c), F.lit(0)).cast("long")


def key_domain(spark: SparkSession, keys: dict[str, int]) -> DataFrame:
    """Every key value: the cross product of ``range(n)`` per key."""
    dom = None
    for k, n in keys.items():
        d = spark.range(n).select(F.col("id").cast("int").alias(k))
        dom = d if dom is None else dom.crossJoin(d)
    return dom


def census(
    spark: SparkSession, keys: dict[str, int], df: DataFrame,
    members: dict[str, Column],
) -> DataFrame:
    """Per-key aggregate ``members`` of ``df`` over the whole key
    domain, absent keys reading 0."""
    agg = df.groupBy(*keys).agg(*[c.alias(n) for n, c in members.items()])
    return (
        key_domain(spark, keys)
        .join(agg, list(keys), "left")
        .select(*keys, *[zero(n).alias(n) for n in members])
        .orderBy(*keys)
    )


def tag(base: DataFrame, batch: DataFrame) -> DataFrame:
    """``base ∪ batch`` carrying the ``_is_base`` tag append_census reads."""
    return base.withColumn("_is_base", F.lit(True)).unionByName(
        batch.withColumn("_is_base", F.lit(False))
    )


def append_census(
    spark: SparkSession, key: str, size: int, tagged: DataFrame,
    rebuilt: DataFrame, member: Column, is_base: Column | None = None,
    extra: tuple[DataFrame, ...] = (),
) -> DataFrame:
    """Per-key base/batch/after/rebuild counts plus the append≡rebuild
    certificate (count AND ``member`` XOR equal), from ONE aggregation
    over ``tagged`` (base and batch rows with a base tag). Each 1-row
    ``extra`` frame contributes its columns as further certificates."""
    if is_base is None:
        is_base = F.col("_is_base")
    after = tagged.groupBy(key).agg(
        F.count(F.when(is_base, 1)).cast("long").alias("n_base"),
        F.count(F.when(~is_base, 1)).cast("long").alias("n_batch"),
        rows().alias("n_after"),
        xor(member).alias("xor_after"),
    )
    reb = rebuilt.groupBy(key).agg(
        rows().alias("n_rebuild"), xor(member).alias("xor_rebuild")
    )
    out = key_domain(spark, {key: size}).join(after, key, "left").join(
        reb, key, "left"
    )
    for e in extra:
        out = out.crossJoin(F.broadcast(e))
    n = ("n_base", "n_batch", "n_after", "n_rebuild")
    return out.select(
        key,
        *[zero(c).alias(c) for c in n],
        (
            (zero("n_after") == zero("n_rebuild"))
            & (zero("xor_after") == zero("xor_rebuild"))
        )
        .cast("long")
        .alias("append_matches_rebuild"),
        *[F.col(c).cast("long").alias(c) for e in extra for c in e.columns],
    ).orderBy(key)


# -- build-once artifacts -----------------------------------------------------
@dataclasses.dataclass(frozen=True)
class Versioned:
    """A train-once artifact of named parquet ``parts``.
    ``write(spark, sf_dir, *part_paths)`` materializes every part."""

    family: str
    parts: tuple[str, ...]
    write: Callable[..., None]
    salt: str = ""

    def root(self, sf_dir: str) -> str:
        return artifact_root(sf_dir, self.family, self.salt)

    def build(self, spark: SparkSession, sf_dir: str) -> list[str]:
        """Write a new version and publish it; the part paths."""
        root = self.root(sf_dir)
        ver, vdir = A.next_version_dir(spark, root)
        paths = [os.path.join(vdir, p) for p in self.parts]
        self.write(spark, sf_dir, *paths)
        A.publish(spark, root, ver)
        return paths

    def ensure(self, spark: SparkSession, sf_dir: str) -> list[str]:
        """The published version's part paths, building it first when
        none is published or a part is not committed."""
        vdir = A.resolve(spark, self.root(sf_dir))
        if vdir is not None:
            paths = [os.path.join(vdir, p) for p in self.parts]
            if all(committed(spark, p) for p in paths):
                return paths
        return self.build(spark, sf_dir)


# -- segmented (appendable) artifacts ----------------------------------------
@dataclasses.dataclass(frozen=True)
class Segmented:
    """An appendable artifact: ``table`` partitioned by (seg, key), plus
    side parts. ``base(spark, sf_dir, paths)`` writes the base side
    parts and returns the base segment's rows. Appends stay in place
    (versioning would re-copy the base on every ingest)."""

    family: str
    table: str
    key: str
    size: int
    sort: tuple[str, ...]
    base: Callable[[SparkSession, str, dict[str, str]], DataFrame]
    base_parts: tuple[str, ...] = ()
    batch_parts: tuple[str, ...] = ()

    def root(self, sf_dir: str) -> str:
        return artifact_root(sf_dir, self.family)

    def paths(self, sf_dir: str) -> dict[str, str]:
        root = self.root(sf_dir)
        names = (self.table, *self.base_parts, *self.batch_parts, APPEND_DONE)
        return {n: os.path.join(root, n) for n in names}

    def layout(self, df: DataFrame) -> DataFrame:
        """One file per key value per write, rows sorted within it."""
        return df.repartition(self.size, self.key).sortWithinPartitions(
            self.key, *self.sort
        )

    def write_segment(self, df: DataFrame, path: str, seg: str) -> None:
        """``seg="base"`` replaces the whole table; any other segment
        replaces only its own partitions (dynamic partition overwrite),
        so a re-run is idempotent and other segments stay untouched."""
        w = self.layout(df.withColumn("seg", F.lit(seg))).write.mode(
            "overwrite"
        )
        if seg != "base":
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy("seg", self.key).parquet(path)

    def append(
        self, spark: SparkSession, sf_dir: str,
        write: Callable[[dict[str, str]], None],
    ) -> dict[str, str]:
        """Clear the marker, (re)write the base unless every base part
        is committed, run ``write(paths)`` for the batch segment(s),
        then touch the marker; returns the paths."""
        p = self.paths(sf_dir)
        A.delete(spark, p[APPEND_DONE])
        parts = (self.table, *self.base_parts)
        if not all(committed(spark, p[n]) for n in parts):
            base_rows = self.base(spark, sf_dir, p)
            self.write_segment(base_rows, p[self.table], "base")
        write(p)
        A.touch(spark, p[APPEND_DONE])
        return p

    def compact(
        self, spark: SparkSession, sf_dir: str,
        repair: Callable[[SparkSession, str], object],
        members: dict[str, Column],
    ) -> DataFrame:
        """Rewrite base ∪ batches as one file per key under
        ``<table>-compacted`` (repairing first via ``repair`` when no
        append finished), and census both generations per key:
        n_before, n_after, files_after and content_match (counts and
        every XOR member equal)."""
        p = self.paths(sf_dir)
        if not A.fs_exists(spark, p[APPEND_DONE]):
            repair(spark, sf_dir)
        gpath = p[self.table] + "-compacted"
        old = spark.read.parquet(p[self.table]).drop("seg")
        (
            self.layout(old)
            .write.mode("overwrite")
            # files_after = 1 per populated key is enforced in the plan:
            # a session-level maxRecordsPerFile would split a file
            .option("maxRecordsPerFile", 0)
            .partitionBy(self.key)
            .parquet(gpath)
        )
        new = spark.read.parquet(gpath)
        fcount = (
            new.withColumn("f", F.input_file_name())
            .groupBy(self.key)
            .agg(F.count_distinct("f").cast("long").alias("files_after"))
        )

        def agg(df: DataFrame, sfx: str) -> DataFrame:
            return df.groupBy(self.key).agg(
                rows().alias(f"n_{sfx}"),
                *[c.alias(f"{m}_{sfx}") for m, c in members.items()],
            )

        match = zero("n_before") == zero("n_after")
        for m in members:
            match = match & (zero(f"{m}_before") == zero(f"{m}_after"))
        return (
            key_domain(spark, {self.key: self.size})
            .join(agg(old, "before"), self.key, "left")
            .join(agg(new.select(*old.columns), "after"), self.key, "left")
            .join(fcount, self.key, "left")
            .select(
                self.key,
                *[
                    zero(c).alias(c)
                    for c in ("n_before", "n_after", "files_after")
                ],
                match.cast("long").alias("content_match"),
            )
            .orderBy(self.key)
        )
