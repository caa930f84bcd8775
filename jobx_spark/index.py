"""One lifecycle for every persisted index artifact.

Each family (IVF centroids + cells, PQ codebooks + codes, the dedup
band index, BM25 postings, the BPE vocabulary, and the persisted
streaming ingests) supplies only what is its own: the row producer,
the partition key with its domain size, and the census members. This
module owns every lifecycle decision, once, under the one rule of
:mod:`jobx_spark.artifacts` (publish by manifest, retention by
reference, single writer per root):

* where an artifact lives (:func:`artifact_root`);
* build-once artifacts (:class:`Versioned`): every part under a fresh
  ``v=<N>/``, then publish; ensure = the current manifest lists every
  part, else build;
* appendable artifacts (:class:`Segmented`): each append writes its
  segments and side parts into fresh directories and publishes the
  current manifest with them added (a segment replaces the one of the
  same name); nothing published means the base is written first;
  compaction publishes one file per key as its own versioned
  generation;
* the per-key census over the key's full ``range(n)`` domain, so dead
  keys stay visible as zero rows.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from jobx_spark import artifacts as A

def artifact_root(sf_dir: str, family: str, salt: str = "") -> str:
    """``<checkpoint_root>/<family>-<sha256(sf_dir + salt)[:12]>``."""
    from jobx_spark.lineage import checkpoint_root

    key = hashlib.sha256((sf_dir.rstrip("/") + salt).encode()).hexdigest()[:12]
    return os.path.join(checkpoint_root(), f"{family}-{key}")


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
        ver, _ = A.next_version_dir(spark, root)
        listed = {p: f"v={ver}/{p}" for p in self.parts}
        paths = [os.path.join(root, listed[p]) for p in self.parts]
        self.write(spark, sf_dir, *paths)
        A.publish(spark, root, ver, listed)
        return paths

    def ensure(self, spark: SparkSession, sf_dir: str) -> list[str]:
        """The published version's part paths, building it first when
        no published manifest lists every part."""
        root = self.root(sf_dir)
        listed = A.manifest(spark, root)
        if all(p in listed for p in self.parts):
            return [os.path.join(root, listed[p]) for p in self.parts]
        return self.build(spark, sf_dir)


# -- segmented (appendable) artifacts ----------------------------------------
@dataclasses.dataclass
class Generation:
    """One version of a :class:`Segmented` artifact. ``listed`` maps
    each segment (``<table>/seg=<s>``) and side part to its directory
    relative to ``root``: a pending generation adds what its append
    writes, a published one is exactly what a reader scans."""

    spark: SparkSession
    art: "Segmented"
    root: str
    version: int
    listed: dict[str, str]

    def __getitem__(self, name: str) -> str:
        """Path of the listed segment or side part ``name``."""
        return os.path.join(self.root, self.listed[name])

    def part(self, name: str) -> str:
        """A fresh directory for side part ``name``, listed from now on."""
        self.listed[name] = f"v={self.version}/{name}"
        return self[name]

    def segment(self, df: DataFrame, seg: str) -> None:
        """Write ``df`` as segment ``seg`` into a fresh directory, one
        file per key value; it replaces any listed segment of that
        name, so a re-append is idempotent. (The directory is new to
        this version, so ``overwrite`` can only clear the leftover of
        an unpublished attempt.)"""
        name = f"{self.art.table}/seg={seg}"
        rel = f"{name}/v={self.version}"
        self.art.layout(df).write.mode("overwrite").partitionBy(
            self.art.key
        ).parquet(os.path.join(self.root, rel))
        self.listed[name] = rel

    def table(self) -> DataFrame:
        """The listed segments as ONE scan, with ``seg`` and the key as
        partition columns (the per-write ``v`` level dropped)."""
        prefix = f"{self.art.table}/seg="
        return (
            self.spark.read.option(
                "basePath", os.path.join(self.root, self.art.table)
            )
            .parquet(*[self[n] for n in sorted(self.listed)
                       if n.startswith(prefix)])
            .drop("v")
        )


@dataclasses.dataclass(frozen=True)
class Segmented:
    """An appendable artifact: ``table`` segments partitioned by
    ``key``, plus side parts. ``base(spark, sf_dir, gen)`` writes the
    base side parts through ``gen.part`` and returns the base segment's
    rows. An append re-lists the segments it does not write, so the
    base is never copied."""

    family: str
    table: str
    key: str
    size: int
    sort: tuple[str, ...]
    base: Callable[[SparkSession, str, Generation], DataFrame]

    def root(self, sf_dir: str) -> str:
        return artifact_root(sf_dir, self.family)

    def layout(self, df: DataFrame) -> DataFrame:
        """One file per key value per write, rows sorted within it."""
        return df.repartition(self.size, self.key).sortWithinPartitions(
            self.key, *self.sort
        )

    def current(self, spark: SparkSession, sf_dir: str) -> Generation:
        """The published generation (empty when none is published)."""
        root = self.root(sf_dir)
        ver = A.current_version(spark, root) or 0
        return Generation(spark, self, root, ver, A.manifest(spark, root, ver))

    def append(
        self, spark: SparkSession, sf_dir: str,
        write: Callable[[Generation], None],
    ) -> Generation:
        """Publish the current generation plus what ``write(gen)``
        writes as the next version, writing the base first when nothing
        is published; returns the published generation."""
        root = self.root(sf_dir)
        ver, _ = A.next_version_dir(spark, root)
        gen = Generation(spark, self, root, ver, A.manifest(spark, root, ver - 1))
        if not gen.listed:
            gen.segment(self.base(spark, sf_dir, gen), "base")
        write(gen)
        A.publish(spark, root, ver, gen.listed)
        return gen

    def compact(
        self, spark: SparkSession, sf_dir: str,
        repair: Callable[[SparkSession, str], object],
        members: dict[str, Column],
    ) -> DataFrame:
        """Rewrite the published segments as one file per key and
        publish that as the next version of ``<table>-compacted``
        (running ``repair`` first when nothing is published), then
        census both generations per key: n_before, n_after,
        files_after and content_match (counts and every XOR member
        equal)."""
        root = self.root(sf_dir)
        if A.current_version(spark, root) is None:
            repair(spark, sf_dir)
        old = self.current(spark, sf_dir).table().drop("seg")
        croot = os.path.join(root, f"{self.table}-compacted")
        ver, gpath = A.next_version_dir(spark, croot)
        (
            self.layout(old)
            .write.mode("overwrite")
            # files_after = 1 per populated key is enforced in the plan:
            # a session-level maxRecordsPerFile would split a file
            .option("maxRecordsPerFile", 0)
            .partitionBy(self.key)
            .parquet(gpath)
        )
        A.publish(spark, croot, ver, {self.table: f"v={ver}"})
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
