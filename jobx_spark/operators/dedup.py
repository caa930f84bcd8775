"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the whole point of each construction):

  * **exact**: hash-groupBy on a normalized digest — one shuffle keyed
    by a 60-bit hash, survivors = min(id) per group. At 100 TB the
    shuffle carries (digest, id), never the text.
  * **MinHash+LSH**: shingle→minhash signature (per-row, no shuffle) →
    band hashes → groupBy(band, band_hash) → pairs within buckets. The
    only O(pairs) work happens inside LSH buckets, whose expected size
    is controlled by (bands, rows-per-band) — never a full cross join.
  * **SimHash**: per-row 60-bit sketch via 60 conditional sums in one
    groupBy(doc, token) + one groupBy(doc) — then banded hamming join.
  * **n-gram Jaccard**: exact verification pass over *candidate* pairs
    only (blocked or LSH-fed); |A∩B| via an equi-join on shingle.
  * **embedding cosine**: exact verification over blocked pairs with
    scaled-integer dot products (order-independent, cross-engine
    deterministic); the ANN path for candidate generation lives in
    operators/similarity.py.

All hashes are the portable md5-60bit family (jobx_spark.functions), so
every operator has a bit-exact DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from jobx_spark.functions import md5_long, minhash_coeffs, perm_hash
from jobx_spark.lineage import cut_lineage
from jobx_spark.operators.text import gram_rows, shingles, tokens

DOT_SCALE = 1e12


# ----------------------------------------------------------------- exact dedup
def normalized_digest(col: Column | str) -> Column:
    """Digest of whitespace-normalized lower-cased text."""
    c = F.col(col) if isinstance(col, str) else col
    return md5_long(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of each exact (normalized) text.

    Returns (digest, keep_id, n_copies). Survivor selection is a plain
    min-agg — one partial-aggregated shuffle at any scale.
    """
    return (
        df.select(normalized_digest(text_col).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


# -------------------------------------------------------------------- minhash
def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(id, mh0..mh{n-1}) minhash signature columns.

    Explode shingles → base hash → n min-aggregations in ONE groupBy.
    Shingles of a doc live in the doc's own input partition, so the
    partial (map-side) aggregation collapses them to one signature row
    per doc BEFORE the exchange — the shuffle carries only
    (docs × n_hashes) longs, not shingles, at any corpus size. This
    codegen'd hash-agg also beats the "zero-shuffle" per-row
    ``F.aggregate`` formulation in practice: higher-order-function
    lambdas are interpreted per element, while the 16 min-aggregates
    here stay inside whole-stage codegen (measured ~25% faster at
    sf0.1). The universal-hash family is (a*h+b) mod P with
    deterministic (a, b).
    """
    # distinct=True: min over a set equals min over the multiset, and
    # the Arrow gram producer (see operators.text.gram_rows — the fused
    # C-speed form of the interpreted transform+md5 chain) then feeds
    # fewer rows into the signature aggregation.
    base = gram_rows(
        df, [id_col], text_col, ns=(shingle_n,), distinct=True
    ).withColumnRenamed(id_col, "id")
    return minhash_signature_from_hashes(base, "id", "h", n_hashes, seed)


def minhash_signature_from_hashes(
    hashed: DataFrame,
    id_col: str = "id",
    hash_col: str = "h",
    n_hashes: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Signature from a PRECOMPUTED ``(id, shingle-hash)`` table.

    Exists so review/eval queries that need the raw shingle table
    anyway (sizes, intersections) can compute it ONCE, ``cut_lineage``
    it, and derive signatures + LSH pairs from the same materialized
    rows — one corpus scan instead of one per derived table (the
    VERDICT r3 dedup_minhash_est finding: 10 scans). Duplicate hashes
    per id are fine: min over a multiset equals min over its set.
    """
    coeffs = minhash_coeffs(n_hashes, seed)
    aggs = [
        F.min(perm_hash(F.col(hash_col), a, b)).alias(f"mh{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return hashed.groupBy(F.col(id_col).alias("id")).agg(*aggs)


def banded_from_signature(
    sig: DataFrame, n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, bh) banding of an existing (id, mh0..mh{n-1})
    signature table — the LSH blocking key."""
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        member = F.concat_ws(
            ",", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        )
        band_cols.append(
            F.struct(F.lit(b).alias("band"), md5_long(member).alias("bh"))
        )
    return sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def banded_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(id, band, bh): each document's minhash signature split into
    `bands` band hashes — the LSH blocking key. Two documents are
    near-dup candidates iff they share at least one (band, bh)."""
    sig = minhash_signature(df, id_col, text_col, n_hashes, shingle_n, seed)
    return banded_from_signature(sig, n_hashes, bands)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Signature split into `bands` bands of n_hashes/bands rows; a pair is
    a candidate when at least one band hash collides. Output
    (id_a, id_b, n_shared_bands), id_a < id_b.
    """
    banded = banded_signature(df, id_col, text_col, n_hashes, bands, shingle_n, seed)
    return lsh_pairs_from_banded(banded)


def lsh_pairs_from_banded(banded: DataFrame) -> DataFrame:
    """Candidate pairs from an existing (id, band, bh) banding table."""
    # Materialize one exchange on the join keys: the self-join then
    # reads BOTH sides from the same shuffle (ReusedExchange) instead of
    # recomputing the whole signature pipeline twice, and needs no
    # further exchange of its own. (The signature stage itself is
    # shuffle-free, so without this the plan had nothing to reuse.)
    banded = banded.repartition("band", "bh")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def incremental_dup_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Incremental-ingest dedup: near-dup candidate pairs between a NEW
    batch and the EXISTING corpus (never corpus×corpus — that work was
    already done when each old batch arrived). Output
    (new_id, old_id, n_shared_bands).

    Scale shape: the batch side is small relative to the corpus by
    contract (a day's ingest vs. the accumulated 100 TB), so its banded
    signatures BROADCAST; the corpus side streams through its own
    signature scan — the persisted form of that corpus band table is
    queries.dedup.dedup_index_build/probe (on-disk, partitioned by
    (band, bh-bucket); the probe is a partition-pruned bucket lookup,
    no corpus scan at all). The only shuffle is the per-pair band
    count.
    """
    cb = banded_signature(
        corpus, id_col, text_col, n_hashes, bands, shingle_n, seed
    ).select(F.col("id").alias("old_id"), "band", "bh")
    bb = banded_signature(
        batch, id_col, text_col, n_hashes, bands, shingle_n, seed
    ).select(F.col("id").alias("new_id"), "band", "bh")
    return (
        cb.join(F.broadcast(bb), ["band", "bh"])
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Training-corpus decontamination: drop every training document
    that shares at least one LSH band with any eval/benchmark document
    (near-dup contamination, not just exact matches).

    Scale shape: the eval side is small by contract (benchmarks are
    thousands of docs, the training corpus is the 100 TB side), so its
    distinct band hashes broadcast. The train side computes banded
    signatures (map-side-combined aggregation, shuffle carries
    docs × bands rows) and takes a broadcast LEFT SEMI to find
    contaminated ids, then a broadcast-able LEFT ANTI removes them —
    the corpus is never shuffled by the joins themselves. Output: the
    surviving training rows (same schema as ``train``).
    """
    tb = banded_signature(train, id_col, text_col, n_hashes, bands, shingle_n, seed)
    eb = (
        banded_signature(eval_df, id_col, text_col, n_hashes, bands, shingle_n, seed)
        .select("band", "bh")
        .distinct()
    )
    contaminated = (
        tb.join(F.broadcast(eb), ["band", "bh"], "left_semi")
        .select(F.col("id"))
        .distinct()
    )
    return train.join(
        contaminated, train[id_col] == contaminated["id"], "left_anti"
    )


def ngram_overlap_flags(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    min_shared: int = 3,
) -> DataFrame:
    """EXACT n-gram overlap decontamination (the complement of the LSH
    :func:`decontaminate`): flag every training document sharing at
    least ``min_shared`` distinct word n-grams with the eval corpus —
    the published LLM-eval decontamination recipe (verbatim n-gram
    collision, typically 8-13 grams) as opposed to near-dup banding.

    Returns (id, n_shared) for flagged training docs.

    Scale shape: n-grams travel as 60-bit hashes, never strings. The
    eval side's distinct n-gram hash set is small by contract
    (benchmarks) → broadcast; the train side explodes shingles with a
    per-doc ``array_distinct`` BEFORE the explode so the join input
    carries each (doc, gram) once. The only shuffle is the final
    per-doc count — the corpus itself is never shuffled.
    """
    tgrams = gram_rows(
        train, [id_col], text_col, ns=(shingle_n,), distinct=True
    ).withColumnRenamed(id_col, "id")
    egrams = gram_rows(
        eval_df, [], text_col, ns=(shingle_n,), distinct=True
    ).distinct()
    return (
        tgrams.join(F.broadcast(egrams), "h", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# -------------------------------------------------------------------- simhash
SIMHASH_BITS = 60  # the portable hash is 60 bits


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 60-bit SimHash over token frequencies.

    Two aggregations: (id, token)→count collapses duplicate tokens
    map-side; then 60 conditional sums per id build the bit votes. The
    second shuffle carries one row per distinct (id, token) — bounded
    by vocabulary, not document length.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    )
    counted = tok.groupBy("id", "tok").agg(F.count("*").alias("cnt"))
    hashed = counted.select("id", "cnt", md5_long("tok").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"bit{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = hashed.groupBy("id").agg(*votes)
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"bit{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return per_doc.select("id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by banded hamming distance over simhash.

    Split the 60-bit sketch into `bands` segments; by pigeonhole, a pair
    within hamming ≤ (bands-1) per-band thresholds must collide on at
    least one raw segment — candidates come from segment equality, then
    exact hamming verifies. Output (id_a, id_b, hamming).
    """
    seg_bits = SIMHASH_BITS // bands
    sh = simhash(df, id_col, text_col)
    segs = [
        F.shiftright(F.col("simhash"), b * seg_bits)
        .bitwiseAND(F.lit((1 << seg_bits) - 1))
        .alias("seg")
        for b in range(bands)
    ]
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), segs[b])
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.seg").alias("seg"))
    # NO explicit repartition here (unlike lsh_pairs_from_banded): this
    # subtree is pure JVM expressions, so the join's own (band, seg)
    # exchanges canonicalize equal and AQE already reuses one — an
    # explicit repartition ADDS a shuffle (measured 4.0 → 4.7 s at
    # sf0.1). The explicit device is only needed when the subtree
    # contains Python-boundary nodes, which defeat canonical equality.
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "seg"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ----------------------------------------------------- connected components
def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve duplicate-pair edges into clusters: (node, component),
    component = smallest node id reachable from the node.

    Pregel-style min-label propagation as pure DataFrame ops: each round
    joins current labels across the (symmetrized) edge list and takes
    the per-node min — one shuffle per round, converging in O(graph
    diameter) rounds. Dup-candidate graphs from LSH banding are near-
    cliques, so 2-3 rounds settle them in practice; ``cut_lineage``
    (reliable parquet round-trip, jobx_spark/lineage.py) truncates the
    growing lineage each round — unlike localCheckpoint it survives
    executor loss on a cluster. At the 100 TB extreme the same loop
    is the large-star/small-star algorithm's simpler cousin — rounds are
    plain shuffles on node id, so AQE/skew handling applies untouched.

    Driver-side convergence test: one `limit(1).count()` per round — an
    O(1)-result job, not a collect of the labels.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # Materialize the edge list once — every round joins against it, and
    # without this each round would recompute the (possibly expensive)
    # upstream pair-generation pipeline from scratch.
    sym = cut_lineage(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
        "cc-edges",
    )
    labels = cut_lineage(
        sym.select(F.col("u").alias("node")).distinct()
        .withColumn("comp", F.col("node")),
        "cc-labels",
    )
    from jobx_spark.lineage import cut_lineage_observed

    for _ in range(max_iter):
        # per-node min over neighbor labels, then ONE outer join against
        # the old labels: new comp = min(old, neighbor-min) — identical
        # values to the previous union+groupBy-min (labels holds every
        # node exactly once), but the `changed` flag now exists in-plan,
        # so the convergence check rides the checkpoint write as an
        # Observation instead of paying a separate join+count job per
        # round (guide §1/§2.4: one job per round, half the actions).
        msgs_min = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.u") == F.col("l.node"))
            .groupBy(F.col("e.v").alias("node"))
            .agg(F.min(F.col("l.comp")).alias("mcomp"))
        )
        joined = labels.join(msgs_min, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.col("mcomp")).alias("new_comp"),
            (F.col("mcomp") < F.col("comp")).alias("changed"),
        )
        labels, metrics = cut_lineage_observed(
            joined.select("node", F.col("new_comp").alias("comp"), "changed"),
            [F.count_if(F.col("changed")).alias("n_changed")],
            "cc-labels",
            keep=["node", "comp"],
        )
        if int(metrics["n_changed"] or 0) == 0:
            break
    return labels


def connected_components_lsss(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the web-scale algorithm: O(log n) rounds regardless of
    graph DIAMETER, where min-label propagation
    (:func:`connected_components`) needs O(diameter) rounds and stalls
    on long chains. Both return the same (node, component-min) labels;
    this one is the right choice when the dup graph might carry long
    paths (chained near-dups, link graphs) rather than LSH's
    near-cliques.

      * large-star (on the symmetric edge list): every neighbor LARGER
        than u re-points to m(u) = min(Γ(u) ∪ {u});
      * small-star (on edges oriented large→small): u and its smaller
        neighbors all re-point to the minimum.

    Each half-round is ONE groupBy(node) min-aggregation joined back to
    the edge list — plain keyed shuffles, AQE/skew handling untouched.
    Convergence = the oriented edge set reaches a fixpoint, checked
    with an O(1)-result count + commutative checksum job per round;
    lineage is truncated per round via reliable parquet
    ``cut_lineage`` (survives executor loss, like the label-prop twin).
    """
    e0 = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).filter(F.col("u") != F.col("v"))
    # oriented large→small, deduped — the small-star input convention
    oriented = cut_lineage(
        e0.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct(),
        "lsss-edges",
    )
    nodes = cut_lineage(
        oriented.select(F.col("u").alias("node"))
        .union(oriented.select(F.col("v").alias("node")))
        .distinct(),
        "lsss-nodes",
    )

    def _sig(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(  # XOR: commutative, overflow-free under ANSI
                F.bit_xor(F.xxhash64("u", "v")), F.lit(0).cast("long")
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    sig = _sig(oriented)
    converged = False
    for _ in range(max_iter):
        # ---- large-star over the SYMMETRIC view of the oriented edges
        sym = oriented.union(
            oriented.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mn = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mn, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mn.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )
        large = cut_lineage(large, "lsss-edges")
        # ---- small-star on the oriented (large→small) edges
        mn2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mn2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mn2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )
        # fixpoint signature rides the checkpoint write (guide §1: no
        # separate count+checksum job per round)
        from jobx_spark.lineage import cut_lineage_observed

        oriented, m = cut_lineage_observed(
            small,
            [
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.bit_xor(F.xxhash64("u", "v")), F.lit(0).cast("long")
                ).alias("h"),
            ],
            "lsss-edges",
        )
        new_sig = (int(m["n"] or 0), int(m["h"] or 0))
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # Exiting via max_iter would leave a non-star edge set where a
        # node can appear as ``u`` in several oriented edges, and the
        # final left-join below would then silently emit duplicate
        # (node, comp) rows. O(log n) rounds means 30 covers graphs far
        # beyond any real corpus, so this is a bug/misuse signal, not a
        # tuning knob — fail loudly instead of corrupting output.
        raise RuntimeError(
            f"connected_components_lsss: no star-forest fixpoint after "
            f"{max_iter} rounds (edge signature still changing); raise "
            f"max_iter"
        )
    # fixpoint is a star forest: (u → root). Roots label themselves.
    return (
        nodes.join(oriented, nodes.node == oriented.u, "left")
        .select("node", F.coalesce("v", "node").alias("comp"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 5,
    scale: int = 10**9,
) -> DataFrame:
    """Damped PageRank over the (symmetrized) dup-pair graph in
    scaled-INTEGER arithmetic — (node, rank_s, rank), rank_s = rank ×
    `scale` as an exact BIGINT, after exactly `iters` rounds from a
    uniform start.

    Why integers: float PageRank is iteration-order-dependent across
    engines, so it can't be hash-verified. Here every step is integer
    division/floor — ``share = r // deg``, ``r' = (15·S)//100 +
    (85·Σshares)//100`` (damping 0.85) — bit-identical in any engine
    that evaluates the same unrolled rounds (the DuckDB oracle chains
    `iters` plain GROUP-BY CTEs; no recursion, no floats until the final
    display column).

    Scale shape: one shuffle per round keyed on node id (join ranks to
    edges + re-aggregate), identical to the components loop; the edge
    list is materialized once. int64 headroom: Σ rank_s ≈ N·S, and the
    85·Σ intermediate must stay under 2^63 — S=1e9 holds to ~10^8
    nodes; drop S for bigger graphs (ranks keep ~9 significant digits).

    Every node in a symmetrized pair graph has degree ≥ 1, so there is
    no dangling-mass term.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    sym = cut_lineage(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
        "pr-edges",
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    edges_deg = cut_lineage(sym.join(deg, "u"), "pr-edges-deg")
    nodes = deg.select(F.col("u").alias("node"), "deg")
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("r"))
    base = (15 * scale) // 100
    for i in range(iters):
        shares = (
            edges_deg.join(ranks, edges_deg["u"] == ranks["node"])
            .select(F.col("v").alias("node"), F.expr("r div deg").alias("share"))
        )
        ranks = (
            shares.groupBy("node")
            .agg(F.sum("share").alias("total"))
            .select(
                "node",
                (F.lit(base) + F.expr("(85 * total) div 100")).cast("long").alias("r"),
            )
        )
        # Reliable checkpoint every SECOND round (and on the last): the
        # loop has no mid-round action, so lineage depth stays ≤ 2
        # rounds between cuts — bounded recomputation on executor loss
        # at half the fixed per-round write-job cost.
        if i % 2 == 1 or i == iters - 1:
            ranks = cut_lineage(ranks, "pr-ranks")
    return ranks.select(
        "node",
        F.col("r").alias("rank_s"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation over the (symmetrized) dup-pair
    graph: each round every node adopts its neighbors' MOST FREQUENT
    label, ties broken toward the smallest label — fully deterministic,
    unlike textbook LPA's random tie-break, so the DuckDB oracle
    (the same rounds unrolled as CTEs) reproduces it bit-for-bit.
    Returns (node, community) after exactly ``rounds`` rounds.

    Where min-label components finds CONNECTivity, neighbor-majority
    voting finds DENSITY — two bridged cliques stay separate
    communities because each side's internal majority out-votes the
    single bridge edge.

    Scale shape: identical to the components/pagerank loops — edge list
    materialized once, two keyed shuffles per round (neighbor-vote
    count + per-node argmax), lineage cut every second round for
    executor-loss recovery with bounded recomputation.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    sym = cut_lineage(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct(),
        "lp-edges",
    )
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    w = W.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for i in range(rounds):
        votes = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.u") == F.col("l.node"))
            .groupBy(F.col("e.v").alias("node"), F.col("l.lbl").alias("lbl"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
        if i % 2 == 1 or i == rounds - 1:
            labels = cut_lineage(labels, "lp-labels")
    return labels.select("node", F.col("lbl").alias("community"))


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node triangle participation counts — (node, n_triangles),
    nodes in ≥ 1 triangle only — over an undirected edge list (each
    edge once, either orientation; self-loops and duplicates tolerated).

    Degree-orientation algorithm: orient every edge from the
    (degree, id)-smaller endpoint to the larger, enumerate wedges only
    at each edge's source, close with a third oriented edge. Out-degree
    under this orientation is O(√m) regardless of hub size, so the
    wedge join stays bounded even when one node pairs with millions —
    the naive formulation's hub² wedge blowup is what dies at scale.
    The produced triangle SET is orientation-invariant, so results are
    independent of the ordering trick (exactly what the query oracle
    exploits by enumerating with plain id order).
    """
    e0 = edges.select(
        F.least(F.col(src), F.col(dst)).cast("long").alias("a"),
        F.greatest(F.col(src), F.col(dst)).cast("long").alias("b"),
    ).filter(F.col("a") != F.col("b")).distinct()
    pairs = cut_lineage(e0, "tri-edges")
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionByName(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        pairs.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = cut_lineage(
        e.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
        ),
        "tri-oriented",
    )
    # e1.dst ≺ e2.dst in the SAME (degree, id) order, so the closing
    # edge — if present — is oriented exactly e1.dst → e2.dst.
    dst_lt = (F.col("e1.dst_deg") < F.col("e2.dst_deg")) | (
        (F.col("e1.dst_deg") == F.col("e2.dst_deg"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.src") == F.col("e2.src"))
        .filter(dst_lt)
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("v"),
            F.col("e2.dst").alias("w"),
        )
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    # explode, not a 3-way self-union: a union re-evaluates the wedge
    # join once per branch; explode walks the triangle rows once.
    member = tri.select(
        F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node")
    )
    return member.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def kcore(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """Bounded-round k-core peel over an undirected edge list —
    (node, core_deg): the nodes surviving ``rounds`` peels (each round
    removes nodes with induced degree < k) with their degree in the
    final induced subgraph. The dup-graph use: a doc's k-core
    membership separates dense near-duplicate cliques from incidental
    pairwise collisions, which degree alone cannot.

    The fixed ``rounds`` contract is what makes the result expressible
    as unrolled SQL (pagerank precedent): peeling past convergence is a
    no-op, so an early-stopped Spark loop and an R-round oracle agree
    whenever the loop's stop condition is \"a round removed nothing\".
    Scale shape: the edge list is materialized once (cut_lineage —
    reliable at cluster scale, jobx_spark/lineage.py); each round is
    two semi-joins + one count keyed on node id — same per-round
    machinery as the components loop, one shuffle family per round,
    no driver-side graph.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    sym = cut_lineage(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "kcore-edges",
    )
    from jobx_spark.lineage import cut_lineage_observed

    alive = sym.select(F.col("u").alias("node")).distinct()
    n_alive = alive.count()
    for _ in range(rounds):
        deg = (
            sym.join(alive, sym["u"] == alive["node"], "left_semi")
            .join(
                alive.select(F.col("node").alias("vn")),
                F.col("v") == F.col("vn"),
                "left_semi",
            )
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # survivor count rides the checkpoint write as an Observation —
        # no separate count job per peel round (guide §1)
        alive, metrics = cut_lineage_observed(
            deg.filter(F.col("deg") >= k).select(F.col("u").alias("node")),
            [F.count(F.lit(1)).alias("n")],
            "kcore-alive",
        )
        n_next = int(metrics["n"] or 0)
        if n_next == n_alive:  # converged — further rounds are no-ops
            break
        n_alive = n_next
    final_deg = (
        sym.join(alive, sym["u"] == alive["node"], "left_semi")
        .join(
            alive.select(F.col("node").alias("vn")),
            F.col("v") == F.col("vn"),
            "left_semi",
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )
    return alive.join(
        final_deg.select(F.col("u").alias("node"), "core_deg"), "node", "left"
    ).select("node", F.coalesce("core_deg", F.lit(0)).alias("core_deg"))


# ------------------------------------------------------------- n-gram jaccard
def _gram_table(
    df: DataFrame, id_col: str, text_col: str, block_col: str | None,
    n: int,
) -> DataFrame:
    """The token table (id, blk, h) every n-gram pair join starts from,
    persisted because each caller reads it more than once (otherwise
    the input is re-tokenized per consumer). Arrow gram producer
    (operators.text.gram_rows): per-doc-distinct rows with no distinct
    shuffle (per-doc dedup happens inside the batch) and no
    interpreted shingle lambda. Token-less docs emit nothing — they
    never join, so the old explode_outer NULL row changes no output."""
    return gram_rows(
        df.select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk") if block_col else F.lit(1).alias("blk"),
            F.col(text_col).alias("text"),
        ),
        ["id", "blk"],
        "text",
        ns=(n,),
        distinct=True,
    ).persist(StorageLevel.MEMORY_AND_DISK)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 1,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram-set Jaccard for pairs sharing a block (or LSH
    bucket). |A∩B| comes from an equi-join on the shingle hash — the
    shuffle is keyed by shingle, so cost tracks shared-shingle volume,
    not the pair cross product.
    """
    # sizes + both self-join sides reuse the token table
    sh = _gram_table(df, id_col, text_col, block_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, ["blk", "h"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sza = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sza, "id_a")
        .join(szb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 1,
    min_containment: float = 0.0,
) -> DataFrame:
    """Asymmetric set containment |A∩B| / |A| for pairs sharing a block
    — the near-SUBSET detector (quote extraction, boilerplate wrapping,
    truncated re-crawls) that symmetric Jaccard misses: a 50-token doc
    fully embedded in a 5000-token doc has Jaccard ≈ 0.01 but
    containment 1.0. Directed output: ``id_a`` is the (smaller)
    contained side. Same shingle-hash equi-join shape as
    :func:`ngram_jaccard_pairs`, so the shuffle is keyed by shingle and
    scales with shared-shingle volume, not |docs|².
    """
    sh = _gram_table(df, id_col, text_col, block_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, ["blk", "h"])
        .filter(F.col("a.id") != F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sza = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    return (
        inter.join(sza, "id_a")
        .withColumn(
            "containment",
            F.col("n_inter").cast("double") / F.col("sz_a").cast("double"),
        )
        .filter(F.col("containment") >= min_containment)
        .select("id_a", "id_b", "n_inter", "containment")
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 1,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Prefix-filtered exact Jaccard threshold join — same output as
    :func:`ngram_jaccard_pairs` (for the same ``min_jaccard``), different
    plan, built for scale.

    The raw formulation joins the FULL token table with itself, so its
    cost is Σ_token df(token)² — quadratic in document frequency, and
    high-df tokens ("the") dominate at 100 TB. Prefix filtering (the
    standard ppjoin-family bound) restores control: order each document's
    tokens by ascending global df; if J(A,B) ≥ t, the first
    |A| − ⌈t·|A|⌉ + 1 tokens of A and B must overlap — so the candidate
    join runs over *prefixes only*, dominated by RARE tokens with tiny
    df². Candidates are then verified exactly with array_intersect over
    the collected token arrays.

    Shuffles of the full token table: ONE (blk, h)-keyed join against the
    map-side-combined df-count table and ONE id-keyed window that carries
    both the prefix rank and the set size; everything downstream (prefix
    candidates, verify arrays) is prefix-/candidate-bounded or reuses the
    id partitioning. (The token table needs no distinct pass: tokens are
    per-doc-distinct from array_distinct BEFORE the explode, so the old
    (id, blk, h) distinct was a full shuffle that removed nothing.)
    """
    # two downstream branches (the df census and the ranked join) read
    # the token table
    sh = _gram_table(df, id_col, text_col, block_col, n)
    dfreq = sh.groupBy("blk", "h").agg(F.count("*").alias("dfreq"))
    # sz rides the SAME id-window exchange as the prefix rank (a count
    # over the whole partition), replacing the separate groupBy(id)
    # census + join-back. Docs with no tokens never reach this point
    # (explode of an empty array yields nothing) and can never be
    # candidates, so dropping the old explode_outer NULL row changes no
    # output.
    w_id = W.partitionBy("id")
    ranked = (
        sh.join(dfreq, ["blk", "h"])
        .withColumn("sz", F.count(F.lit(1)).over(w_id))
        .withColumn("rn", F.row_number().over(w_id.orderBy("dfreq", "h")))
        .withColumn(
            "prefix_len",
            (F.col("sz") - F.ceil(F.lit(min_jaccard) * F.col("sz")) + 1).cast("int"),
        )
    )
    # prefix, candidates AND the verify arrays all derive from ranked;
    # persisting it keeps the id partitioning visible downstream, so the
    # tok_arrays groupBy(id) is exchange-free.
    ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    prefix = ranked.filter(F.col("rn") <= F.col("prefix_len")).select("id", "blk", "h")
    a, b = prefix.alias("a"), prefix.alias("b")
    candidates = (
        a.join(b, ["blk", "h"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # One agg carries BOTH the verify payload (token array) and the set
    # size, so each candidate side is a single join. sz equals the old
    # null-filtered count for every id that can appear in candidates.
    tok_arrays = ranked.groupBy("id").agg(
        F.collect_list("h").alias("hs"), F.first("sz").alias("tsz")
    )
    ta = tok_arrays.select(
        F.col("id").alias("id_a"), F.col("hs").alias("hs_a"),
        F.col("tsz").alias("sz_a"),
    )
    tb = tok_arrays.select(
        F.col("id").alias("id_b"), F.col("hs").alias("hs_b"),
        F.col("tsz").alias("sz_b"),
    )
    return (
        candidates.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


# --------------------------------------------------------- embedding near-dup
def scaled_dot(vec_a: Column, vec_b: Column, scale: float = DOT_SCALE) -> Column:
    """Order-independent dot product: per-element double products floored
    to scaled BIGINTs, then an exact integer fold. Bit-identical across
    engines and partitionings (see jobx_spark/queries/similarity.py for
    the DuckDB rendering)."""
    return F.aggregate(
        F.zip_with(
            vec_a,
            vec_b,
            lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(scale)).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def scaled_dot_udf():
    """Arrow-vectorized :func:`scaled_dot` — identical per-element
    ``floor(x·y·1e12)`` int64 terms, summed exactly (order-independent),
    so results are bit-equal to the expression form. Use on the hot
    pairwise paths: higher-order functions interpret per element, numpy
    does one (pairs × dim) pass per Arrow batch."""
    @F.pandas_udf("long")
    def sdot(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.values).astype(np.float64)
        mb = np.stack(b.values).astype(np.float64)
        return pd.Series(np.floor(ma * mb * 1e12).astype(np.int64).sum(axis=1))

    return sdot


def cosine_from_scaled(dot_s: Column, norm_a_s: Column, norm_b_s: Column) -> Column:
    # try_divide, not /: a zero-norm vector must yield a NULL cosine
    # (sorted last under desc, maskable with norm > 0 filters) instead
    # of an ANSI DIVIDE_BY_ZERO task failure — the engine-wide
    # contract the serve-family zero-norm masks rely on (ADVICE r10).
    return F.try_divide(
        dot_s.cast("double"),
        F.sqrt(norm_a_s.cast("double")) * F.sqrt(norm_b_s.cast("double")),
    )


ALL_PAIRS_LIMIT = 20_000


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    min_cosine: float = 0.9,
    auto_block_planes: int = 8,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Cosine near-duplicate pairs within blocks.

    Blocking (a label, an LSH bucket, or a coarse quantization) bounds
    the pair enumeration; the exact cosine then verifies. Output
    (id_a, id_b, cosine).

    Safe by default: ``block_col=None`` does NOT fall back to all-pairs
    — it auto-blocks with deterministic hyperplane LSH
    (``similarity.hyperplane_bucket_udf``, ``auto_block_planes`` sign
    bits), so the worst case stays pairs-within-buckets at any corpus
    size (at the cost of missing cross-bucket pairs, the standard LSH
    recall trade). The true all-pairs cross product — O(n²) and a
    cluster-killer at 100 TB — must be requested with
    ``allow_all_pairs=True`` and raises above ``ALL_PAIRS_LIMIT`` rows.
    """
    sdot = scaled_dot_udf()
    if block_col is not None:
        blk = F.col(block_col)
    elif allow_all_pairs:
        n = df.count()
        if n > ALL_PAIRS_LIMIT:
            raise ValueError(
                f"allow_all_pairs=True on {n} rows (> {ALL_PAIRS_LIMIT}): "
                "the unblocked cross product is O(n²). Pass a block_col "
                "or use the default LSH auto-blocking (block_col=None)."
            )
        blk = F.lit(1)
    else:
        from jobx_spark.operators.similarity import hyperplane_bucket_udf

        blk = hyperplane_bucket_udf(auto_block_planes)(F.col(vec_col))
    base = df.select(
        F.col(id_col).alias("id"),
        blk.alias("blk"),
        F.col(vec_col).alias("v"),
    ).withColumn("norm_s", sdot(F.col("v"), F.col("v")))
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, "blk")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_from_scaled(
                sdot(F.col("a.v"), F.col("b.v")),
                F.col("a.norm_s"),
                F.col("b.norm_s"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )
