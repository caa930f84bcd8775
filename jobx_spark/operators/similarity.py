"""Similarity search over embedding columns: exact brute-force top-k and
an LSH-bucketed approximate variant.

Scale shape:
  * **brute force** is exact and O(|Q|·|N|) — right when |Q| is small
    (a probe set) or as the verification pass. The query side is
    broadcast; the corpus side streams — no shuffle of the corpus.
  * **hyperplane LSH** assigns every vector a bucket from the signs of
    `n_planes` pseudo-random hyperplane projections; top-k runs within
    buckets only. Hyperplanes are derived from integer arithmetic
    (deterministic, no RNG state), so bucketing is reproducible in SQL
    and across cluster runs. At 100 TB the bucket column becomes the
    partition/bucketing key of the stored table, turning ANN lookups
    into single-partition scans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from jobx_spark.operators.dedup import cosine_from_scaled, scaled_dot_udf
from jobx_spark.sources import local_frame

# hyperplane weights: w(plane j, dim i) = +1 if ((j*1000003 + i*7919) mod 97)
# is even else -1 — pure integer arithmetic, identical in any engine.
_WP1, _WP2, _WMOD = 1_000_003, 7_919, 97

_sdot_cached = None


def _sdot(a: Column, b: Column) -> Column:
    """Vectorized scaled dot (bit-equal to operators.dedup.scaled_dot);
    the UDF object is created lazily and reused across queries."""
    global _sdot_cached
    if _sdot_cached is None:
        _sdot_cached = scaled_dot_udf()
    return _sdot_cached(a, b)


def hyperplane_sign(vec: Column, plane: int) -> Column:
    """Sign of the projection of `vec` onto deterministic hyperplane j,
    computed in scaled-integer space (order-independent)."""
    proj = F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda x, i: F.floor(
                x.cast("double")
                * F.when(((F.lit(plane) * _WP1 + i * _WP2) % _WMOD) % 2 == 0, 1.0).otherwise(-1.0)
                * F.lit(1e12)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))


def hyperplane_bucket(vec: Column, n_planes: int = 8) -> Column:
    """LSH bucket id: n_planes sign bits packed into a BIGINT.

    Expression form — used where a pure-SQL plan is wanted. For bulk
    bucketing prefer :func:`hyperplane_bucket_udf`: higher-order
    functions evaluate per-element in the interpreter, while the UDF
    does the identical integer arithmetic as one numpy matrix pass.
    """
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        bucket = bucket + hyperplane_sign(vec, j).cast("long") * F.lit(1 << j).cast("long")
    return bucket


def hyperplane_bucket_udf(n_planes: int = 8):
    """Arrow-vectorized bucket computation, bit-identical to
    :func:`hyperplane_bucket`: per-element ``floor((x·w)·1e12)`` scaled
    integers summed exactly (int64, order-independent), sign bits
    packed. ~10× the expression form's throughput — per-element
    interpreted lambdas become one (rows × dim) numpy pass per batch.
    """
    @F.pandas_udf("long")
    def bucket(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.values).astype(np.float64)  # (rows, dim)
        idx = np.arange(mat.shape[1])
        out = np.zeros(len(vs), dtype=np.int64)
        for j in range(n_planes):
            w = np.where(((j * _WP1 + idx * _WP2) % _WMOD) % 2 == 0, 1.0, -1.0)
            proj = np.floor((mat * w) * 1e12).astype(np.int64).sum(axis=1)
            out += (proj >= 0).astype(np.int64) << j
        return pd.Series(out)

    return bucket


def _centroid_arrays(rows, scale: int | None = None):
    """Driver-side centroid matrix from collected (cent_id, cv[_s])
    rows: (cent_ids asc int64, cv float64 (k,dim), cnorm_sqrt float64).
    ``scale`` set means rows carry scaled-int ``cv_s`` to be divided
    down; None means rows already carry double ``cv``. The norm is the
    same ``floor(c·c·1e12)`` int64 sum as :func:`scaled_dot`, so every
    downstream cosine is bit-identical to the expression form."""
    ids = sorted(r["cent_id"] for r in rows)
    by_id = {r["cent_id"]: r for r in rows}
    cent_ids = np.array(ids, dtype=np.int64)
    if scale is None:
        cv = np.array([list(by_id[i]["cv"]) for i in ids], dtype=np.float64)
    else:
        cv = (
            np.array([list(by_id[i]["cv_s"]) for i in ids], dtype=np.float64)
            / scale
        )
    cnorm_sqrt = np.sqrt(
        np.floor(cv * cv * 1e12).astype(np.int64).sum(axis=1).astype(np.float64)
    )
    return cent_ids, cv, cnorm_sqrt


def _nearest_cells(mat, cent_ids, cv, cnorm_sqrt):
    """Vectorized nearest-centroid assignment over a (rows, dim) batch:
    returns (best_index_into_cent_ids, vnorm_s int64). The shared
    numerics of :func:`_nearest_centroid_udf` and the Lloyd update
    (:func:`_update_partials_gen`): per-element
    ``floor(x·c·1e12)`` int64 dots, cosine in IEEE doubles, undefined
    cosines (zero norm) = -inf so np.argmax ties to the LOWEST
    cent_id."""
    n = mat.shape[0]
    vnorm_s = np.floor(mat * mat * 1e12).astype(np.int64).sum(axis=1)
    vnorm_sqrt = np.sqrt(vnorm_s.astype(np.float64))
    k = len(cent_ids)
    cos = np.full((n, k), -np.inf)
    for j in range(k):
        denom = vnorm_sqrt * cnorm_sqrt[j]
        dot = (
            np.floor(mat * cv[j] * 1e12)
            .astype(np.int64)
            .sum(axis=1)
            .astype(np.float64)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            cj = dot / denom
        cos[:, j] = np.where(denom > 0.0, cj, -np.inf)
    return np.argmax(cos, axis=1), vnorm_s, cos


def _update_partials_gen(active, scale: int):
    """mapInPandas generator fusing one Lloyd round's ASSIGN + UPDATE
    partials of SEVERAL independent k-means chains into one boundary
    crossing: ``active`` is [(chain_index, vec_col, cent_ids, cv,
    cnorm_sqrt), ...] and each Arrow batch emits, per chain, the
    non-empty cells' (sub, cell, idx, s=Σ floor(x·S) int64,
    n=rows-in-cell) partials, tagged with the chain index so one
    aggregation serves all chains. Vectors cross the Python boundary
    once and never re-explode per element in the JVM; integer partials
    are exact and order-free, and chains are independent, so fusing
    cannot change any value."""

    def gen(pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            frames = []
            for i, col, cent_ids, cv, cnorm_sqrt in active:
                mat = np.stack(pdf[col].values).astype(np.float64)
                bi, _, _ = _nearest_cells(mat, cent_ids, cv, cnorm_sqrt)
                dim, k = mat.shape[1], len(cent_ids)
                sums = np.zeros((k, dim), dtype=np.int64)
                np.add.at(sums, bi, np.floor(mat * scale).astype(np.int64))
                counts = np.bincount(bi, minlength=k).astype(np.int64)
                ki = np.nonzero(counts > 0)[0]
                frames.append(
                    pd.DataFrame(
                        {
                            "sub": np.full(len(ki) * dim, i, dtype=np.int32),
                            "cell": np.repeat(cent_ids[ki], dim),
                            "idx": np.tile(
                                np.arange(dim, dtype=np.int32), len(ki)
                            ),
                            "s": sums[ki].ravel(),
                            "n": np.repeat(counts[ki], dim),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return gen


def kmeans_train(
    mat: DataFrame,
    vec_cols: list[str],
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    cent_base: int = 10,
    scale: int = 10**6,
) -> list[DataFrame]:
    """Deterministic spherical k-means for IVF and PQ codebook
    training: one independent chain PER COLUMN of ``mat``, each
    returned as its trained (cent_id, cv) centroid table (the input
    :func:`ivf_assign` and :func:`ivf_topk` expect), index-aligned with
    ``vec_cols``.

    Cross-engine exactness (the reason this is hash-verifiable when
    textbook float k-means is not): centroids live as scaled-INTEGER
    vectors — init ``floor(x·S)`` from the `k` seed vectors (ids
    ``cent_base..cent_base+k``), update ``Σ floor(x·S) // count`` per
    dimension (exact int64) — and assignment uses the same scaled-dot
    cosine as the rest of the similarity stack, with ties to the lowest
    cent_id. Every operation is either integer or a deterministic IEEE
    double op on identical inputs, so DuckDB running the same unrolled
    rounds reproduces bit-identical centroids. A cell that no vector
    picks dies for the rest of its chain.

    Scale shape: one seed collect (k rows, every chain's slice), then
    ONE Spark job per Lloyd round for ALL chains — a scan of the needed
    columns emitting every chain's tagged integer partials through one
    boundary crossing (:func:`_update_partials_gen`) and one
    map-side-combined (sub, cell, idx) aggregation whose ≤ chains·k·dim
    rows are collected back. The centroid matrices live on the DRIVER
    and ship in the task closure, so assignment is a pure map: no join,
    no broadcast exchange, no corpus shuffle. The update division stays
    a Spark ``div`` so its truncation is byte-identical to the SQL
    oracle's. A restart replays from the deterministic seed, so no
    checkpoint is needed."""
    spark = mat.sparkSession
    ncols = len(vec_cols)
    seed_rows = (
        mat.filter(
            (F.col(id_col) >= cent_base) & (F.col(id_col) < cent_base + k)
        )
        .select(
            (F.col(id_col) - cent_base).alias("cent_id"),
            *[
                F.transform(
                    c,
                    lambda x: F.floor(x.cast("double") * scale).cast("long"),
                ).alias(f"cv_{i}")
                for i, c in enumerate(vec_cols)
            ],
        )
        .collect()
    )
    cents: list[dict[int, list[int]]] = [
        {int(r["cent_id"]): list(r[f"cv_{i}"]) for r in seed_rows}
        for i in range(ncols)
    ]
    for _ in range(iters):
        active = []
        for i, col in enumerate(vec_cols):
            if not cents[i]:
                continue
            rows = [
                {"cent_id": c, "cv_s": cents[i][c]} for c in sorted(cents[i])
            ]
            cent_ids, cvm, cnorm_sqrt = _centroid_arrays(rows, scale=scale)
            active.append((i, col, cent_ids, cvm, cnorm_sqrt))
        if not active:
            break
        gen = _update_partials_gen(active, scale)
        cols_needed = list(dict.fromkeys(col for _, col, *_ in active))
        upd_rows = (
            mat.select(*cols_needed)
            .mapInPandas(gen, "sub int, cell long, idx int, s long, n long")
            .groupBy("sub", "cell", "idx")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .select("sub", "cell", "idx", F.expr("s div n").alias("val_s"))
            .collect()
        )
        nxt: list[dict[int, dict[int, int]]] = [{} for _ in range(ncols)]
        for r in upd_rows:
            nxt[int(r["sub"])].setdefault(int(r["cell"]), {})[
                int(r["idx"])
            ] = int(r["val_s"])
        for i, col in enumerate(vec_cols):
            if cents[i]:
                cents[i] = {
                    cell: [vals[j] for j in sorted(vals)]
                    for cell, vals in nxt[i].items()
                }
    return [
        local_frame(
            spark,
            [
                {"cent_id": c, "cv": [v / scale for v in cents[i][c]]}
                for c in sorted(cents[i])
            ],
            "cent_id bigint, cv array<double>",
        )
        for i in range(ncols)
    ]


def _residual_subs_udf(cent_ids, cv, cnorm_sqrt, pq_sub: int, pq_dim: int):
    """Pandas UDF mapping a vector to struct(cell, sub0..sub{n-1}):
    nearest-cell assignment (:func:`_nearest_cells`, ties to the lowest
    cent_id exactly like ``ivf_assign``) fused with the residual
    subtract ``rv = v - cv[cell]`` and its PQ subspace slices — the
    previous plan paid a broadcast join back to the centroid table plus
    an interpreted per-element ``zip_with`` subtract over the whole
    corpus. numpy double subtraction is the same IEEE op on identical
    inputs, and the slices are exact re-indexing, so the materialized
    residual table is bit-identical."""
    fields = "cell bigint" + "".join(
        f", sub{s} array<double>" for s in range(pq_sub)
    )

    @F.pandas_udf(f"struct<{fields}>")
    def best(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0 or len(cent_ids) == 0:
            out = pd.DataFrame({"cell": pd.Series([], dtype="int64")})
            for s in range(pq_sub):
                out[f"sub{s}"] = pd.Series([], dtype="object")
            return out
        mat = np.stack(vs.values).astype(np.float64)
        bi, _, _ = _nearest_cells(mat, cent_ids, cv, cnorm_sqrt)
        rv = mat - cv[bi]
        out = pd.DataFrame({"cell": cent_ids[bi]})
        for s in range(pq_sub):
            sl = rv[:, s * pq_dim : (s + 1) * pq_dim]
            out[f"sub{s}"] = list(sl)
        return out

    return best


def _nearest_centroid_udf(cent_ids, cv, cnorm_sqrt, with_cosine: bool):
    """Pandas UDF mapping a vector column to its nearest centroid by
    cosine — the k-row centroid matrix ships in the task closure, so
    assignment is a PURE MAP over the corpus (the previous shape was a
    broadcast join + a full-corpus groupBy(id) shuffle that carried the
    vectors). Numerics are bit-identical to the join form: per-element
    ``floor(x·c·1e12)`` int64 dots (numpy, same as scaled_dot_udf),
    cosine = dot / (√vnorm·√cnorm) in IEEE doubles, NULL when either
    norm is zero (the try_divide contract), ties to the LOWEST cent_id
    (np.argmax first-max == max(struct(cos, -cent_id)): a NULL cosine
    sorts below every finite one, exactly like -inf here).

    Returns struct(norm_s, cell, cosine?) per row; rows where every
    centroid cosine is undefined get cell = lowest cent_id and a NULL
    cosine — the same row the old max(struct) aggregation produced."""
    fields = "norm_s bigint, cell bigint" + (
        ", cosine double" if with_cosine else ""
    )

    @F.pandas_udf(f"struct<{fields}>")
    def best(vs: pd.Series) -> pd.DataFrame:
        n = len(vs)
        if n == 0 or len(cent_ids) == 0:
            out = pd.DataFrame(
                {
                    "norm_s": pd.Series([], dtype="int64"),
                    "cell": pd.Series([], dtype="int64"),
                }
            )
            if with_cosine:
                out["cosine"] = pd.Series([], dtype="float64")
            return out
        mat = np.stack(vs.values).astype(np.float64)
        # first max → lowest cent_id on ties
        bi, vnorm_s, cos = _nearest_cells(mat, cent_ids, cv, cnorm_sqrt)
        bc = cos[np.arange(n), bi]
        out = pd.DataFrame(
            {"norm_s": vnorm_s, "cell": cent_ids[bi]}
        )
        if with_cosine:
            cvals = bc.astype(object)
            cvals[~np.isfinite(bc)] = None  # all-undefined → NULL cosine
            out["cosine"] = cvals
        return out

    return best


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
    with_cosine: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (IVF coarse
    quantization). The k-row centroid table is collected to the driver
    (bounded by k, never the corpus) and ships in the task closure, so
    assignment is a pure map — no join, no shuffle; ties to the lowest
    cent_id exactly as before.

    Output (id, v, norm_s, *extra_cols, cell), plus the vector's
    ``cosine`` to its cell's centroid (NULL when undefined) when
    ``with_cosine`` is set. ``extra_cols`` carries
    per-vector metadata (e.g. the label an index stores for filtered
    search) THROUGH the assignment — the alternative, joining the
    assignment back to the corpus on id, is a corpus-to-corpus shuffle
    join the 100 TB build never needs. At 100 TB the cell becomes the
    partition key of the stored index table, so a probe reads only
    nprobe partitions.
    """
    crows = centroids.select("cent_id", "cv").collect()
    cent_ids, cvm, cnorm_sqrt = _centroid_arrays(crows)
    best = _nearest_centroid_udf(cent_ids, cvm, cnorm_sqrt, with_cosine)
    v = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), *extra_cols
    )
    cos = ["cosine"] if with_cosine else []
    if len(crows) == 0:
        return (
            v.withColumn("norm_s", _sdot(F.col("v"), F.col("v")))
            .withColumn("cell", F.lit(None).cast("long"))
            .withColumn("cosine", F.lit(None).cast("double"))
            .filter(F.lit(False))
            .select("id", "v", "norm_s", *extra_cols, "cell", *cos)
        )
    return v.withColumn("b", best(F.col("v"))).select(
        "id",
        "v",
        F.col("b.norm_s").alias("norm_s"),
        *extra_cols,
        F.col("b.cell").alias("cell"),
        *[F.col(f"b.{c}").alias(c) for c in cos],
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-
    centroid cell; each query probes its `nprobe` closest cells and
    ranks exactly within them. Cells are disjoint, so candidates never
    duplicate. Output (query_id, vec_id, rank, cosine).

    ``cells`` optionally injects a pre-built assignment (the
    ``ivf_assign`` output, typically lineage-cut) so several searches
    over the same index — an nprobe sweep, a query batch fan-out —
    share ONE assignment pass instead of re-scanning the corpus each."""
    if cells is None:
        cells = ivf_assign(corpus, centroids, id_col, vec_col)
    c = centroids.select("cent_id", "cv").withColumn(
        "cnorm_s", _sdot(F.col("cv"), F.col("cv"))
    )
    q = queries.select(
        F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).withColumn("qnorm_s", _sdot(F.col("qv"), F.col("qv")))
    qcells = q.join(F.broadcast(c)).select(
        "qid",
        "qv",
        "qnorm_s",
        F.col("cent_id").alias("cell"),
        cosine_from_scaled(
            _sdot(F.col("qv"), F.col("cv")), F.col("qnorm_s"), F.col("cnorm_s")
        ).alias("ccos"),
    )
    wprobe = W.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("cell"))
    probes = (
        qcells.withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qv", "qnorm_s", "cell")
    )
    scored = cells.join(F.broadcast(probes), "cell").select(
        "qid",
        F.col("id").alias("vec_id"),
        cosine_from_scaled(
            _sdot(F.col("qv"), F.col("v")), F.col("qnorm_s"), F.col("norm_s")
        ).alias("cosine"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "vec_id", "rank", "cosine")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    label_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k, corpus-scan-once. Output
    (query_id, vec_id, rank, cosine); ids must be integral. With
    ``label_col`` set (on both frames), each query ranks only corpus
    vectors whose label differs from its own: exact top-k HARD
    NEGATIVES, the mining step that builds contrastive/retrieval
    training pairs (negatives that are hard because they look like
    positives).

    The query set is small by contract (a probe set — the same bound
    that justified broadcasting it); it is collected into a numpy
    matrix and shipped in the task closure. Each corpus batch then
    scores ALL queries in one vectorized pass and keeps only its local
    top-k per query, so (a) the corpus streams through exactly once —
    the previous broadcast-join shape re-shipped every corpus vector
    through Arrow once per query — and (b) the shuffle into the global
    ranking carries ≤ batches·|Q|·k candidate rows instead of |corpus|·
    |Q| scored pairs. That map-side k-selection is what makes exact
    brute force viable as the verification pass at 100 TB; for query
    sets too large for one closure, chunk them and union. The label
    mask applies during the scan, not as a post-rank filter (which
    would under-fill k).

    Numerics are bit-identical to :func:`jobx_spark.operators.dedup.
    scaled_dot` / ``cosine_from_scaled``: per-element
    ``floor((x·y)·1e12)`` int64 terms, exact integer sum, then
    ``dot / (sqrt(qnorm)·sqrt(cnorm))`` in IEEE doubles — the partial
    selection changes which rows survive, never their values, and its
    comparator (cosine desc, vec_id asc) matches the final ranking, so
    the global result is exactly the full-scored answer.

    Zero-norm vectors (cosine undefined) are masked: zero-norm queries
    produce no rows, zero-norm corpus vectors never rank — otherwise a
    single zero vector yields NaN cosines with engine-dependent
    ordering against the SQL oracles, whose base CTEs carry the
    matching ``WHERE norm_s > 0`` mask."""
    labels = [label_col] if label_col else []
    qrows = queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        *[F.col(c).alias("qlabel") for c in labels],
    ).collect()
    if not qrows:
        return local_frame(
            corpus.sparkSession,
            [], "query_id long, vec_id long, rank int, cosine double"
        )
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    # no int64 cast on labels: string/any-typed label columns compare
    # fine via numpy object equality, and a hard cast raised inside
    # the Arrow worker for non-integer labels
    qlabels = np.array([r["qlabel"] for r in qrows]) if label_col else None
    qmat = np.array([r["qv"] for r in qrows], dtype=np.float64)  # (nq, dim)
    qnorm_sqrt = np.sqrt(
        np.floor((qmat * qmat) * 1e12).astype(np.int64).sum(axis=1).astype(np.float64)
    )

    def score_partition(pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack(pdf[vec_col].values).astype(np.float64)
            cnorm_sqrt = np.sqrt(
                np.floor((mat * mat) * 1e12)
                .astype(np.int64)
                .sum(axis=1)
                .astype(np.float64)
            )
            # zero-norm corpus rows masked (cosine undefined)
            valid = cnorm_sqrt != 0.0
            if label_col:
                clabels = pdf[label_col].to_numpy()[valid]
            if not valid.all():
                ids, mat, cnorm_sqrt = ids[valid], mat[valid], cnorm_sqrt[valid]
            if len(ids) == 0:
                continue
            out_q, out_id, out_cos = [], [], []
            for j in range(len(qids)):
                if qnorm_sqrt[j] == 0.0:
                    # zero-norm query: cosine undefined for every row
                    continue
                qi, qm, qc = ids, mat, cnorm_sqrt
                if label_col:
                    other = clabels != qlabels[j]
                    if not other.any():
                        continue
                    qi, qm, qc = ids[other], mat[other], cnorm_sqrt[other]
                dot = (
                    np.floor((qm * qmat[j]) * 1e12)
                    .astype(np.int64)
                    .sum(axis=1)
                    .astype(np.float64)
                )
                cos = dot / (qnorm_sqrt[j] * qc)
                # local top-k with the FINAL comparator (cos desc, id asc)
                keep = np.lexsort((qi, -cos))[:k]
                out_q.append(np.full(len(keep), qids[j], dtype=np.int64))
                out_id.append(qi[keep])
                out_cos.append(cos[keep])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_id),
                    "cosine": np.concatenate(out_cos),
                }
            )

    cand = corpus.select(id_col, *labels, vec_col).mapInPandas(
        score_partition, schema="qid long, vec_id long, cosine double"
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "vec_id", "rank", "cosine")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine ranking within it. Recall/latency trades
    on n_planes (buckets = 2^n_planes). Buckets come from the
    vectorized UDF (bit-identical to the expression form)."""
    bucket_fn = hyperplane_bucket_udf(n_planes)
    q = (
        queries.select(F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn("bucket", bucket_fn(F.col("qv")))
        .withColumn("qnorm_s", _sdot(F.col("qv"), F.col("qv")))
    )
    c = (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
        .withColumn("bucket", bucket_fn(F.col("cv")))
        .withColumn("cnorm_s", _sdot(F.col("cv"), F.col("cv")))
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "qid",
        "vec_id",
        cosine_from_scaled(
            _sdot(F.col("qv"), F.col("cv")), F.col("qnorm_s"), F.col("cnorm_s")
        ).alias("cosine"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "vec_id", "rank", "cosine")
    )


def _bucket_scored_pairs(
    corpus: DataFrame,
    n_planes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Within-LSH-bucket scored pairs (src_id, nbr_id, cosine), self
    excluded — the shared candidate stage of :func:`knn_graph` (top-k
    per source) and :func:`range_search` (threshold cut)."""
    bucket_fn = hyperplane_bucket_udf(n_planes)
    base = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", bucket_fn(F.col("v")))
    a = base.select(
        F.col("id").alias("src_id"),
        F.col("v").alias("src_v"),
        "bucket",
    ).withColumn("src_norm_s", _sdot(F.col("src_v"), F.col("src_v")))
    b = base.select(
        F.col("id").alias("nbr_id"),
        F.col("v").alias("nbr_v"),
        "bucket",
    ).withColumn("nbr_norm_s", _sdot(F.col("nbr_v"), F.col("nbr_v")))
    return (
        a.join(b, "bucket")
        .filter(F.col("src_id") != F.col("nbr_id"))
        .select(
            "src_id",
            "nbr_id",
            cosine_from_scaled(
                _sdot(F.col("src_v"), F.col("nbr_v")),
                F.col("src_norm_s"),
                F.col("nbr_norm_s"),
            ).alias("cosine"),
        )
    )


def range_search(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range similarity search: ALL in-bucket neighbor pairs with
    cosine ≥ ``threshold`` (directed; self excluded) — the
    radius-query complement of :func:`knn_graph`'s top-k. Same bucket
    self-join cost model; output size is controlled by the threshold
    instead of k, which is the right contract when callers need "every
    near-duplicate candidate", not "the best k"."""
    return _bucket_scored_pairs(corpus, n_planes, id_col, vec_col).filter(
        F.col("cosine") >= threshold
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: every corpus vector finds
    its top-k cosine neighbors within its own LSH bucket (self-join,
    self excluded). This is the all-vectors analogue of ``lsh_topk``'s
    query-set search — the building block for graph-based dedup,
    semantic clustering, and kNN-graph indexes (HNSW-style construction
    starts from exactly this edge list).

    Scale shape: the corpus is bucketed once (per-row, no shuffle),
    then self-joined ON the bucket key — a plain shuffle hash join
    whose per-task pair work is bounded by bucket size, which
    ``n_planes`` controls (2^n_planes buckets; at 100 TB push planes up
    and/or bucket the stored table by this key so the join is
    co-located). No broadcast: both sides are the corpus. Vectors with
    no bucket-mate simply emit no edges (honest LSH semantics — recall
    is the n_planes trade, measured by ``ann_recall_eval``'s method).
    """
    scored = _bucket_scored_pairs(corpus, n_planes, id_col, vec_col)
    w = W.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "nbr_id", "rank", "cosine")
    )


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1024,
) -> DataFrame:
    """Exact integer Gram (second-moment) matrix of a vector column:
    G[i][j] = Σ_rows x_i·x_j with x = floor(v·scale) int64, plus one
    sentinel row (i=-1, j=-1, g=row count) so a single corpus pass
    yields both the matrix and N. Output (i int, j int, g long),
    dim² + 1 rows.

    Scale shape: each Arrow batch computes its partial Gram with one
    vectorized int64 GEMM (``X.T @ X`` — the classic map-side
    formulation of distributed covariance/PCA, e.g. Spark MLlib's
    RowMatrix.computeGramianMatrix, re-expressed over mapInPandas) and
    emits dim²+1 partial rows; the shuffle therefore carries
    dim²·batches rows — bounded by layout, never by corpus size — and
    the final groupBy sum is map-side combinable. ``scale`` a power of
    two makes float→scaled-int EXACT (v·2^k has no mantissa rounding),
    so Spark and any replaying engine agree bit-for-bit.

    int64 safety: |x| ≤ scale (unit-ish vectors), so per-batch entries
    are ≤ scale²·batch_rows ≤ 2^20·10^4 ≈ 2^34 and the global sum at
    10^9 rows ≤ 2^50 — inside int64 at any realistic corpus size.
    """

    def gram_partition(pdfs):
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].values).astype(np.float64)
            x = np.floor(mat * scale).astype(np.int64)
            g = x.T @ x  # exact: int64 GEMM
            out = pd.DataFrame(
                {
                    "i": ii.ravel().astype(np.int32),
                    "j": jj.ravel().astype(np.int32),
                    "g": g.ravel(),
                }
            )
            out.loc[len(out)] = [-1, -1, len(pdf)]
            yield out

    parts = df.select(vec_col).mapInPandas(
        gram_partition, schema="i int, j int, g long"
    )
    return parts.groupBy("i", "j").agg(F.sum("g").alias("g"))


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Spark's ``div`` and
    DuckDB's ``//`` semantics (Python's ``//`` floors, which differs on
    negative numerators)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def power_iteration_top(
    gram_rows: list,
    dim: int = 64,
    iters: int = 8,
    vscale: int = 1 << 20,
    gnorm: int = 1024,
    with_eigval: bool = False,
):
    """Top principal direction of a Gram matrix by INTEGER power
    iteration — deterministic and exactly replayable by any engine
    with 64-bit truncating division (the oracle unrolls the identical
    recurrence as chained SQL CTEs; no float eigensolver's
    platform-dependent convergence is involved).

    ``gram_rows`` is the collected output of :func:`gram_matrix`
    (dim²+1 rows — bounded by dimension, never by corpus size, so the
    driver collect is safe at any scale). The matrix is first
    normalized Gn = G div ((N div gnorm)+1), capping entries near
    gnorm·E[x_i·x_j] INDEPENDENT of row count — that is what keeps
    w = Gn·v inside int64 at 10^9+ rows. Each step: w = Gn·v;
    v' = w div ((max|w| div vscale)+1), so ‖v‖∞ stays ≈ vscale. The
    Gram matrix is PSD → the dominant eigenvalue is nonnegative → no
    sign oscillation; convergence rate is irrelevant to correctness
    (any fixed iterate is a deterministic, checkable result).
    """
    n = 0
    gm = [[0] * dim for _ in range(dim)]
    for r in gram_rows:
        if r["i"] < 0:
            n = int(r["g"])
        else:
            gm[r["i"]][r["j"]] = int(r["g"])
    gdiv = (n // gnorm) + 1
    gn = [[_tdiv(g, gdiv) for g in row] for row in gm]
    v = [vscale] * dim
    for _ in range(iters):
        w = [sum(gn[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        d = (max(abs(x) for x in w) // vscale) + 1
        v = [_tdiv(x, d) for x in w]
    if not with_eigval:
        return v
    # Dominant-eigenvalue estimate via the ∞-norm ratio of one more
    # matrix application: λ ≈ max|Gn·v| / max|v|, scaled ×1000. Stays
    # inside int64 (max|Gn·v| ≤ 2^54; the ratio divisor ≥ 1) where the
    # textbook Rayleigh quotient v·Gn·v would overflow at 2^74.
    w = [sum(gn[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    lam_s = max(abs(x) for x in w) // ((max(abs(x) for x in v) // 1000) + 1)
    return v, lam_s
