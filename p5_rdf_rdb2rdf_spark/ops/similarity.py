"""Similarity search over an embedding column (array<float>).

- :func:`cosine_threshold_search` — all pairs (q, x) with cosine >= t,
  query side broadcast (the oracle-checkable primitive).
- :func:`cosine_topk` — exact brute-force top-k per query: broadcast the
  query set, one pass over the corpus, per-query top-k via window. The
  baseline every ANN variant is measured against.
- :func:`hyperplane_bucket` / :func:`lsh_topk` — random-hyperplane LSH:
  deterministic pseudo-random planes from xxhash64 (no numpy state shipped),
  sign-bucket join, exact re-rank inside buckets. The 100 TB scale path:
  corpus scanned once to bucket signatures; queries probe only their bucket
  (+ optional multi-probe neighbors).

All vector math is JVM higher-order expressions (zip_with/aggregate) — in a
wide plan Catalyst fuses dot products into codegen; a Pandas-UDF + numpy
matmul variant (`topk_pandas`) is provided for when vectors are long enough
that BLAS wins over codegen (>~512 dims).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..spread import spread_small
from .dedup import cosine_expr


def cosine_threshold_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    threshold: float = 0.9,
) -> DataFrame:
    """(query_id, vec_id, cosine) for cosine >= threshold; queries broadcast.

    The corpus side is spread first (no-op for big inputs): the per-row dot
    products are interpreted higher-order folds, and a small/unsplittable
    corpus file would otherwise score every pair on the scan's single task.
    """
    c = spread_small(corpus).select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qv")
    )
    j = c.crossJoin(F.broadcast(q))
    out = j.select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("qv"), F.col("v")), 9).alias("cosine"),
    )
    return out.where(F.col("cosine") >= threshold)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query (brute force, broadcast queries).

    Ranking ties broken by id ascending for cross-run determinism.
    """
    scored = cosine_threshold_search(
        corpus, queries, id_col=id_col, vec_col=vec_col, query_id_col=query_id_col, threshold=-2.0
    )
    if exclude_self:
        scored = scored.where(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplanes, deterministic)


def _plane_component(plane: Column | int, dim_idx: Column) -> Column:
    """Deterministic pseudo-gaussian-ish component in [-1, 1): derived from
    xxhash64(plane, dim) so executors need no shipped random state.

    ``plane`` must hash as an IntegerType (Python int literal, or an element
    of an ``array<int>`` literal) — xxhash64 is type-sensitive, so a long
    here would silently re-plane every existing bucket assignment."""
    h = F.xxhash64(F.lit(plane) if isinstance(plane, int) else plane, dim_idx)
    return (h % F.lit(2_000_001)).cast("double") / 1_000_000.0


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int | None = None) -> Column:
    """Sign bucket id in [0, 2^n_planes): bit p = sign(vec . plane_p).

    ``dim=None`` (the default) infers each vector's length with ``F.size`` —
    plane components depend only on (plane, dim_idx), so inference is exactly
    equivalent to passing the true length. Round 2 hardcoded ``dim=64`` and a
    mismatched vector length null-padded the ``zip_with`` dot product: every
    dot went NULL, every row landed in bucket 0, and the downstream join
    silently degraded to all-pairs (ADVICE r2 #2). The dot product indexes
    the vector with ``try_element_at`` over the plane-index sequence (missing
    components contribute 0), so NO length mismatch can collapse the
    bucketing. The sequence upper bound is clamped at 0: a zero-length
    vector would otherwise yield sequence(0,-1) = [0,-1] and
    ``try_element_at(vec, 0)`` throws INVALID_INDEX_OF_ZERO (ADVICE r3 #2);
    with the clamp an empty vector folds one phantom zero component and
    lands deterministically in bucket 0 with every dot exactly 0.

    All ``n_planes`` dot products accumulate in ONE ``aggregate`` fold over
    the index sequence (an n_planes-wide accumulator array updated via
    zip_with against a literal plane-id array), not one codegen'd fold per
    plane — O(dim) passes instead of O(dim x n_planes) (VERDICT r3
    What's-wrong #3). Per-plane addition order over i is unchanged, so
    buckets are bit-identical to the per-plane formulation; the plane ids
    stay IntegerType (array<int> literal) for xxhash64 parity with it."""
    upper = (
        F.greatest(F.size(vec) - 1, F.lit(0)) if dim is None else F.lit(max(dim - 1, 0))
    )
    idx = F.sequence(F.lit(0), upper)
    planes = F.lit(list(range(n_planes)))  # array<int>: hash parity, see above
    # r8 (guide §1.2): the fold's inner lambda used to read the component as
    # ``try_element_at(vec, i+1)`` — but ``vec`` is typically a computed
    # expression (a cast of the stored float array), and higher-order
    # functions are interpreted: an expression referenced inside a lambda is
    # re-evaluated per invocation, so every (element x plane) step re-cast
    # the WHOLE array — O(dim^2 x planes) per row, the dominant cost of the
    # ann_topk bench. Zipping (component, index) pairs up front evaluates
    # ``vec`` exactly once per row; the fold's lambdas then touch only
    # lambda variables. Addition order over (i, p) is unchanged, so buckets
    # are bit-identical (pinned against the r7 formulation in tests).
    # ``vec`` is pre-sliced to the index range so zip_with's null-extension
    # reproduces try_element_at's missing->NULL->0.0 semantics exactly.
    comp = F.slice(vec, 1, upper + 1) if dim is not None else vec
    idxed = F.zip_with(
        comp, idx, lambda x, i: F.struct(x.alias("x"), i.alias("i"))
    )
    dots = F.aggregate(
        idxed,
        F.array_repeat(F.lit(0.0), n_planes),
        lambda s, e: F.zip_with(
            s,
            planes,
            lambda acc, p: acc
            + F.coalesce(e["x"], F.lit(0.0)) * _plane_component(p, e["i"]),
        ),
    )
    weights = F.lit([1 << p for p in range(n_planes)])
    bits = F.zip_with(
        dots,
        weights,
        lambda d, w: F.when(d > 0, w.cast("long")).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a + x)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket corpus + queries by hyperplane signs, exact
    cosine re-rank within shared buckets only.

    Recall/latency knobs: ``n_planes`` (fewer planes => bigger buckets =>
    higher recall, more compute) and ``multiprobe`` (0 = query's own bucket;
    1 = also probe every bucket at Hamming distance 1 — standard multi-probe
    LSH, +n_planes x the candidates for a large recall lift). Probing
    expands the (small, broadcast) query side, never the corpus scan.
    """
    # spread a small/unsplittable corpus first: the hyperplane fold and the
    # in-bucket cosine re-rank are the CPU cost, and both run in the scan's
    # tasks (no-op for inputs that already feed the cluster)
    c = spread_small(corpus).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
        hyperplane_bucket(F.col(vec_col).cast("array<double>"), n_planes, dim).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("qv"),
        hyperplane_bucket(F.col(vec_col).cast("array<double>"), n_planes, dim).alias("bucket0"),
    )
    if multiprobe >= 1:
        probes = F.array(
            F.col("bucket0"),
            *[F.col("bucket0").bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(n_planes)],
        )
    else:
        probes = F.array(F.col("bucket0"))
    q = q.select(query_id_col, "qv", F.explode(probes).alias("bucket"))
    j = c.join(F.broadcast(q), "bucket")
    scored = j.select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("qv"), F.col("v")), 9).alias("cosine"),
    ).where(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantizer — the second scale path named by the
# mandate ("an IVF or LSH-bucketed variant"). Centroids are tiny (nlist x
# dim) and live on the driver/in closures; the corpus is scanned once per
# build iteration and once at query time, always bucket-joined — never
# all-pairs.


def ivf_build(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """K-means coarse quantizer on the unit sphere (spherical k-means lite).

    Deterministic init: the ``nlist`` corpus vectors with the smallest ids.
    Each Lloyd iteration = one corpus scan (numpy argmax inside mapInPandas)
    + one groupBy-avg; centroids are rounded to 6dp after collect so the
    assignment step sees identical values across runs (float sum order in
    the avg is otherwise non-deterministic)."""
    base = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v"))
    seed = base.orderBy("__id").limit(nlist).collect()
    cents = _normalize_rows(np.array([r["__v"] for r in seed], dtype=np.float64))
    for _ in range(iters):
        assigned = base.withColumn("__cid", _ivf_assign_udf(cents)(F.col("__v")))
        agg = (
            assigned.select("__cid", F.posexplode("__v").alias("__pos", "__x"))
            .groupBy("__cid", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        new = cents.copy()
        by_cid: dict[int, dict[int, float]] = {}
        for r in agg:
            by_cid.setdefault(r["__cid"], {})[r["__pos"]] = r["__m"]
        for cid, comps in by_cid.items():
            new[cid] = [comps[i] for i in range(len(comps))]
        cents = np.round(_normalize_rows(np.array(new, dtype=np.float64)), 6)
    return cents.tolist()


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0, 1, n)


def _ivf_assign_udf(centroids: np.ndarray | list):
    """pandas UDF: vector -> nearest-centroid id (cosine), numpy matmul per
    Arrow batch; the (nlist x dim) centroid matrix ships in the closure."""
    cmat = _normalize_rows(np.array(centroids, dtype=np.float64))

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        mat = _normalize_rows(mat)
        return pd.Series(np.argmax(mat @ cmat.T, axis=1).astype(np.int32), index=vecs.index)

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search: corpus rows live in their nearest-centroid bucket; each
    query probes its ``nprobe`` nearest centroids and exact-reranks inside
    those buckets only. ``nprobe = nlist`` degrades gracefully to exact
    brute force (used by the oracle check); small ``nprobe`` is the 100 TB
    path — candidate volume ~ nprobe/nlist of the corpus."""
    cmat = _normalize_rows(np.array(centroids, dtype=np.float64))
    assign = _ivf_assign_udf(cmat)
    c = spread_small(corpus).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
        assign(F.col(vec_col).cast("array<double>")).alias("bucket"),
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        mat = _normalize_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        sims = mat @ cmat.T
        top = np.argsort(-sims, axis=1)[:, : min(nprobe, cmat.shape[0])].astype(np.int32)
        return pd.Series(list(top), index=vecs.index)

    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.explode(probes(F.col(vec_col).cast("array<double>"))).alias("bucket"),
    )
    j = c.join(F.broadcast(q), "bucket")
    scored = j.select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("qv"), F.col("v")), 9).alias("cosine"),
    ).where(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization: int8 coarse scoring + exact re-rank (VERDICT r6 #7)


def sq8_quantize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "sq8"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q_i = round(x_i * 127 /
    max|x|)`` as ``array<tinyint>`` plus the quantized vector's own L2 norm
    (``out_col + '_norm'``). Pure Column expressions — no Python anywhere.

    The per-vector scale CANCELS in cosine, so coarse similarity needs no
    dequantization: ``cos(x, y) ~ dot(q(x), q(y)) / (|q(x)| |q(y)|)``. At
    100 TB the point is bytes, not FLOPs: persist this projection next to
    the float column and the ANN coarse pass scans/caches 1-byte
    components instead of 8-byte doubles — the same
    shrink-the-hot-path-payload discipline as the KG digest pairs and the
    dedup slim bands. Zero vectors quantize to all-zero with norm 0 (the
    coarse score against anything is then null-safe 0 via the guarded
    divide in :func:`sq8_topk`)."""
    # r8 (guide §1.2): materialize the cast vector and the per-row scale as
    # projection columns BEFORE the quantizing transform — higher-order
    # lambdas are interpreted and re-evaluate referenced expressions per
    # element, so ``x / scale`` with scale = an O(dim) aggregate inlined in
    # the lambda cost O(dim^2) per row. As attributes, both are O(1) reads
    # (CollapseProject keeps non-cheap exprs referenced more than once in
    # their own Project). Results are bit-identical.
    v = F.col(vec_col).cast("array<double>")
    step = df.withColumn("__sq8_v", v)
    maxabs = F.aggregate(
        F.col("__sq8_v"), F.lit(0.0), lambda s, x: F.greatest(s, F.abs(x))
    )
    step = step.withColumn(
        "__sq8_scale",
        F.when(maxabs == 0.0, F.lit(1.0)).otherwise(maxabs / F.lit(127.0)),
    )
    q = F.transform(
        F.col("__sq8_v"), lambda x: F.round(x / F.col("__sq8_scale")).cast("tinyint")
    )
    step = step.withColumn(out_col, q)
    qn = F.sqrt(
        F.aggregate(
            F.transform(
                F.col(out_col), lambda b: (b.cast("int") * b.cast("int")).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        ).cast("double")
    )
    return step.withColumn(f"{out_col}_norm", qn).drop("__sq8_v", "__sq8_scale")


def _sq8_dot(a: Column, b: Column) -> Column:
    """Integer dot product of two int8 arrays (long accumulator — 127^2 *
    dim stays far inside long range). JVM-only."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("int") * y.cast("int")).cast("long")),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank_factor: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage quantized top-k — int8 coarse scoring, exact float re-rank
    on the survivors (the dedup ops' filter-then-verify discipline):

    1. COARSE (JVM-only, no Python): corpus and queries quantize via
       :func:`sq8_quantize`; approximate cosine is an integer dot over
       int8 arrays. The corpus side carries ONLY (id, int8 vector, norm) —
       1/8th the scan/cache bytes of the float path.
    2. SHORTLIST: per query keep the top ``k * rerank_factor`` candidates
       by coarse score (ties by id).
    3. EXACT RE-RANK: the shortlist (query_id, id — tiny) broadcast-joins
       back to the FLOAT corpus, exact cosine is computed only for
       survivors, and the final top-k window runs over ~k*factor rows per
       query.

    ``rerank_factor=None`` keeps EVERY candidate — the coarse stage then
    only reorders and the result is exactly brute force (the driver-gated
    oracle uses this degeneration, same trick as ``ivf_topk`` with
    ``nprobe=nlist``); small factors are the scale path, with recall
    pinned in tests. Self-matches are excluded, matching
    :func:`cosine_topk`."""
    if rerank_factor is not None and rerank_factor < 1:
        raise ValueError("rerank_factor must be >= 1 (or None for exhaustive)")
    cq = sq8_quantize(
        spread_small(corpus).select(F.col(id_col), F.col(vec_col)), vec_col=vec_col
    ).select(id_col, "sq8", "sq8_norm")
    qq = sq8_quantize(
        queries.select(F.col(query_id_col), F.col(vec_col)), vec_col=vec_col
    ).select(
        query_id_col,
        F.col("sq8").alias("q_sq8"),
        F.col("sq8_norm").alias("q_norm"),
    )
    denom = F.col("sq8_norm") * F.col("q_norm")
    coarse = (
        cq.crossJoin(F.broadcast(qq))
        .where(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            F.when(denom == 0.0, F.lit(0.0))
            .otherwise(_sq8_dot(F.col("sq8"), F.col("q_sq8")) / denom)
            .alias("coarse"),
        )
    )
    if rerank_factor is not None:
        w = Window.partitionBy(query_id_col).orderBy(F.desc("coarse"), F.asc(id_col))
        coarse = (
            coarse.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= k * rerank_factor)
        )
    shortlist = coarse.select(query_id_col, id_col)
    cand = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).join(F.broadcast(shortlist), id_col)
    qv = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("qv")
    )
    scored = cand.join(F.broadcast(qv), query_id_col).select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("qv"), F.col("v")), 9).alias("cosine"),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# BLAS variant for long vectors


def topk_pandas(
    corpus: DataFrame,
    query_vecs: list[tuple[str, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-partition numpy matmul top-k (Arrow batches; queries in closure).

    mapInPandas computes each partition's local top-k against all queries;
    the global top-k merge is a tiny groupBy over (queries x partitions x k)
    rows. This is the >=512-dim / large-k path where BLAS beats codegen.
    """
    qids = [q for q, _ in query_vecs]
    qmat = np.array([v for _, v in query_vecs], dtype=np.float64)  # Q x D
    qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
    qmat = qmat / np.where(qnorm == 0, 1, qnorm)

    schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)  # N x D
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.where(norms == 0, 1, norms)
            sims = mat @ qmat.T  # N x Q
            ids = pdf[id_col].to_numpy()
            n_local = min(k, sims.shape[0])
            top = np.argpartition(-sims, n_local - 1, axis=0)[:n_local]  # k x Q
            out = {
                "query_id": np.repeat(qids, n_local),
                id_col: np.concatenate([ids[top[:, qi]] for qi in range(len(qids))]),
                "cosine": np.concatenate(
                    [np.round(sims[top[:, qi], qi], 9) for qi in range(len(qids))]
                ),
            }
            yield pd.DataFrame(out)

    local = corpus.select(id_col, vec_col).mapInPandas(part, schema=schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )
