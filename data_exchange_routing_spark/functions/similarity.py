"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k. The query side is broadcast, so the
  physical plan is a map-side nested loop over the big side — no shuffle of
  the corpus; scales linearly with corpus size x queries.
- lsh_ann_topk: random-hyperplane LSH bucketing (sign bits), candidates
  restricted to same-bucket (multi-probe: exact bucket only here), then exact
  cosine within bucket — the sub-linear scale path. Hyperplanes are
  deterministic (md5-derived), so results are reproducible everywhere.

Arithmetic contract for the DuckDB oracle: embeddings cast to double BEFORE
any product, sums run in list order — both engines then produce identical
doubles; results additionally rounded to 6 decimals.
"""

from __future__ import annotations

import hashlib
import itertools

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dvec(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def vec_norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a, b):
    return dot(a, b) / (vec_norm(a) * vec_norm(b))


def cosine_prenorm(a, b, na, nb):
    """Cosine with HOISTED norms: the join-side norm is computed once per ROW
    and carried as a column, so each candidate pair evaluates one dot product
    instead of dot + two norms (3x less lambda work on quadratic/candidate
    joins; float-identical to cosine() — same expressions, just factored)."""
    return dot(a, b) / (na * nb)


def brute_force_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query id (self-match excluded)."""
    base = df.select(F.col(id_col).alias("nn_id"), _dvec(F.col(vec_col)).alias("nn_vec"))
    base = base.withColumn("nn_norm", vec_norm(F.col("nn_vec")))
    queries = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("q_vec"))
        .withColumn("q_norm", vec_norm(F.col("q_vec")))
    )
    scored = base.join(F.broadcast(queries), F.col("nn_id") != F.col("query_id")).withColumn(
        "sim",
        F.round(cosine_prenorm(F.col("q_vec"), F.col("nn_vec"), F.col("q_norm"), F.col("nn_norm")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "nn_id", "sim", F.col("rk").cast("int").alias("rk"))
    )


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1] from md5 — no RNG
    state, reproducible across engines and runs."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-bit bucket string for a vector column."""
    bits = []
    for row in planes:
        plane = F.array(*[F.lit(x) for x in row])
        dot = F.aggregate(F.zip_with(vec_col, plane, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def ivf_train_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 10,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer trained on a deterministic
    hash-ordered sample (FAISS-style IVF training): one distributed
    TakeOrdered pass pulls <= sample_size vectors to the driver — centroids
    are control-plane-tiny even at 10^9 vectors — then Lloyd iterations with
    cosine assignment refine a hash-order init. Fully deterministic (no RNG
    state): xxhash64 ordering fixes both the sample and the init."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("i"), _dvec(F.col(vec_col)).alias("v"))
        .withColumn("h", F.xxhash64(F.col("i")))
        .orderBy("h", "i")
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    if len(X) <= n_centroids:
        return [[float(x) for x in row] for row in X]
    C = X[:n_centroids].copy()
    for _ in range(n_iter):
        sim = X @ C.T
        assign = sim.argmax(axis=1)
        new_c = np.empty_like(C)
        # hand empty cells DISTINCT worst-served vectors (ascending best-sim
        # order) — one shared re-seed would leave duplicate centroids wasting
        # list capacity; mirrors the PQ trainer's fix (round-3 punch list).
        # Distinct by VALUE, not just index: duplicate input vectors can
        # occupy adjacent argsort slots, so value-equal candidates are
        # skipped (falling back to index order only if all remaining
        # candidates are duplicates).
        worst_order = np.argsort(sim.max(axis=1))
        worst = iter(worst_order)
        # once distinct-by-value candidates are exhausted, CYCLE the
        # worst-served order so every later empty cell still gets a
        # different row (not a shared X[0] collapse — ADVICE r03)
        fallback_cycle = itertools.cycle(worst_order)
        used_seeds: list = []

        def _next_seed():
            for idx in worst:
                if not any(np.array_equal(X[idx], u) for u in used_seeds):
                    used_seeds.append(X[idx])
                    return X[idx]
            return X[next(fallback_cycle)]

        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                new_c[j] = m / norm if norm > 1e-12 else C[j]
            else:
                new_c[j] = _next_seed()
        if np.allclose(new_c, C, atol=1e-9):
            C = new_c
            break
        C = new_c
    return [[float(x) for x in row] for row in C]


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """Full-corpus distributed spherical k-means (Lloyd): unlike
    ``ivf_train_centroids`` (driver-side SAMPLE refinement), every iteration
    here assigns and partially-sums over the ENTIRE corpus — the shape that
    holds at 10^9 vectors.

    Per round: assignment is a pure map-side projection (centroids folded in
    as literals, argmax cosine, ties to the smaller centroid id); the
    centroid update is ONE map-side-combinable agg over the exploded (dim,
    value) pairs — shuffle width k x d rows (centroid count x dimensionality,
    independent of corpus size) — and the k x d result is collected to the
    driver to build the next round's literals. No lineage growth: each round
    recomputes from the base scan with fresh literals, so no checkpointing
    is needed (contrast connected_components, whose state is a DataFrame).

    Deterministic init: the k vectors with the smallest (xxhash64(id), id).
    Empty clusters keep their previous centroid. Returns (centroids,
    assignment DataFrame (id_col, cluster)).
    """
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("i"), _dvec(F.col(vec_col)).alias("v"))
        .withColumn("h", F.xxhash64(F.col("i")))
        .orderBy("h", "i")
        .limit(k)
        .collect()
    )
    C = np.array([r["v"] for r in rows], dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    base = df.select(F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vec"))
    base = base.withColumn("vnorm", vec_norm(F.col("vec")))

    def _assign(cents):
        import math

        sims = F.array(
            *[
                F.struct(
                    (
                        dot(F.col("vec"), F.array(*[F.lit(x) for x in c]))
                        / (F.col("vnorm") * F.lit(math.sqrt(sum(x * x for x in c)) or 1.0))
                    ).alias("c_sim"),
                    F.lit(-j).alias("neg_id"),  # ties -> smaller centroid id
                )
                for j, c in enumerate(cents)
            ]
        )
        best = F.element_at(F.array_sort(sims), -1)
        return base.withColumn("cluster", (-best["neg_id"]).cast("int"))

    for _ in range(n_iter):
        assigned = _assign([list(c) for c in C])
        sums = (
            assigned.select("cluster", F.posexplode("vec").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        newC = C.copy()
        acc: dict[int, np.ndarray] = {}
        for r in sums:
            acc.setdefault(r["cluster"], np.zeros(C.shape[1]))[r["d"]] = r["s"]
        for j, vec in acc.items():
            norm = np.linalg.norm(vec)
            if norm > 1e-12:
                newC[j] = vec / norm
        C = newC
    final = _assign([list(c) for c in C]).select(
        F.col("vid").alias(id_col), "cluster"
    )
    return [[float(x) for x in row] for row in C], final


def ivf_assign(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """(vid, vec, centroid_id, probe_rank) for each vector's n_probe nearest
    centroids. The centroid set is folded into the expression tree as
    literals, so assignment is a pure map-side projection — zero shuffles,
    zero joins, no window — regardless of corpus size."""
    import math

    if centroids is None:
        centroids = ivf_train_centroids(df, n_centroids, id_col, vec_col)
    v = df.select(F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vec"))
    v = v.withColumn("vnorm", vec_norm(F.col("vec")))
    # centroid norms are Python-side constants — the row evaluates ONE vector
    # norm plus n_centroids dot products, not n_centroids full cosines
    sims = F.array(
        *[
            F.struct(
                (
                    dot(F.col("vec"), F.array(*[F.lit(x) for x in c]))
                    / (F.col("vnorm") * F.lit(math.sqrt(sum(x * x for x in c)) or 1.0))
                ).alias("c_sim"),
                F.lit(j).alias("centroid_id"),
            )
            for j, c in enumerate(centroids)
        ]
    )
    # array_sort on (c_sim, centroid_id) asc, reversed => desc sim; ties break
    # toward the larger centroid id, deterministically.
    probes = F.slice(F.reverse(F.array_sort(sims)), 1, n_probe)
    return v.select(
        "vid", "vec", "vnorm", F.posexplode(probes).alias("pr", "probe")
    ).select(
        "vid",
        "vec",
        "vnorm",
        F.col("probe.centroid_id").alias("centroid_id"),
        (F.col("pr") + 1).cast("int").alias("probe_rank"),
    )


def ivf_ann_topk(
    df: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: every vector is indexed under its single nearest centroid;
    each query probes its ``n_probe`` nearest inverted lists and scores exact
    cosine against only those candidates. At 10^9 vectors the candidate join
    touches ~n_probe*N/n_centroids rows per query instead of N; recall tunes
    via n_probe (and n_centroids), gated >= 0.9 vs brute force in tests."""
    centroids = ivf_train_centroids(df, n_centroids, id_col, vec_col)
    index = ivf_assign(df, id_col=id_col, vec_col=vec_col, centroids=centroids, n_probe=1)
    queries = ivf_assign(df, id_col=id_col, vec_col=vec_col, centroids=centroids, n_probe=n_probe)
    # each index vector lives in exactly one list, so a (query, neighbor)
    # pair appears at most once across the probed lists — no dedup needed
    cand = queries.alias("a").join(
        index.alias("b"),
        (F.col("a.centroid_id") == F.col("b.centroid_id")) & (F.col("a.vid") != F.col("b.vid")),
    ).select(
        F.col("a.vid").alias("query_id"),
        F.col("b.vid").alias("nn_id"),
        F.round(
            cosine_prenorm(F.col("a.vec"), F.col("b.vec"), F.col("a.vnorm"), F.col("b.vnorm")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k).drop("rk")


def lsh_ann_topk(
    df: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k per vector among same-bucket candidates. At 10^9
    vectors the bucket join replaces the full cross product; recall is tuned
    by n_planes (fewer planes -> bigger buckets -> higher recall & cost)."""
    planes = _hyperplanes(dim, n_planes)
    v = (
        df.select(F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vec"))
        .withColumn("bucket", lsh_bucket(F.col("vec"), planes))
        .withColumn("vnorm", vec_norm(F.col("vec")))
    )
    a, b = v.alias("a"), v.alias("b")
    cand = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") != F.col("b.vid"))
    ).select(
        F.col("a.vid").alias("query_id"),
        F.col("b.vid").alias("nn_id"),
        F.round(
            cosine_prenorm(F.col("a.vec"), F.col("b.vec"), F.col("a.vnorm"), F.col("b.vnorm")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("nn_id"))
    return cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k).drop("rk")


def semantic_dedup(
    df: DataFrame,
    tau: float = 0.42,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv:2303.09540): cluster the embedding space, then inside each cluster
    drop every vector that has a semantically-near neighbor with a smaller id
    (cosine >= tau), keeping the smallest-id representative per near-dup
    group. Clustering here is the deterministic random-hyperplane bucketing
    (the paper uses k-means; any partitioner works — buckets only bound the
    candidate set), so the whole op has an exact cross-engine oracle.

    Scale shape: the only join is per-bucket (same sub-quadratic candidate
    join as lsh_ann_topk — at 10^9 vectors each row meets ~N/2^n_planes
    candidates, tuned by n_planes); the dup-id set is produced by a
    map-side-combinable distinct and applied with a single left_anti join on
    the id. No window, no driver-side state.

    Returns survivors as (id_col, bucket), one row per kept vector.
    """
    planes = _hyperplanes(dim, n_planes)
    v = (
        df.select(F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vec"))
        .withColumn("bucket", lsh_bucket(F.col("vec"), planes))
        .withColumn("vnorm", vec_norm(F.col("vec")))
    )
    a, b = v.alias("a"), v.alias("b")
    sim = F.round(
        cosine_prenorm(F.col("a.vec"), F.col("b.vec"), F.col("a.vnorm"), F.col("b.vnorm")), 6
    )
    dup_ids = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") > F.col("b.vid")))
        .filter(sim >= tau)
        .select(F.col("a.vid").alias("vid"))
        .distinct()
    )
    return (
        v.join(dup_ids, "vid", "left_anti")
        .select(F.col("vid").alias(id_col), "bucket")
    )


def hard_negatives(
    df: DataFrame,
    k: int = 2,
    dup_tau: float = 0.42,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Hard-negative mining for contrastive training (public practice, e.g.
    DPR/SimCSE): per anchor, the k most-similar same-bucket candidates that
    are NOT near-duplicates (sim < dup_tau) — hard to distinguish, safe to
    contrast. Same sub-quadratic LSH candidate join as lsh_ann_topk with the
    dup band excluded; deterministic ties on id."""
    planes = _hyperplanes(dim, n_planes)
    v = (
        df.select(F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vec"))
        .withColumn("bucket", lsh_bucket(F.col("vec"), planes))
        .withColumn("vnorm", vec_norm(F.col("vec")))
    )
    a, b = v.alias("a"), v.alias("b")
    cand = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") != F.col("b.vid"))
    ).select(
        F.col("a.vid").alias("anchor_id"),
        F.col("b.vid").alias("neg_id"),
        F.round(
            cosine_prenorm(F.col("a.vec"), F.col("b.vec"), F.col("a.vnorm"), F.col("b.vnorm")), 6
        ).alias("sim"),
    ).filter(F.col("sim") < dup_tau)
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), F.asc("neg_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("anchor_id", "neg_id", "sim", F.col("rk").cast("int").alias("rk"))
    )


# --------------------------------------------------------------------------
# Product quantization (PQ / IVF-ADC family, Jégou et al. 2011 — public
# algorithm). The vector splits into m subvectors; each subspace gets a
# 2^nbits-codeword codebook; a vector's code is m small ints (64 dims ->
# 8 bytes at m=8/nbits=4, a 32x memory cut vs float32). Search is ADC
# (asymmetric distance): the query stays full-precision, per-query lookup
# tables give each candidate's approximate distance as m table lookups —
# no vector arithmetic per candidate. Scale shape: encoding is a pure
# map-side projection (codebooks folded in as literals, zero shuffle);
# search broadcasts the queries' LUTs and pays one window per query for
# top-k, exactly like brute_force_topk but over codes instead of vectors.
# --------------------------------------------------------------------------


def pq_codebooks_md5(dim: int, m: int = 8, nbits: int = 4) -> list[list[list[float]]]:
    """Data-independent md5-derived codebooks in [-1,1]^(dim/m) —
    deterministic across engines (the oracle regenerates the same floats),
    the PQ analog of the LSH module's _hyperplanes. Use pq_train for
    data-adapted codebooks."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    return [
        [
            [
                (int(hashlib.md5(f"pq:{s}:{c}:{j}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
                / 1000.0
                for j in range(dsub)
            ]
            for c in range(1 << nbits)
        ]
        for s in range(m)
    ]


def pq_train(
    df: DataFrame,
    m: int = 8,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 10,
) -> list[list[list[float]]]:
    """Per-subspace L2 k-means codebooks trained on the deterministic
    hash-ordered sample (one TakeOrdered pass, driver-side Lloyd — codebooks
    are control-plane tiny: m * 2^nbits * dim/m floats at any corpus size).
    Deterministic: xxhash64 ordering fixes sample and init; empty cells
    re-seed with the worst-quantized sample subvector."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("i"), _dvec(F.col(vec_col)).alias("v"))
        .withColumn("h", F.xxhash64(F.col("i")))
        .orderBy("h", "i")
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub, ncw = dim // m, 1 << nbits
    books = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        if len(Xs) <= ncw:
            books.append([[float(x) for x in row] for row in Xs])
            continue
        C = Xs[:ncw].copy()
        for _ in range(n_iter):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            newC = C.copy()
            # hand empty cells DISTINCT worst-quantized points — distinct by
            # VALUE (duplicate sample rows can occupy adjacent argsort
            # slots); one shared re-seed would leave duplicate codewords
            # wasting capacity
            worst_order = np.argsort(-d2.min(axis=1))
            worst = iter(worst_order)
            # exhausted distinct candidates cycle the worst-quantized order
            # (not a shared Xs[0] collapse — ADVICE r03)
            fallback_cycle = itertools.cycle(worst_order)
            used_seeds: list = []

            def _next_seed():
                for idx in worst:
                    if not any(np.array_equal(Xs[idx], u) for u in used_seeds):
                        used_seeds.append(Xs[idx])
                        return Xs[idx]
                return Xs[next(fallback_cycle)]

            for c in range(ncw):
                members = Xs[assign == c]
                if len(members):
                    newC[c] = members.mean(axis=0)
                else:
                    newC[c] = _next_seed()
            if np.allclose(newC, C, atol=1e-12):
                C = newC
                break
            C = newC
        books.append([[float(x) for x in row] for row in C])
    return books


def _pq_sub_dist(vec, off: int, codeword: list[float]):
    """Sequential left-assoc sum of (v[off+j] - w_j)^2 — the SAME IEEE op
    order an unrolled SQL `(e-w)*(e-w) + ...` chain evaluates, so encode
    argmins are bit-identical across engines."""
    import functools
    import operator

    terms = [
        (F.element_at(vec, off + j + 1) - F.lit(w)) * (F.element_at(vec, off + j + 1) - F.lit(w))
        for j, w in enumerate(codeword)
    ]
    return functools.reduce(operator.add, terms)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """(vid, vec, vnorm, code array<int>): nearest codeword per subspace,
    ties to the smaller codeword id. Zero shuffles at any scale either way:

    - ``expr``: codebooks fold into the expression tree as literals — pure
      JVM projection, bit-reproducible against the unrolled-SQL oracle.
      Codegen cost grows with m * 2^nbits, so it fits SMALL codebooks.
    - ``numpy``: Arrow-batched pandas UDF, one vectorized argmin per
      subspace over the whole batch — the production path for real
      codebooks (nbits >= 6), ~codebook-size-independent codegen. Distances
      accumulate with an explicit left-assoc loop over the subspace axis
      (element-wise adds, never np.sum's 8-accumulator pairwise reduce),
      the SAME IEEE order as the expr path's left-assoc chain, and numpy
      argmin takes the first minimum — codes agree with the expr path
      bit-for-bit at ANY dsub.

    ``auto`` picks expr for m * 2^nbits <= 256, numpy beyond."""
    v = df.select(F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vec"))
    v = v.withColumn("vnorm", vec_norm(F.col("vec")))
    return v.withColumn("code", pq_code_column(codebooks, F.col("vec"), method))


def pq_code_column(codebooks: list[list[list[float]]], vec, method: str = "auto"):
    """The PQ code as a pure COLUMN function of a (double-array) vector
    column — a map-side projection usable anywhere (pq_encode, the IVF-PQ
    index build/add) with zero joins and zero shuffles. Both methods share
    the left-assoc IEEE accumulation contract (see pq_encode docstring)."""
    total = sum(len(b) for b in codebooks)
    if method == "auto":
        method = "expr" if total <= 256 else "numpy"
    dsub = len(codebooks[0][0])
    if method == "expr":
        code_cols = []
        for s, book in enumerate(codebooks):
            cands = F.array(
                *[
                    F.struct(
                        _pq_sub_dist(vec, s * dsub, cw).alias("d"),
                        F.lit(c).alias("c"),
                    )
                    for c, cw in enumerate(book)
                ]
            )
            code_cols.append(F.element_at(F.array_sort(cands), 1)["c"])
        return F.array(*code_cols)
    if method != "numpy":
        raise ValueError(f"unknown pq_encode method {method!r}")
    books = [[list(map(float, cw)) for cw in b] for b in codebooks]

    @F.pandas_udf("array<int>")
    def _enc(vecs: pd.Series) -> pd.Series:
        import numpy as np

        X = np.array(vecs.tolist(), dtype=np.float64)
        out = np.empty((len(X), len(books)), dtype=np.int32)
        for s, book in enumerate(books):
            C = np.asarray(book)
            Xs = X[:, s * dsub : (s + 1) * dsub]
            # explicit left-assoc accumulation over the subspace axis:
            # each step is element-wise, so every (row, codeword) cell sums
            # t0 + t1 + ... in the SAME IEEE order as the expr path's
            # unrolled chain — argmins agree bit-for-bit, ties and all.
            # (np .sum(axis=...) would NOT: numpy unrolls reductions over
            # 8 accumulators with a pairwise combine for n >= 8, so with
            # the default dsub=8 ~40% of sums differ in the last bit; and
            # the -2xc+||c||^2 shortcut would not either)
            diff = Xs[:, 0, None] - C[None, :, 0]
            d2 = diff * diff
            for j in range(1, dsub):
                diff = Xs[:, j, None] - C[None, :, j]
                d2 = d2 + diff * diff
            out[:, s] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return _enc(vec)


def _lassoc_sq_sum(a, cw) -> float:
    """Explicit left-assoc scalar accumulation of (a_j - cw_j)^2 — the same
    IEEE order as the oracle's unrolled SQL chain (np .sum() switches to an
    8-accumulator pairwise combine at n >= 8, which breaks the bit-identity
    the exact oracle gates rely on). Shared by every LUT builder."""
    d0 = a[0] - cw[0]
    acc = d0 * d0
    for j in range(1, len(cw)):
        dj = a[j] - cw[j]
        acc = acc + dj * dj
    return float(acc)


def pq_query_luts(qv, codebooks: list[list[list[float]]]) -> list[list[float]]:
    """Per-subspace ADC lookup tables for one query vector (numpy array)."""
    dsub = len(codebooks[0][0])
    return [
        [_lassoc_sq_sum(qv[s * dsub : (s + 1) * dsub], cw) for cw in book]
        for s, book in enumerate(codebooks)
    ]


def pq_adc_column(code_col, lut_col):
    """ADC distance as a column: m LUT lookups summed left-assoc — shared
    by pq_adc_topk and the persisted IVF-PQ search so the accumulation
    order can never diverge between them."""
    return F.aggregate(
        F.zip_with(code_col, lut_col, lambda c, l: F.element_at(l, c.cast("int") + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_adc_topk(

    df: DataFrame,
    query_ids: list[int],
    codebooks: list[list[list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    encode_method: str = "auto",
) -> DataFrame:
    """ADC top-k: candidates are scored by m LUT lookups against the
    PQ-coded corpus (approximate L2), queries stay full precision and are
    broadcast with their lookup tables. ``rerank=0`` returns the pure ADC
    ranking (query_id, nn_id, adc, rk) — the oracle-checkable machinery
    path. ``rerank=R`` takes the top-R ADC shortlist and re-scores it with
    EXACT cosine on the carried vectors (no second corpus join), returning
    (query_id, nn_id, sim, rk) — the production path whose recall is gated
    vs brute_force_topk in tests."""
    import numpy as np

    codes = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col, method=encode_method)
    qrows = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("i"), _dvec(F.col(vec_col)).alias("v"))
        .collect()
    )
    q_data = []
    for r in qrows:
        qv = np.array(r["v"], dtype=np.float64)
        q_data.append((int(r["i"]), [float(x) for x in qv], pq_query_luts(qv, codebooks)))
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        q_data, "query_id long, q_vec array<double>, lut array<array<double>>"
    ).withColumn("q_norm", vec_norm(F.col("q_vec")))
    cand = (
        codes.join(F.broadcast(qdf), F.col("vid") != F.col("query_id"))
        .withColumn("adc", F.round(pq_adc_column(F.col("code"), F.col("lut")), 6))
    )
    if rerank <= 0:
        w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vid"))
        return (
            cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", F.col("vid").alias("nn_id"), "adc", F.col("rk").cast("int").alias("rk"))
        )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vid"))
    short = cand.withColumn("srk", F.row_number().over(w)).filter(F.col("srk") <= rerank)
    short = short.withColumn(
        "sim",
        F.round(cosine_prenorm(F.col("q_vec"), F.col("vec"), F.col("q_norm"), F.col("vnorm")), 6),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vid"))
    return (
        short.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col("vid").alias("nn_id"), "sim", F.col("rk").cast("int").alias("rk"))
    )


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", min_norm: float = 1e-12
) -> DataFrame:
    """Replace ``vec_col`` with its unit-L2 version (map-side, no shuffle).
    For cosine search over PQ/IVF this is the standard front-door: on unit
    vectors L2 distance is 2 - 2*cos, so an L2-trained quantizer ranks by
    cosine. Cosine itself is norm-invariant, so exact rerank results are
    unchanged.

    The norm is HOISTED into a column before the per-element divide
    (higher-order-function lambdas re-evaluate embedded subtrees per
    element — inlining vec_norm there would make this O(dim^2) per row;
    same discipline as cosine_prenorm)."""
    v = _dvec(F.col(vec_col))
    tmp = "_l2n_norm"
    return (
        df.withColumn(tmp, F.greatest(vec_norm(v), F.lit(min_norm)))
        .withColumn(vec_col, F.transform(v, lambda x: x / F.col(tmp)))
        .drop(tmp)
    )


# ------------------------------------------------------- persisted IVF index
# Production ANN is not "retrain per query": the index is BUILT once,
# PERSISTED, grown INCREMENTALLY as new vectors arrive (assign-to-existing-
# centroids — the standard IVF add path; recall degrades only as the data
# distribution drifts, at which point you rebuild), and SEARCHED by reading
# only the probed inverted lists. Lists are parquet partition directories
# (centroid_id=K/), so a probe is a PARTITION-PRUNED scan: at 10^9 vectors a
# 2-of-64-list probe touches ~3% of the corpus bytes and the pruning shows
# up in the plan's PartitionFilters, not just in theory.


def _ivf_index_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "centroids.json")


def _ivfpq_index_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "meta.json")


def _atomic_json_dump(path: str, payload: dict) -> None:
    """Index-metadata persist — delegates to the repo's ONE durable
    overwrite ritual (lake.table._atomic_replace_json: fsync'd tmp +
    atomic replace + dir fsync), same as the change-feed cursors."""
    from data_exchange_routing_spark.lake.table import _atomic_replace_json

    _atomic_replace_json(path, payload)


def _index_meta(path: str, kind: str) -> dict:
    import json as _json

    p = _ivf_index_meta_path(path) if kind == "ivf" else _ivfpq_index_meta_path(path)
    with open(p) as f:
        return _json.load(f)


def _index_meta_write(path: str, kind: str, meta: dict) -> None:
    p = _ivf_index_meta_path(path) if kind == "ivf" else _ivfpq_index_meta_path(path)
    _atomic_json_dump(p, meta)


def _tombstone_dir(path: str, meta: dict | None = None) -> str:
    """Tombstone sidecar directory, GENERATION-SCOPED via the meta (r04
    advice): compaction flips ``tombstone_rel`` alongside ``corpus_rel`` so
    a search that resolved the old meta keeps BOTH the corpus and the
    tombstones it references alive until the NEXT compact's orphan sweep.
    Legacy indexes (meta without the field) keep the flat name."""
    import os

    rel = (meta or {}).get("tombstone_rel", "tombstones")
    return os.path.join(path, rel)


class IndexMaintainerBusy(RuntimeError):
    """A second concurrent maintainer (apply_changes / index_compact) on one
    index — the single-maintainer contract is now ENFORCED, not just
    documented: interleaved corpus appends and meta commits corrupt."""


class _maintainer_lease:
    """Exclusive-create lock file (the same primitive the lake commit uses)
    held for the duration of any index WRITE operation.

    Liveness: a daemon heartbeat refreshes the lock's mtime every
    ``stale_after_s / 4`` while held, so a LIVE maintainer — however long
    its compaction runs — never looks stale. A lock whose mtime is older
    than ``stale_after_s`` (env ``SPARK_GRAFT_INDEX_LEASE_TTL`` overrides)
    therefore belongs to a crashed maintainer and is stolen; maintenance
    epochs are redeliverable, so breaking a dead lease is safe.

    Steal safety: stealers serialize on a second exclusive-create file
    (``maintainer.lock.steal``) and RE-CHECK staleness while holding it —
    the naive unlink-then-create steal races a concurrent stealer into
    removing the winner's FRESH lock (both would then hold the lease,
    which is the exact corruption this mechanism exists to prevent)."""

    def __init__(self, path: str, stale_after_s: float | None = None):
        import os

        self.lock = os.path.join(path, "maintainer.lock")
        self.stale_after_s = (
            stale_after_s
            if stale_after_s is not None
            else float(os.environ.get("SPARK_GRAFT_INDEX_LEASE_TTL", "3600"))
        )
        self._fd = None
        self._hb = None

    def _try_acquire(self) -> bool:
        import os
        import time

        try:
            self._fd = os.open(self.lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(self._fd, f"pid={os.getpid()} t={time.time()}".encode())
            return True
        except FileExistsError:
            return False

    def __enter__(self):
        import os
        import threading
        import time

        if not self._try_acquire():
            try:
                age = time.time() - os.path.getmtime(self.lock)
            except OSError:
                # holder released between probe and stat: the lock is gone,
                # so contend for it directly (O_EXCL arbitrates)
                age = None
                self._try_acquire()
            if age is not None and age > self.stale_after_s:
                steal = self.lock + ".steal"
                sfd = None
                for steal_try in (0, 1):
                    try:
                        sfd = os.open(steal, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                        break
                    except FileExistsError:
                        # a crashed stealer must not wedge recovery forever:
                        # the steal critical section is sub-second, so a
                        # steal file older than 60s is itself dead debris
                        try:
                            sage = time.time() - os.path.getmtime(steal)
                        except OSError:
                            continue  # released; retry the exclusive create
                        if steal_try == 0 and sage > 60.0:
                            try:
                                os.unlink(steal)
                            except OSError:
                                pass
                            continue
                        raise IndexMaintainerBusy(
                            f"another maintainer is stealing {self.lock}"
                        ) from None
                if sfd is not None:
                    try:
                        # re-check UNDER the steal lock: the previous stealer
                        # (or a direct acquirer after a release) may have just
                        # created a FRESH lock we must not remove
                        try:
                            age2 = time.time() - os.path.getmtime(self.lock)
                            gone = False
                        except OSError:
                            age2, gone = None, True
                        if gone:
                            # lock vanished: contend directly, never unlink —
                            # a concurrent fresh acquirer may already own it
                            self._try_acquire()
                        elif age2 > self.stale_after_s:
                            try:
                                os.unlink(self.lock)
                            except OSError:
                                pass
                            self._try_acquire()
                    finally:
                        os.close(sfd)
                        try:
                            os.unlink(steal)
                        except OSError:
                            pass
            if self._fd is None:
                raise IndexMaintainerBusy(
                    f"another maintainer holds {self.lock}; apply_changes/"
                    "index_compact must not run concurrently on one index — "
                    "a crashed holder's lease frees itself after the stale "
                    "window (its heartbeat stops)"
                )
        # heartbeat: keep mtime fresh so a long compaction is never stolen.
        # Interval scales with the TTL (no 1s floor: a 1s test TTL must
        # still beat several times inside its own stale window)
        self._stop = threading.Event()
        interval = max(self.stale_after_s / 4.0, 0.05)

        def beat():
            while not self._stop.wait(interval):
                try:
                    os.utime(self.lock, None)
                except OSError:
                    return  # lock vanished (external cleanup): stop quietly

        self._hb = threading.Thread(target=beat, daemon=True)
        self._hb.start()
        return self

    def __exit__(self, *exc):
        import os

        if self._hb is not None:
            self._stop.set()
            self._hb.join(timeout=5)
        if self._fd is not None:
            os.close(self._fd)
            try:
                os.unlink(self.lock)
            except OSError:
                pass
        return False


def _live_filter(spark, pruned: DataFrame, path: str, meta: dict) -> DataFrame:
    """Restrict a (pruned) corpus scan to LIVE rows under the index's CDC
    maintenance state (MoR-style, mirroring lake_mor_delete_scan's LWW
    semantics for tables):

    - a tombstone (vid, upto) kills every corpus row of that vid with
      ``iseq <= upto`` — REGARDLESS of which inverted list the row sits in,
      which is the property that makes updates safe: a changed vector can
      move to a different centroid list, so the stale row must die without
      the probe ever seeing the new one. Tombstones are aggregated to one
      (vid, max upto) row and broadcast (the relation is O(deleted/updated
      vids since last compaction), orders of magnitude below the corpus; a
      deployment whose delete set outgrows broadcast runs index_compact,
      which folds tombstones away).
    - exact duplicate (vid, iseq) rows — possible only in the crash window
      between a maintenance epoch's corpus append and its meta commit, when
      the epoch is redelivered — collapse to one. The dedup (a shuffle of
      only the probed lists) is applied only when maintenance epochs exist;
      a pure build+bulk-add index keeps today's shuffle-free probe plan.

    Indexes never touched by apply_changes return the scan unchanged."""
    import os

    # legacy corpora (persisted before the maintenance feature) lack iseq;
    # their rows are all pre-maintenance, i.e. sequence 0. Handles both a
    # wholly-old corpus (column absent) and a mixed one (nulls after adds).
    if "iseq" not in pruned.columns:
        pruned = pruned.withColumn("iseq", F.lit(0).cast("long"))
    else:
        pruned = pruned.withColumn("iseq", F.coalesce(F.col("iseq"), F.lit(0)))
    # crash-window duplicate collapse is gated on ON-DISK evidence that a
    # maintenance epoch ever started — applied_epochs alone misses the
    # double-crash case (corpus appended twice, meta never committed), so
    # the per-epoch inflight markers (written before the corpus append,
    # removed after the meta commit) count too. index_compact snapshots
    # applied_epochs into compacted_epochs: the rewrite collapses every
    # duplicate, so only epochs applied SINCE the last compact (or live
    # markers) can have left one — a compacted, quiescent index pays no
    # dedup shuffle (r04 advice: the gate used to never reset).
    applied = set(meta.get("applied_epochs", []))
    compacted = set(meta.get("compacted_epochs", []))
    maintained = bool(applied - compacted) or any(
        n.startswith("inflight-epoch-") for n in os.listdir(path)
    )
    if maintained:
        pruned = pruned.dropDuplicates(["vid", "iseq"])
    tdir = _tombstone_dir(path, meta)
    if os.path.isdir(tdir) and any(
        n.endswith(".parquet") for n in os.listdir(tdir)
    ):
        # broadcast only while the sidecar is broadcast-sized; a deployment
        # whose delete/update set outgrows it falls back to a shuffled join
        # (and should run index_compact, which folds tombstones away)
        tomb_bytes = sum(
            os.path.getsize(os.path.join(tdir, n))
            for n in os.listdir(tdir)
            if n.endswith(".parquet")
        )
        tomb = (
            spark.read.parquet(tdir).groupBy("vid").agg(F.max("upto").alias("_upto"))
        )
        if tomb_bytes < 64 << 20:
            tomb = F.broadcast(tomb)
        pruned = (
            pruned.join(tomb, "vid", "left")
            .filter(F.col("_upto").isNull() | (F.col("iseq") > F.col("_upto")))
            .drop("_upto")
        )
    return pruned


def ivf_index_build(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 10,
) -> list[list[float]]:
    """Train (deterministic sampled spherical k-means), assign every vector
    to its single nearest list, and persist: corpus parquet partitioned by
    centroid_id (vec + prenormed vnorm stored, so search never recomputes),
    centroids to an atomically-replaced JSON. Returns the centroids."""
    import os

    centroids = ivf_train_centroids(
        df, n_centroids, id_col, vec_col, sample_size=sample_size, n_iter=n_iter
    )
    assigned = ivf_assign(df, id_col=id_col, vec_col=vec_col, centroids=centroids, n_probe=1)
    assigned.select("vid", "vec", "vnorm", "centroid_id").withColumn(
        "iseq", F.lit(0).cast("long")
    ).write.partitionBy("centroid_id").mode("errorifexists").parquet(
        os.path.join(path, "corpus")
    )
    _atomic_json_dump(
        _ivf_index_meta_path(path),
        {
            "n_centroids": len(centroids),
            "centroids": centroids,
            "corpus_rel": "corpus",
            "applied_epochs": [],
        },
    )
    return centroids


def ivf_index_centroids(path: str) -> list[list[float]]:
    import json as _json

    with open(_ivf_index_meta_path(path)) as f:
        return _json.load(f)["centroids"]


def ivf_index_add(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iseq: int = 0,
) -> None:
    """Incremental add: assign new vectors to the EXISTING centroids (no
    retrain — the standard IVF grow path) and append to their partition
    directories. A map-side projection + append write; never reads or
    rewrites the existing lists. ``iseq`` stamps the rows' index sequence
    (bulk grow = 0; CDC maintenance passes its epoch id — see
    ivf_index_apply_changes for the idempotent epoch-guarded path)."""
    import os

    meta = _index_meta(path, "ivf")
    assigned = ivf_assign(
        df, id_col=id_col, vec_col=vec_col, centroids=meta["centroids"], n_probe=1
    )
    assigned.select("vid", "vec", "vnorm", "centroid_id").withColumn(
        "iseq", F.lit(iseq).cast("long")
    ).write.partitionBy("centroid_id").mode("append").parquet(
        os.path.join(path, meta.get("corpus_rel", "corpus"))
    )


def ivf_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, nn_id, sim, rk): exact cosine against only the probed
    lists. Per-query probe lists come from a map-side ivf_assign over the
    (small) query set; the UNION of probed list ids — at most
    n_queries * n_probe values, driver-side control plane — prunes the
    corpus read down to those partition directories before the broadcast
    candidate join. ``n_probe >= n_centroids`` probes every list and is
    therefore EXACT brute-force search (the oracle gate's path)."""
    import os

    meta = _index_meta(path, "ivf")
    centroids = meta["centroids"]
    # collect the (small) query assignment ONCE: the probe-id set and the
    # broadcast join side must come from the SAME evaluation — two
    # executions of a nondeterministic query source could otherwise assign
    # a query to a list the pruning already dropped (silent candidate loss)
    qrows = ivf_assign(
        queries, id_col=id_col, vec_col=vec_col, centroids=centroids, n_probe=n_probe
    ).select("vid", "vec", "vnorm", "centroid_id").collect()
    probe_ids = sorted({int(r["centroid_id"]) for r in qrows})
    # mergeSchema: a corpus whose older files predate the iseq column must
    # surface it as NULL on those rows (coalesced to 0 in _live_filter) —
    # single-footer inference could otherwise drop the column entirely and
    # mis-stamp fresh rows as sequence 0
    corpus = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, meta.get("corpus_rel", "corpus"))
    )
    pruned = _live_filter(
        spark, corpus.filter(F.col("centroid_id").isin(probe_ids)), path, meta
    )
    q = spark.createDataFrame(
        [
            (int(r["vid"]), [float(x) for x in r["vec"]], float(r["vnorm"]),
             int(r["centroid_id"]))
            for r in qrows
        ],
        "query_id long, q_vec array<double>, q_norm double, centroid_id int",
    )
    cand = pruned.join(
        F.broadcast(q),
        (pruned["centroid_id"] == q["centroid_id"]) & (F.col("vid") != F.col("query_id")),
    ).withColumn(
        "sim",
        F.round(
            cosine_prenorm(F.col("q_vec"), F.col("vec"), F.col("q_norm"), F.col("vnorm")), 6
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vid"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            F.col("vid").alias("nn_id"),
            "sim",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# --------------------------------------------------------------- IVF-PQ index
# The billion-scale composition (FAISS IVFPQ / Jégou et al. 2011): a coarse
# quantizer splits the corpus into partition-pruned inverted lists AND each
# vector is PQ-coded, so a probe reads only n_probe lists' worth of m-byte
# codes (the 32x memory cut), scores candidates by LUT lookups (ADC), and
# exact-reranks only the short list. Exhaustive probe + full rerank is exact
# brute force — the EXACT-oracle path; production recall tunes via
# (n_probe, rerank) against the gates in tests.


def ivfpq_index_build(
    df: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = 8,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    n_iter: int = 10,
    encode_method: str = "auto",
) -> dict:
    """Train coarse centroids + PQ codebooks (both deterministic, driver-
    resident, control-plane tiny), assign + encode every vector, persist
    parquet inverted lists partitioned by centroid_id carrying (vid, vec,
    vnorm, code). The full vector rides along for exact rerank — at 10^9
    scale you would externalize it and rerank via a point-lookup join; the
    codes alone are the scan payload either way."""
    import os

    coarse = ivf_train_centroids(
        df, n_centroids, id_col, vec_col, sample_size=sample_size, n_iter=n_iter
    )
    books = pq_train(
        df, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col,
        sample_size=sample_size, n_iter=n_iter,
    )
    meta = {
        "centroids": coarse,
        "codebooks": books,
        "encode_method": encode_method,
        "corpus_rel": "corpus",
        "applied_epochs": [],
    }
    # ONE map-side projection: the code is a pure function of vec
    # (pq_code_column), so it rides the assignment — no second corpus scan,
    # no vid shuffle-join
    assigned = ivf_assign(df, id_col=id_col, vec_col=vec_col, centroids=coarse, n_probe=1)
    assigned.select("vid", "vec", "vnorm", "centroid_id").withColumn(
        "code", pq_code_column(books, F.col("vec"), encode_method)
    ).withColumn("iseq", F.lit(0).cast("long")).write.partitionBy(
        "centroid_id"
    ).mode("errorifexists").parquet(os.path.join(path, "corpus"))
    _atomic_json_dump(_ivfpq_index_meta_path(path), meta)
    return meta


def ivfpq_index_add(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iseq: int = 0,
) -> None:
    """Incremental grow: assign + encode against the PERSISTED models and
    append to the partition dirs — no retrain, no list rewrite."""
    import os

    meta = _index_meta(path, "ivfpq")
    assigned = ivf_assign(
        df, id_col=id_col, vec_col=vec_col, centroids=meta["centroids"], n_probe=1
    )
    assigned.select("vid", "vec", "vnorm", "centroid_id").withColumn(
        "code",
        pq_code_column(meta["codebooks"], F.col("vec"), meta.get("encode_method", "auto")),
    ).withColumn("iseq", F.lit(iseq).cast("long")).write.partitionBy(
        "centroid_id"
    ).mode("append").parquet(os.path.join(path, meta.get("corpus_rel", "corpus")))


def ivfpq_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, nn_id, sim, rk): probe the n_probe nearest lists
    (partition-pruned scan), score candidates by m ADC lookups against the
    broadcast per-query LUTs, exact-cosine rerank the top-``rerank`` ADC
    shortlist, return top-k. ``n_probe >= n_centroids`` AND
    ``rerank >= corpus size`` degenerate to exact brute force (oracle
    path). LUTs use the same left-assoc IEEE accumulation as the encoder."""
    import numpy as np
    import os

    meta = _index_meta(path, "ivfpq")
    books = meta["codebooks"]
    qassign = ivf_assign(
        queries, id_col=id_col, vec_col=vec_col, centroids=meta["centroids"],
        n_probe=n_probe,
    )
    qrows = qassign.select("vid", "vec", "vnorm", "centroid_id").collect()
    probe_ids = sorted({int(r["centroid_id"]) for r in qrows})

    seen: dict = {}
    q_data = []
    for r in qrows:
        vid = int(r["vid"])
        if vid not in seen:
            seen[vid] = pq_query_luts(np.array(r["vec"], dtype=np.float64), books)
        q_data.append(
            (vid, [float(x) for x in r["vec"]], float(r["vnorm"]),
             int(r["centroid_id"]), seen[vid])
        )
    qdf = spark.createDataFrame(
        q_data,
        "query_id long, q_vec array<double>, q_norm double, centroid_id int, "
        "lut array<array<double>>",
    )
    corpus = _live_filter(
        spark,
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(path, meta.get("corpus_rel", "corpus")))
        .filter(F.col("centroid_id").isin(probe_ids)),
        path,
        meta,
    )
    cand = corpus.join(
        F.broadcast(qdf),
        (corpus["centroid_id"] == qdf["centroid_id"]) & (F.col("vid") != F.col("query_id")),
    ).withColumn("adc", F.round(pq_adc_column(F.col("code"), F.col("lut")), 6))
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("vid"))
    short = cand.withColumn("srk", F.row_number().over(w_adc)).filter(
        F.col("srk") <= rerank
    )
    short = short.withColumn(
        "sim",
        F.round(cosine_prenorm(F.col("q_vec"), F.col("vec"), F.col("q_norm"), F.col("vnorm")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vid"))
    return (
        short.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            F.col("vid").alias("nn_id"),
            "sim",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ------------------------------------------------ CDC-consistent maintenance
# The persisted IVF / IVF-PQ indexes above support build + incremental ADD;
# this block closes the delete/update gap (VERDICT r03 item 4): a CDC delete
# or url re-crawl must not leave stale vectors that searches still return.
# Mechanics mirror the lake tables' LWW/tombstone semantics
# (lake_mor_delete_scan): corpus rows carry an index-sequence (iseq), a
# maintenance epoch appends (vid, upto) tombstone sidecars plus newly
# assigned+encoded rows, searches filter live = iseq > max(upto) per vid
# (see _live_filter), and index_compact folds tombstones away by rewriting
# only live rows. Epochs are idempotent via the applied_epochs list in the
# index meta (atomic JSON replace; single concurrent maintainer per index —
# the same contract the lake's maintain() documents).


def _index_apply_changes(
    spark,
    path: str,
    kind: str,
    changes: DataFrame,
    epoch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
) -> dict:
    """Apply ONE deduplicated CDC batch (one row per id: op in I/U/D; vec
    required for I/U) to a persisted index under an idempotent epoch guard.

    Order of writes is load-bearing for crash safety:
      1. tombstones (every changed vid: upserts kill iseq <= epoch-1,
         deletes kill iseq <= epoch) — a crash after this step over-kills
         nothing (the upsert's new row, written with iseq = epoch, survives
         its own tombstone);
      2. corpus rows for the upserts (iseq = epoch) — a crash between 2 and
         3 leaves duplicates that redelivery re-appends; _live_filter
         collapses exact (vid, iseq) duplicates;
      3. the meta applied-epochs commit (atomic replace) — after this,
         redelivery is a no-op.
    Epochs must be applied in increasing order (the change-feed cursor
    guarantees it; sync_index_from_changefeed drives this)."""
    import os

    with _maintainer_lease(path):
        return _index_apply_changes_locked(
            spark, path, kind, changes, epoch_id, id_col, vec_col, op_col
        )


def _index_apply_changes_locked(
    spark, path, kind, changes, epoch_id, id_col, vec_col, op_col
) -> dict:
    import os

    meta = _index_meta(path, kind)
    if epoch_id in set(meta.get("applied_epochs", [])):
        return {"skipped": True, "epoch_id": epoch_id}
    # per-epoch inflight marker: lets _live_filter detect the double-crash
    # window (corpus appended, meta never committed) even when
    # applied_epochs is still empty
    inflight = os.path.join(path, f"inflight-epoch-{epoch_id}")
    with open(inflight, "w") as f:
        f.write("")
    ch = changes.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(op_col).alias("_op"),
        F.col(vec_col).alias("_vec"),
    )
    # tombstones only for ops that can shadow an existing row: updates kill
    # iseq <= epoch-1, deletes kill <= epoch. Declared INSERTS write none —
    # an insert-heavy feed must not grow the sidecar O(corpus) (callers that
    # cannot distinguish I from U pass "U"; correct either way, just larger)
    tomb = ch.filter(F.col("_op") != "I").select(
        "vid",
        F.when(F.col("_op") == "D", F.lit(epoch_id))
        .otherwise(F.lit(epoch_id - 1))
        .cast("long")
        .alias("upto"),
        F.lit(epoch_id).cast("long").alias("epoch"),
    )
    tomb.write.mode("append").parquet(_tombstone_dir(path, meta))
    ups = ch.filter(F.col("_op") != "D").select(
        F.col("vid").alias(id_col), F.col("_vec").alias(vec_col)
    )
    if kind == "ivf":
        ivf_index_add(spark, path, ups, id_col=id_col, vec_col=vec_col, iseq=epoch_id)
    else:
        ivfpq_index_add(spark, path, ups, id_col=id_col, vec_col=vec_col, iseq=epoch_id)
    # NOTE: maintenance writers are SERIALIZED — enforced by the exclusive
    # maintainer lease around every apply_changes/index_compact (a compact
    # scanning between this epoch's append and its meta commit would rewrite
    # the corpus without these rows and then drop them with the old
    # generation). Same single-maintainer rule the lake's maintain() cycle
    # documents for rewrite operations; a second caller raises
    # IndexMaintainerBusy instead of corrupting.
    meta = _index_meta(path, kind)
    meta["applied_epochs"] = sorted(set(meta.get("applied_epochs", [])) | {epoch_id})
    _index_meta_write(path, kind, meta)
    try:
        os.unlink(inflight)
    except OSError:
        pass
    return {"skipped": False, "epoch_id": epoch_id}


def ivf_index_apply_changes(
    spark, path: str, changes: DataFrame, epoch_id: int,
    id_col: str = "vec_id", vec_col: str = "embedding", op_col: str = "op",
) -> dict:
    return _index_apply_changes(
        spark, path, "ivf", changes, epoch_id, id_col, vec_col, op_col
    )


def ivfpq_index_apply_changes(
    spark, path: str, changes: DataFrame, epoch_id: int,
    id_col: str = "vec_id", vec_col: str = "embedding", op_col: str = "op",
) -> dict:
    return _index_apply_changes(
        spark, path, "ivfpq", changes, epoch_id, id_col, vec_col, op_col
    )


def index_compact(spark, path: str, kind: str = "ivf") -> dict:
    """Fold tombstones away: rewrite ONLY live rows (iseq preserved) into a
    fresh generation directory, then atomically flip the meta's corpus_rel
    AND tombstone_rel together. Tombstone application is idempotent against
    an iseq-preserving rewrite (a row that survived compaction has iseq >
    every upto that targeted its vid), so a crash anywhere here changes
    nothing for readers. The OLD generation (corpus + its tombstone sidecar)
    is NOT deleted now — a concurrent search that resolved the old meta
    stays safe through the WHOLE compaction (r04 advice); the orphan sweep
    at the start of the NEXT compact reclaims it, exactly as it already
    reclaimed crash orphans. Run on the same cadence as the lake's
    maintain() cycle once the broadcast tombstone relation grows past
    ~10 MB. Writer concurrency is enforced by the maintainer lease."""
    import os
    import shutil
    import uuid as _uuid

    with _maintainer_lease(path):
        meta = _index_meta(path, kind)
        old_rel = meta.get("corpus_rel", "corpus")
        old_trel = meta.get("tombstone_rel", "tombstones")
        old_dir = os.path.join(path, old_rel)
        # orphan sweep: anything that isn't the CURRENT generation — crash
        # orphans from a failed compact AND the previous generation this
        # compact's predecessor deliberately left behind for in-flight
        # readers. The lease guarantees no writer races; readers older than
        # one full compaction cycle are out of contract (same age-gate the
        # lake's vacuum documents).
        for n in os.listdir(path):
            stale_corpus = (n == "corpus" or n.startswith("corpus-")) and n != old_rel
            stale_tomb = (
                n == "tombstones" or n.startswith("tombstones-")
            ) and n != old_trel
            if stale_corpus or stale_tomb:
                shutil.rmtree(os.path.join(path, n), ignore_errors=True)
        gen = _uuid.uuid4().hex[:8]
        new_rel = f"corpus-{gen}"
        live = _live_filter(
            spark, spark.read.option("mergeSchema", "true").parquet(old_dir), path, meta
        )
        live.write.partitionBy("centroid_id").mode("errorifexists").parquet(
            os.path.join(path, new_rel)
        )
        meta = _index_meta(path, kind)
        meta["corpus_rel"] = new_rel
        # the new generation's sidecar is created lazily by the first
        # post-compact tombstone write; a missing dir reads as no tombstones
        meta["tombstone_rel"] = f"tombstones-{gen}"
        # watermark for _live_filter's dedup gate: the rewrite collapsed
        # every duplicate, so epochs applied through this point can never
        # need the (vid, iseq) dedup shuffle again
        meta["compacted_epochs"] = sorted(set(meta.get("applied_epochs", [])))
        _index_meta_write(path, kind, meta)
        # ALL inflight markers clear here: the live rewrite just collapsed
        # every duplicate regardless of its epoch's fate. A later redelivery
        # of an uncommitted epoch writes its own fresh marker before
        # appending, restoring the guard — while an abandoned failed epoch
        # no longer taxes every future search with a permanent dedup shuffle.
        for n in os.listdir(path):
            if n.startswith("inflight-epoch-"):
                try:
                    os.unlink(os.path.join(path, n))
                except OSError:
                    pass
        return {"corpus_rel": new_rel, "dropped": old_rel, "deferred_reclaim": True}


def index_maintain(
    spark,
    path: str,
    kind: str = "ivf",
    tombstone_budget_bytes: int = 64 << 20,
    marker_budget: int = 8,
) -> dict:
    """Conditional maintenance — the ops-loop entry an operator calls on the
    same cadence as the lake's ``maintain()``: compacts ONLY when the MoR
    debt warrants a full rewrite. Triggers when the tombstone sidecar
    outgrows ``tombstone_budget_bytes`` (the point where _live_filter's
    forced broadcast stops being free) or when more than ``marker_budget``
    inflight markers have accumulated (each keeps the per-search dedup
    shuffle alive). Otherwise a cheap stat read, no Spark jobs."""
    import os

    tdir = _tombstone_dir(path, _index_meta(path, kind))
    tomb_bytes = 0
    if os.path.isdir(tdir):
        tomb_bytes = sum(
            os.path.getsize(os.path.join(tdir, n))
            for n in os.listdir(tdir)
            if n.endswith(".parquet")
        )
    markers = sum(1 for n in os.listdir(path) if n.startswith("inflight-epoch-"))
    if tomb_bytes <= tombstone_budget_bytes and markers <= marker_budget:
        return {
            "compacted": False,
            "tombstone_bytes": tomb_bytes,
            "inflight_markers": markers,
        }
    res = index_compact(spark, path, kind=kind)
    res.update(
        {"compacted": True, "tombstone_bytes": tomb_bytes, "inflight_markers": markers}
    )
    return res


def sync_index_from_changefeed(
    consumer,
    path: str,
    kind: str = "ivf",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Drive index maintenance from a lake table's change feed — the CDC
    story end-to-end: web-page/embedding replay lands in a keyed lake table
    (exactly-once), and this consumer tails its change feed into the ANN
    index, so searches converge to the table's final state after any replay,
    including deletes and updates.

    ``consumer`` is a ChangeFeedConsumer created ``with_internal=True`` on
    the keyed source table (the feed must carry _lsn so multi-version ranges
    resolve last-writer-wins per key before hitting the index). Epoch id =
    the range's to_version; redelivery of a crashed range hits the index's
    applied-epochs guard — the same two-layer idempotency argument as
    mirror_into_table."""
    from pyspark.sql import Window as _W

    def fn(changes: DataFrame, _from_v: int, to_v: int) -> None:
        if "_lsn" not in changes.columns:
            raise ValueError(
                "sync_index_from_changefeed needs the internal CDC columns; "
                "create the ChangeFeedConsumer with with_internal=True "
                "(without _lsn a range spanning several versions of one key "
                "would apply stale revisions)"
            )
        # resolve last-writer per key with the SOURCE TABLE's ordering —
        # (warc_ts, lsn) when the table carries the event-time column,
        # falling back to lsn alone — so the index converges to exactly
        # the state merge_cdc resolved
        order = [F.desc("_lsn")]
        if "warc_ts" in changes.columns:
            order.insert(0, F.desc_nulls_last("warc_ts"))
        w = _W.partitionBy(id_col).orderBy(*order)
        last = (
            changes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .withColumn(
                "op",
                F.when(F.col("_change_type") == "delete", F.lit("D")).otherwise(
                    F.lit("U")
                ),
            )
        )
        _index_apply_changes(
            consumer.spark, path, kind, last, epoch_id=to_v,
            id_col=id_col, vec_col=vec_col,
        )

    return consumer.drain(fn)
