"""Similarity search over embedding columns (array<float>, read as double).

- Exact cosine top-k (`cosine_topk`): the query side is tiny → broadcast;
  the corpus streams through one narrow stage; top-k is a per-query window.
  No full sort, no quadratic shuffle.
- SRP LSH (`srp_signature`, `ann_bucketed_topk`, `embedding_neardup_pairs`):
  each vector gets a `bits`-bit bucket from sign(v·plane), and a bucket
  equi-join replaces the cross product; recall tunes with `bits`.
- IVF (`ivf_assign`, `ann_ivf_topk`): each vector lives in its nearest
  centroid's cell (seeded, spherical k-means or L2 k-means centroids) and
  each query probes its `n_probe` nearest cells. From HIER_MIN_CELLS cells
  on, top-1 assignment walks a two-level tree (`group_centroids`).
- IVF-PQ (`ann_ivfpq_topk`): the corpus keeps only its cell and m PQ
  sub-codes (of the cell residual by default); candidates rank by ADC.
- SemDeDup (`semdedup`): pairwise cosine only within a cell, one kept
  exemplar per duplicate component.

One metric rule: "dot" picks the highest dot product, "l2" the lowest
squared L2 distance, and ties go to the lowest cell. `_nearest` is the
numpy side (the one Lloyd loop `_lloyd`, `group_centroids`,
`residualize`); `_rule` is the Spark side (`_assign_cells`, both tree
levels, `_argbest_agg`). Quantizers train on a bounded driver sample.

Every dot product and distance is a strict left fold of built-in
higher-order functions (zip_with + aggregate) that the DuckDB oracles
mirror term for term. These run in the JVM, but Spark evaluates them
interpreted (`CodegenFallback`), so norms are taken once per row, never
per pair.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _dot(a: str, b: str) -> F.Column:
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, v) -> s + v)")


def _sqdist(a: str, b: str) -> F.Column:
    """Σ (a_t − b_t)² as the same strict left fold shape as `_dot` — the
    DuckDB oracle mirrors it term-for-term (`_duck_l2`) so L2 cell
    assignment orders bit-identically in both engines."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0D, (s, v) -> s + v)"
    )


def _rule(metric: str):
    """The Spark side of the nearest-centroid rule: (score fold, ascending)
    — squared L2 ascending for "l2", dot product descending otherwise; the
    callers break ties to the lowest cell. `_nearest` is the numpy side."""
    return (_sqdist, True) if metric == "l2" else (_dot, False)


def _as_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def _norm(col: str) -> F.Column:
    return F.sqrt(_dot(col, col))


def _cosine(a: str, b: str, norm_a: str, norm_b: str) -> F.Column:
    """cos(a, b) from per-row norms, rounded to 6 dp: every rank and
    threshold compares the rounded value, so both engines decide alike."""
    return F.round(_dot(a, b) / (F.col(norm_a) * F.col(norm_b)), 6)


def _vectors(emb: DataFrame, id_col: str, vec_col: str,
             norm: bool = False) -> DataFrame:
    """(id, v[, vnorm]) — the vector as array<double>, with its norm taken
    once per ROW when asked: higher-order functions evaluate interpreted,
    so each per-pair norm saved is ~1/3 of a join's compute."""
    base = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    return base.withColumn("vnorm", _norm("v")) if norm else base


def _topk(scored: DataFrame, k: int, score_col: str,
          ascending: bool) -> DataFrame:
    """(query_id, neighbor_id, score, rank) — each query's first `k`
    neighbours by `score_col`, ties to the lowest neighbor_id, through a
    per-query window."""
    order = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score_col, F.col("rank").cast("long"))
    )


def cosine_topk(emb: DataFrame, query_ids, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbours by cosine for each query id.

    Returns (query_id, neighbor_id, cosine, rank) with deterministic
    tie-breaks (cosine desc, neighbor_id asc). Self-matches excluded."""
    base = _vectors(emb, id_col, vec_col, norm=True)
    queries = base.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("q"),
        F.col("vnorm").alias("qnorm"),
    )
    joined = base.crossJoin(F.broadcast(queries)).filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = joined.select(
        "query_id", F.col(id_col).alias("neighbor_id"),
        _cosine("q", "v", "qnorm", "vnorm").alias("cosine"),
    )
    return _topk(scored, k, "cosine", ascending=False)


def srp_signature(emb: DataFrame, bits: int = 8, dim: int = 64, seed: int = 7,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, bucket) — signed-random-projection LSH bucket id.

    Hyperplanes are seeded numpy normals shipped as literal arrays (no state
    on executors, deterministic across cluster sizes)."""
    rng = np.random.RandomState(seed)
    planes = rng.randn(bits, dim)
    base = _vectors(emb, id_col, vec_col)
    bucket = F.lit(0).cast("long")
    for j in range(bits):
        lit = "array(" + ",".join(f"{x!r}D" for x in planes[j]) + ")"
        bit = F.when(_dot("v", lit) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return base.select(F.col(id_col), bucket.cast("long").alias("bucket"))


def _centroids(n_cells: int, dim: int, seed: int) -> np.ndarray:
    """Deterministic coarse-quantizer centroids. Production IVF trains these
    with k-means over a driver-collected sample and broadcasts them — the
    plan shape (assign = argmin over centroid literals, probe = bucket
    equi-join) is identical; seeded random centroids keep the operator
    deterministic and cross-engine verifiable in this sandbox."""
    rng = np.random.RandomState(seed)
    c = rng.randn(n_cells, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def train_centroids_kmeans(emb: DataFrame, n_cells: int = 8, dim: int = 64,
                           iters: int = 10, sample_n: int = 10_000,
                           seed: int = 11, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer: collect a bounded
    sample to the driver (ORDER BY id → reproducible), run `iters` Lloyd
    rounds in numpy (assign by dot with unit-norm centroids, recenter,
    renormalize; empty cells re-seeded from the sample deterministically),
    return unit-norm centroids for broadcast.

    Scale note: the collect is capped at `sample_n` rows — centroid
    training needs a sample, not the corpus (FAISS trains IVF quantizers on
    ~100k-1M vectors regardless of corpus size). Everything downstream
    (assign/probe) stays a distributed broadcast join."""
    return kmeans_lloyd(
        _ordered_sample_np(emb, sample_n, id_col, vec_col), n_cells, iters, seed)


def _ordered_sample_np(emb: DataFrame, n: int, id_col: str,
                       vec_col: str) -> np.ndarray:
    """The shared bounded training sample: first `n` vectors by id (stable
    across engines — the oracle builders read the same ordered prefix).
    A smaller sample of the same relation is always a PREFIX of a larger
    one, so one collect can feed several quantizers."""
    rows = _vectors(emb, id_col, vec_col).orderBy(F.col(id_col)).limit(n).collect()
    return np.array([r["v"] for r in rows], dtype=np.float64)


def _nearest(X: np.ndarray, cents: np.ndarray, metric: str) -> np.ndarray:
    """The numpy side of the nearest-centroid rule: per row, the argmin of
    the squared L2 distance for "l2", else the argmax of the dot product;
    np.argmin/argmax take the lowest index on ties, as `_rule`'s callers
    do."""
    if metric == "l2":
        return np.argmin(((X[:, None] - cents[None]) ** 2).sum(-1), axis=1)
    return np.argmax(X @ cents.T, axis=1)


def _lloyd(X: np.ndarray, k: int, iters: int, rng: np.random.RandomState,
           metric: str) -> np.ndarray:
    """The one deterministic Lloyd loop: `k` seeded initial rows, then per
    round assign by `_nearest` and recenter each cell to its mean; an empty
    cell re-seeds from a sample row drawn from `rng`, in cell order.
    "dot" renormalizes the centroids after each round (spherical k-means
    over unit-norm rows).

    Members group by one STABLE sort, not a boolean mask (one pass over
    the sample) per cell. A stable grouping keeps each cell's rows in their
    original order, so .mean() sees the same array as a mask would and
    rounds identically."""
    n = len(X)
    cents = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        assign = _nearest(X, cents, metric)
        order = np.argsort(assign, kind="stable")
        bounds = np.searchsorted(assign[order], np.arange(k + 1))
        Xs = X[order]
        for c in range(k):
            lo, hi = bounds[c], bounds[c + 1]
            cents[c] = Xs[lo:hi].mean(axis=0) if hi > lo else X[rng.randint(n)]
        if metric == "dot":
            cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    return cents


def kmeans_lloyd(X: np.ndarray, n_cells: int, iters: int, seed: int) -> np.ndarray:
    """Spherical k-means (pure numpy) over the unit-normalized rows — also
    used by the DuckDB oracle builder so both engines probe identical
    centroids."""
    X = X.astype(np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return _lloyd(X, n_cells, iters, np.random.RandomState(seed), "dot")


def kmeans_lloyd_l2(X: np.ndarray, n_cells: int, iters: int, seed: int) -> np.ndarray:
    """Plain (non-spherical) Lloyd: assign by min L2, centroid = cell MEAN
    with no renormalization — the FAISS IndexIVF coarse quantizer. This is
    the quantizer residual PQ requires: with c the true cell mean,
    E‖x−c‖² = E‖x‖² − ‖c‖² < E‖x‖² strictly, so residuals are tighter
    than raw vectors; the spherical variant's unit-renormalized centroid
    is NOT the mean and subtracting it can inflate variance (measured on
    the synth corpus: spherical-residual recall@10 0.16 vs 0.28 raw,
    l2-residual 0.44 vs 0.42 raw at the same code budget)."""
    return _lloyd(X.astype(np.float64), n_cells, iters,
                  np.random.RandomState(seed), "l2")


def train_centroids_l2(emb: DataFrame, n_cells: int = 8, dim: int = 64,
                       iters: int = 20, sample_n: int = 10_000,
                       seed: int = 11, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> np.ndarray:
    """L2 k-means coarse quantizer on the same bounded ordered sample as
    train_centroids_kmeans (see its scale note)."""
    return kmeans_lloyd_l2(
        _ordered_sample_np(emb, sample_n, id_col, vec_col), n_cells, iters, seed)


def _centroid_df(spark, cents: np.ndarray,
                 grp: "np.ndarray | None" = None) -> DataFrame:
    """Centroids as a tiny broadcastable DataFrame (cell[, grp], c) — data,
    not code: inlining them as column-expression literals blows the
    whole-stage codegen source past 2 MB and costs seconds of JIT compile
    per query. `grp` adds each cell's parent group (the fine level of the
    two-level tree). Built from Arrow, so it plans as a local relation,
    not a Python RDD."""
    cents = np.asarray(cents, dtype=np.float64)
    cols = {"cell": pa.array(np.arange(len(cents), dtype=np.int64))}
    if grp is not None:
        cols["grp"] = pa.array(np.asarray(grp, dtype=np.int64))
    cols["c"] = pa.array(list(cents), pa.list_(pa.float64()))
    return spark.createDataFrame(pa.table(cols))


# fine-codebook size at which top-1 assignment switches to the two-level
# coarse→children walk; below it the flat argmax is both cheaper and simpler
HIER_MIN_CELLS = 16


def group_centroids(cents: np.ndarray, n_coarse: "int | None" = None,
                    metric: str = "dot", iters: int = 10,
                    seed: int = 0) -> "tuple[np.ndarray, np.ndarray]":
    """Driver-side second quantizer level: cluster the FINE centroids
    themselves into ~√n_cells coarse groups (same deterministic Lloyd
    loop as the fine training — spherical for dot, plain for L2), then
    deterministically parent every fine cell to its nearest coarse
    centroid (`_nearest` → lowest index on ties). Coarse groups
    that end up with no children are dropped and the survivors re-labeled
    densely in ascending original order, so a vector can never be routed
    to an empty group.

    Returns (coarse[g, dim], child_of[n_cells] → dense group id). Both
    engines import this one function, so the tree is a shared query
    parameter exactly like the centroids themselves.

    Why: flat top-1 assignment is N × n_cells dot products — the one
    super-linear term at corpus scale, where SemDeDup/IVF grow n_cells ∝ N
    to keep cell populations bounded (measured 14.4× wall at 10× data).
    The two-level walk costs N × (√C + C/√C) = 2N√C — the standard
    IMI / IVF-tree shape (Babenko & Lempitsky, CVPR'12).

    The tree is an APPROXIMATE router, like every quantizer tree: routing
    agrees with the flat argmax ~77-81% on clustered data with trained
    centroids (measured, 32 cells / 64-dim blobs) and degrades toward
    ~0.3-0.5 in the worst case (isotropic data over seeded random
    centroids — no structure for the coarse level to exploit). What it
    PRESERVES unconditionally: deterministic routing (a pure function of
    the vector — near-identical vectors always co-route, so duplicate
    pairs meet in the same cell) and a valid bounded partition — which is
    exactly what SemDeDup's Σ|cell|² confinement requires; the paper's
    own clustering is approximate k-means. Consumers that need the exact
    flat argmax (small-C IVF recall paths) stay below HIER_MIN_CELLS or
    pass a `cents` frame without `cents_np`.
    tests/test_ops.py::test_hier_assignment_quality_instrument pins the
    clustered-regime agreement floor and the co-routing invariant."""
    C = len(cents)
    if n_coarse is None:
        n_coarse = max(2, int(np.ceil(np.sqrt(C))))
    n_coarse = min(n_coarse, C)
    train = kmeans_lloyd_l2 if metric == "l2" else kmeans_lloyd
    coarse = train(cents, n_coarse, iters, seed)
    child_of = _nearest(cents, coarse, metric)
    kept = np.unique(child_of)  # ascending original index → dense re-label
    remap = {int(g): i for i, g in enumerate(kept)}
    return coarse[kept], np.array([remap[int(g)] for g in child_of])


def _assign_cells_hier(emb: DataFrame, cents_np: np.ndarray, id_col: str,
                       vec_col: str, metric: str, seed: int) -> DataFrame:
    """Two-level top-1 assignment: argbest over √C coarse groups, then
    argbest over that group's children only. Both levels are broadcast
    joins into a map-side-combinable argbest AGGREGATE (`_argbest_agg`) —
    at most one partial winner per (id, partition) ever shuffles, vs the
    flat window form's N×C scored-row exchange+sort. Same tie-breaks as
    the flat path (best score, then lowest cell). Emits
    (id, v, cell, rn=1) — the flat path's schema."""
    spark = emb.sparkSession
    coarse, child_of = group_centroids(cents_np, metric=metric, seed=seed)
    routed = _argbest_agg(
        _vectors(emb, id_col, vec_col).crossJoin(
            F.broadcast(_centroid_df(spark, coarse))),
        id_col, metric,
    ).select(id_col, "v", F.col("cell").alias("grp"))
    return _argbest_agg(
        routed.join(F.broadcast(_centroid_df(spark, cents_np, child_of)), "grp"),
        id_col, metric,
    )


def _assign_cells(emb: DataFrame, n_cells: int, dim: int, seed: int,
                  id_col: str, vec_col: str, top_n: int = 1,
                  cents: DataFrame | None = None,
                  metric: str = "dot",
                  cents_np: "np.ndarray | None" = None) -> DataFrame:
    """(vec_id, v, cell[, rn]) — rank centroids per vector by `_rule`: dot
    product (desc) or, for metric="l2" (the mean-centroid quantizer of the
    residual-PQ path), squared L2 (asc); ties to the lowest cell. A
    broadcast cross join of the tiny centroid table; rn ≤ top_n kept. Pass
    a prebuilt `cents` frame to share one centroid relation across
    multiple assignment stages (one broadcast build instead of two).

    Top-1 assignment over ≥ HIER_MIN_CELLS centroids routes through the
    two-level coarse→children walk (`_assign_cells_hier`) when the numpy
    centroids are available — at cells ∝ N that is the difference between
    N×C and 2N√C dot products. Multi-probe (top_n > 1) stays flat: it is
    only ever run on the tiny query side."""
    if cents_np is None and cents is None:
        cents_np = _centroids(n_cells, dim, seed)
    if cents_np is not None and top_n == 1 and len(cents_np) >= HIER_MIN_CELLS:
        return _assign_cells_hier(emb, cents_np, id_col, vec_col, metric, seed)
    if cents is None:
        cents = _centroid_df(emb.sparkSession, cents_np)
    pairs = _vectors(emb, id_col, vec_col).crossJoin(F.broadcast(cents))
    if top_n == 1:
        return _argbest_agg(pairs, id_col, metric)
    score, asc = _rule(metric)
    d = F.col("d").asc() if asc else F.col("d").desc()
    w = Window.partitionBy(id_col).orderBy(d, F.col("cell").asc())
    return (
        pairs.withColumn("d", score("v", "c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(F.col(id_col), "v", "cell", "rn")
    )


def _argbest_agg(pairs: DataFrame, id_col: str, metric: str) -> DataFrame:
    """(id, v, cell, rn=1) from (id, v, cell, c) pairs — per-id nearest
    cell by `_rule` as one hash aggregate instead of a window: the window
    form exchanges AND sorts all N×C scored rows; the agg shuffles at most
    one partial winner per (id, partition). Same selection: min/max of
    struct(d, cell, v) = best d, then lowest cell (negated for max), then
    v — never reached, cell is unique."""
    score, asc = _rule(metric)
    cell = F.col("cell") if asc else -F.col("cell")
    best = (F.min if asc else F.max)(
        F.struct(F.col("d"), cell.alias("sc"), F.col("v")))
    picked = F.col("w.sc") if asc else -F.col("w.sc")
    return (
        pairs.withColumn("d", score("v", "c"))
        .groupBy(id_col).agg(best.alias("w"))
        .select(F.col(id_col), F.col("w.v").alias("v"), picked.alias("cell"),
                F.lit(1).alias("rn"))
    )


def ivf_assign(emb: DataFrame, n_cells: int = 8, dim: int = 64, seed: int = 11,
               id_col: str = "vec_id", vec_col: str = "embedding",
               centroids: "np.ndarray | None" = None) -> DataFrame:
    """(vec_id, cell) — IVF coarse-quantizer assignment (nearest centroid by
    dot product; unit-norm centroids ⇒ nearest-by-cosine up to vector norm).
    ≥ HIER_MIN_CELLS centroids assign via the two-level coarse→children walk
    (see `group_centroids`); pass `centroids` to assign against a trained
    codebook instead of the seeded one."""
    return _assign_cells(
        emb, n_cells, dim, seed, id_col, vec_col, top_n=1, cents_np=centroids
    ).select(F.col(id_col), F.col("cell"))


def ann_ivf_topk(emb: DataFrame, query_ids, k: int = 10, n_cells: int = 8,
                 n_probe: int = 2, dim: int = 64, seed: int = 11,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 centroids: "np.ndarray | None" = None) -> DataFrame:
    """Approximate top-k via IVF: corpus vectors live in their nearest-
    centroid cell; each query probes its `n_probe` nearest cells and ranks
    candidates exactly. At scale the cell equi-join replaces the cross
    product (candidates ≈ n_probe/n_cells of the corpus), and the inverted
    lists are exactly a partitioning/bucketing key for the corpus table."""
    cent_arr = _centroids(n_cells, dim, seed) if centroids is None else centroids
    cents = _centroid_df(emb.sparkSession, cent_arr)
    corpus = _assign_cells(
        emb, n_cells, dim, seed, id_col, vec_col, top_n=1, cents=cents,
        cents_np=cent_arr,
    ).select(F.col(id_col), "v", "cell")
    q_probed = (
        _assign_cells(
            emb.filter(F.col(id_col).isin(list(query_ids))),
            n_cells, dim, seed, id_col, vec_col, top_n=n_probe, cents=cents,
        )
        .select(F.col(id_col).alias("query_id"), F.col("v").alias("q"), "cell")
    )
    # Alias both sides: they descend from the same `emb` lineage, and an
    # unaliased corpus["cell"] == q_probed["cell"] makes Spark log
    # "trivially true equals predicate" and fall back to its self-join
    # disambiguation heuristic — correct today but version-fragile.
    corpus = corpus.withColumn("vnorm", _norm("v")).alias("c")
    q_probed = q_probed.withColumn("qnorm", _norm("q")).alias("q")
    joined = corpus.join(
        F.broadcast(q_probed), F.col("c.cell") == F.col("q.cell")
    ).filter(F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id", F.col(id_col).alias("neighbor_id"),
        _cosine("q", "v", "qnorm", "vnorm").alias("cosine"),
    )
    return _topk(scored, k, "cosine", ascending=False)


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.35,
                            bits: int = 4, dim: int = 64, seed: int = 7,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for pairs
    colliding in an SRP bucket with cosine ≥ threshold.

    The scale shape: bucket blocking turns the O(N²) all-pairs comparison
    into an equi-self-join on bucket — at N vectors and 2^bits buckets each
    bucket holds ~N/2^bits candidates, so the shuffle carries vectors once
    and the compare is bucket-local. Recall tunes with bits (fewer bits =
    more candidates = higher recall); SRP collision probability for angle θ
    is (1 - θ/π)^bits, high precisely for near-duplicate (small-angle)
    pairs. Deterministic: seeded hyperplanes, id_a < id_b ordering."""
    sig = srp_signature(emb, bits, dim, seed, id_col, vec_col)
    base = _vectors(emb, id_col, vec_col, norm=True).join(sig, id_col)
    a, b = base.alias("a"), base.alias("b")
    joined = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    return (
        joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _cosine("a.v", "b.v", "a.vnorm", "b.vnorm").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ann_bucketed_topk(emb: DataFrame, query_ids, k: int = 10, bits: int = 8,
                      dim: int = 64, seed: int = 7, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates restricted to the query's SRP bucket.

    The equi-join on bucket replaces the cross join of the exact path — at
    N vectors and 2^bits buckets the candidate set shrinks ~2^bits×."""
    sig = srp_signature(emb, bits, dim, seed, id_col, vec_col)
    base = _vectors(emb, id_col, vec_col, norm=True).join(sig, id_col)
    queries = base.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("q"),
        F.col("vnorm").alias("qnorm"),
        F.col("bucket").alias("qbucket"),
    )
    joined = base.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("qbucket")) & (F.col(id_col) != F.col("query_id")),
    )
    scored = joined.select(
        "query_id", F.col(id_col).alias("neighbor_id"),
        _cosine("q", "v", "qnorm", "vnorm").alias("cosine"),
    )
    return _topk(scored, k, "cosine", ascending=False)


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011; the FAISS IndexIVFPQ family) — the
# canonical memory/scan shape at 10^9-10^12 vectors: the corpus stores only
# m sub-codes (m·nbits bits per vector — 2 bytes at m=4, nbits=4) plus a
# coarse cell id; search probes n_probe cells and ranks candidates by ADC
# (asymmetric distance: exact query subvectors against codeword literals).
# Default RESIDUAL encoding (FAISS IndexIVFPQ proper / Jégou TPAMI'11
# §III): codes quantize r = x − centroid(cell), the query is likewise
# re-centered per probed cell before ADC — the residual distribution is
# tighter than the raw vectors, so the same code budget ranks better.
# The no-residual variant (FAISS by_residual=False) stays available via
# residual=False.
#
# Cross-engine exactness discipline: every distance is an explicit
# left-associated fold of ((x - w) * (x - w)) terms — no pow() (not
# guaranteed identically rounded across libm implementations), no
# engine-native sum (order nondeterministic). The same Python generator
# emits both dialects, so Spark and the DuckDB oracle evaluate
# bit-identical IEEE operation sequences.
# ---------------------------------------------------------------------------


def _dlit(x: float) -> str:
    """Float literal that parses as DOUBLE in both Spark SQL and DuckDB."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r or "." not in r) else r + "e0"


def pq_lloyd(X: np.ndarray, m: int, k: int, iters: int, seed: int) -> np.ndarray:
    """Plain-L2 Lloyd (`_lloyd`) per subspace over the sample → (m, k,
    dim//m) codebooks, all subspaces drawing from one seeded generator.
    Shared with the DuckDB oracle builder."""
    X = X.astype(np.float64)
    sub = X.shape[1] // m
    rng = np.random.RandomState(seed)
    return np.stack([_lloyd(X[:, j * sub:(j + 1) * sub], k, iters, rng, "l2")
                     for j in range(m)])


def residualize(X: np.ndarray, cents: np.ndarray,
                metric: str = "l2") -> np.ndarray:
    """r = x − centroid(cell), the cell chosen by `_nearest` — the rule
    `_assign_cells` applies in Spark. Shared with the DuckDB oracle
    builder."""
    return X - cents[_nearest(X, cents, metric)]


def train_pq_codebooks(emb: DataFrame, m: int = 4, nbits: int = 4,
                       dim: int = 64, iters: int = 8, sample_n: int = 2048,
                       seed: int = 23, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       cents: "np.ndarray | None" = None,
                       metric: str = "l2") -> np.ndarray:
    """Driver-side PQ training on a bounded ordered sample (same policy as
    train_centroids_kmeans: quantizers train on a sample, never the
    corpus). With `cents` the books train on coarse-cell RESIDUALS
    (FAISS IndexIVFPQ proper); without, on the raw vectors."""
    X = _ordered_sample_np(emb, sample_n, id_col, vec_col)
    if cents is not None:
        X = residualize(X, cents, metric)
    return pq_lloyd(X, m, 2 ** nbits, iters, seed)


def _sq_terms(el: str, w_row, start: str = "0.0e0") -> str:
    """Left-associated sum of squared differences; `el` is a format string
    taking the 1-based element index."""
    total = start
    for t, w in enumerate(w_row):
        e = el.format(i=t + 1)
        total = f"({total} + (({e} - {_dlit(w)}) * ({e} - {_dlit(w)})))"
    return total


def _spark_cb_lit(cb_j: np.ndarray) -> str:
    return (
        "array("
        + ", ".join("array(" + ",".join(_dlit(x) for x in w) + ")" for w in cb_j)
        + ")"
    )


def pq_code_expr(cb_j: np.ndarray, j: int, vec: str, dialect: str) -> str:
    """SQL expression for subspace j's code: argmin over codewords of the
    exact squared L2 distance, ties → lowest code (struct ordering in both
    engines).

    Dialect forms differ in SHAPE but not arithmetic order (t ascending,
    strict left fold, (x−w)·(x−w) terms): the Spark side uses nested
    higher-order functions (transform over codewords + aggregate over
    dims) because a fully unrolled 16-codeword × 16-term expression blows
    a generated Java method past the 64 KB limit and drops the whole stage
    to interpreted mode; HOFs evaluate interpreted anyway, so the
    surrounding stage keeps whole-stage codegen. DuckDB has no such limit
    and takes the unrolled form."""
    k, sub = cb_j.shape
    if dialect == "spark":
        cb = _spark_cb_lit(cb_j)
        diff = (
            f"(element_at({vec}, {j * sub} + t) - "
            f"element_at(element_at({cb}, c + 1), t))"
        )
        dist = (
            f"aggregate(sequence(1, {sub}), 0.0e0, "
            f"(acc, t) -> acc + ({diff} * {diff}))"
        )
        return (
            f"array_min(transform(sequence(0, {k - 1}), "
            f"c -> named_struct('d', {dist}, 'c', c))).c"
        )
    structs = []
    for c, w in enumerate(cb_j):
        dist = _sq_terms(f"{vec}[{j * sub} + {{i}}]", w)
        structs.append((dist, c))
    arr = ", ".join("{" + f"'d': {d}, 'c': {c}" + "}" for d, c in structs)
    return f"list_sort([{arr}])[1].c"


def pq_adc_expr(codebooks: np.ndarray, q: str, code_prefix: str,
                dialect: str) -> str:
    """ADC total: Σ_j d²(q_j, codeword[code_j]) as one left-associated
    expression; the codeword is selected at runtime by indexing the literal
    codebook array with the row's code column."""
    total = "0.0e0"
    m, k, sub = codebooks.shape
    for j in range(m):
        if dialect == "spark":
            # HOF fold (see pq_code_expr: keeps generated Java under the
            # 64 KB method limit); same t-ascending strict order
            cw = f"element_at({_spark_cb_lit(codebooks[j])}, {code_prefix}{j} + 1)"
            diff = f"(element_at({q}, {j * sub} + t) - element_at({cw}, t))"
            d2 = (
                f"aggregate(sequence(1, {sub}), 0.0e0, "
                f"(acc, t) -> acc + ({diff} * {diff}))"
            )
        else:
            rows = ", ".join(
                "[" + ",".join(_dlit(x) for x in w) + "]" for w in codebooks[j]
            )
            cw = f"([{rows}])[{code_prefix}{j} + 1]"
            d2 = "0.0e0"
            for t in range(sub):
                a = f"{q}[{j * sub} + {t + 1}]"
                b = f"({cw})[{t + 1}]"
                d2 = f"({d2} + (({a} - {b}) * ({a} - {b})))"
        total = f"({total} + {d2})"
    return total


def pq_codes(emb: DataFrame, codebooks: np.ndarray, id_col: str = "vec_id",
             vec_col: str = "embedding",
             keep: "list[str] | None" = None) -> DataFrame:
    """(vec_id[, keep...], code_0..code_{m-1}) — the PQ-compressed corpus
    representation (m·nbits bits per vector of payload)."""
    m = codebooks.shape[0]
    base = emb.select(
        F.col(id_col), *[F.col(c) for c in (keep or [])],
        _as_double(vec_col).alias("v"),
    )
    return base.select(
        F.col(id_col), *[F.col(c) for c in (keep or [])],
        *[
            F.expr(pq_code_expr(codebooks[j], j, "v", "spark"))
            .cast("int").alias(f"code_{j}")
            for j in range(m)
        ],
    )


def ann_ivfpq_topk(emb: DataFrame, query_ids, k: int = 10, n_cells: int = 8,
                   n_probe: int = 2, m: int = 16, nbits: int = 4,
                   dim: int = 64, seed: int = 11,
                   codebooks: "np.ndarray | None" = None,
                   pq_iters: int = 16, pq_sample: int = 2048,
                   pq_seed: int = 23, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   residual: bool = True,
                   centroids: "np.ndarray | None" = None,
                   coarse_iters: int = 20,
                   coarse_metric: "str | None" = None) -> DataFrame:
    """Approximate L2 top-k via IVF-PQ: coarse cells restrict candidates;
    ranking uses ADC over the PQ codes — the corpus side carries ONLY
    (cell, m codes), never the vectors, which is the entire point at 10^12
    vectors (8-byte codes at m=16·nbits=4 vs 256-byte float64[64]).

    Default residual=True (FAISS IndexIVFPQ proper, Jégou TPAMI'11 §III):
    the coarse quantizer is L2 k-means (cells assigned by min L2 to MEAN
    centroids — see kmeans_lloyd_l2 on why the mean, not the spherical
    unit-norm centroid, is required for residuals to shrink variance),
    codes quantize r = x − centroid(cell), and the query is re-centered
    per probed cell before ADC; the re-centering is one broadcast-join
    zip_with per side — the corpus payload stays m·nbits bits.
    residual=False keeps the seeded spherical quantizer (dot assignment)
    and codes the raw vectors (FAISS by_residual=False).

    Returns (query_id, neighbor_id, adc, rank), adc rounded to 6 dp,
    ties → neighbor_id asc. `coarse_metric` overrides the assignment rule
    (defaults to the residual pairing) — e.g. residual=False with
    coarse_metric="l2" codes raw vectors over the SAME L2 cells, the
    controlled flat-vs-residual comparison ann_recall reports."""
    metric = coarse_metric or ("l2" if residual else "dot")
    # ONE ordered-sample collect feeds both quantizers: the coarse sample
    # (orderBy id, limit 10k) and the PQ sample (limit pq_sample) are
    # prefixes of the same ordering, so slicing one collect of the larger
    # is bit-identical to two collects — and halves the training jobs
    # (profiled: per-call training was ~45% of the r4 query wall)
    X = None
    if centroids is None or codebooks is None:
        X = _ordered_sample_np(emb, max(10_000, pq_sample), id_col, vec_col)
    if centroids is not None:
        cent_arr = centroids
    elif metric == "l2":
        cent_arr = kmeans_lloyd_l2(X[:10_000], n_cells, coarse_iters, seed)
    else:
        cent_arr = _centroids(n_cells, dim, seed)
    if codebooks is None:
        Xpq = X[:pq_sample]
        if residual:
            Xpq = residualize(Xpq, cent_arr, metric)
        codebooks = pq_lloyd(Xpq, m, 2 ** nbits, pq_iters, pq_seed)
    cents = _centroid_df(emb.sparkSession, cent_arr)
    # corpus takes the top-1 AGGREGATE path (no N×C window exchange+sort);
    # only the handful of query vectors pay the top-n_probe window
    corpus = _assign_cells(
        emb, n_cells, dim, seed, id_col, vec_col, top_n=1, cents=cents,
        metric=metric,
    ).select(F.col(id_col), "v", "cell")
    q_probed = _assign_cells(
        emb.filter(F.col(id_col).isin(list(query_ids))), n_cells, dim, seed,
        id_col, vec_col, top_n=n_probe, cents=cents, metric=metric,
    ).select(F.col(id_col).alias("query_id"), F.col("v").alias("q"), "cell")
    code_vec, adc_q = "v", "q"
    if residual:
        # re-center each side against its (probed) cell's centroid: a
        # broadcast join, then an elementwise zip_with — no fold, so both
        # engines subtract in identical IEEE order
        def recenter(df: DataFrame, vec: str) -> DataFrame:
            return df.join(F.broadcast(cents), "cell").withColumn(
                f"r{vec}", F.expr(f"zip_with({vec}, c, (a, b) -> a - b)")
            ).drop("c")

        corpus, q_probed = recenter(corpus, "v"), recenter(q_probed, "q")
        code_vec, adc_q = "rv", "rq"
    codes = pq_codes(
        corpus, codebooks, id_col, vec_col=code_vec, keep=["cell"]
    ).alias("c")
    q_probed = q_probed.alias("q")
    joined = codes.join(
        F.broadcast(q_probed), F.col("c.cell") == F.col("q.cell")
    ).filter(F.col(id_col) != F.col("query_id"))
    adc = F.expr(pq_adc_expr(codebooks, adc_q, "code_", "spark"))
    scored = joined.select(
        "query_id", F.col(id_col).alias("neighbor_id"), F.round(adc, 6).alias("adc")
    )
    return _topk(scored, k, "adc", ascending=True)


def semdedup(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
             n_cells: int = 8, dim: int = 64, threshold: float = 0.95,
             seed: int = 11, centroids=None,
             assigned: DataFrame | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and removing
    within-cluster items whose pairwise cosine exceeds `threshold`,
    keeping per duplicate group the exemplar with the LOWEST cosine to
    its own cluster centroid (the paper's §3 keep rule — the most
    peripheral member survives; ties break to the lowest id).

    Returns every input row: (vec_id, cell, cent_cos_e6, kept).

    Scale shape: the pairwise comparison is confined WITHIN k-means cells
    — the paper's trick: cluster count grows with the corpus so cell
    population stays bounded, turning all-pairs O(N²) into Σ|cell|².
    The cell self-join is an equi-join (hash shuffle on cell), the
    centroid table is a broadcast literal, components run on the tiny
    above-threshold pair list (ops.dedup.dup_components: a driver
    union-find under its pair bound, the O(log n) star contraction above
    it), and the keep rule is one min(struct) per component — no
    global all-pairs anywhere. Cosines are rounded to 6dp before the
    threshold compare so the decision is bit-identical across engines
    (same discipline as embedding_neardup_pairs).

    At scale the dominant term is the centroid ASSIGNMENT (N × n_cells
    dot-folds — measured 14× wall at 10× data in the sf1 scale step);
    pass `assigned` (a (id_col, cell) frame, e.g. `ivf_assign`'s output
    or the ANN index's stored cells) to reuse an assignment the pipeline
    already paid for."""
    from docling_spark.ops.dedup import dup_components

    spark = emb.sparkSession
    cents_np = centroids if centroids is not None else _centroids(n_cells, dim, seed)
    cents_df = _centroid_df(spark, cents_np)
    if assigned is not None:
        assigned = _vectors(emb, id_col, vec_col).join(
            assigned.select(id_col, "cell"), id_col)
    else:
        assigned = _assign_cells(emb, n_cells, dim, seed, id_col, vec_col,
                                 cents=cents_df, cents_np=cents_np)
    base = (
        assigned.join(F.broadcast(cents_df), "cell")
        .select(
            F.col(id_col), F.col("cell"), F.col("v"),
            # per-row norm BEFORE the self-join: higher-order fns evaluate
            # interpreted, so 3 folds/pair would dominate (the same lesson
            # embedding_neardup_pairs documents) — 1 fold/pair instead
            _norm("v").alias("vnorm"),
            F.round(_dot("v", "c") / F.sqrt(_dot("v", "v") * _dot("c", "c")), 6)
            .alias("cent_cos"),
        )
        .localCheckpoint(eager=False)  # reused 3× below; truncate lineage
    )
    a = base.select(F.col(id_col).alias("id_a"), "cell",
                    F.col("v").alias("va"), F.col("vnorm").alias("na"))
    b = base.select(F.col(id_col).alias("id_b"), "cell",
                    F.col("v").alias("vb"), F.col("vnorm").alias("nb"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _cosine("va", "vb", "na", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    member = dup_components(pairs).withColumnRenamed("doc_id", id_col)
    win = (
        base.join(member, id_col)
        .groupBy("component_id")
        .agg(F.min(F.struct("cent_cos", id_col)).alias("w"))
        .select("component_id", F.col(f"w.{id_col}").alias("keep_id"))
    )
    return (
        base.join(member, id_col, "left")
        .join(win, "component_id", "left")
        .select(
            F.col(id_col), F.col("cell"),
            F.floor(F.col("cent_cos") * 1_000_000).cast("long").alias("cent_cos_e6"),
            (F.col("component_id").isNull() | (F.col(id_col) == F.col("keep_id")))
            .alias("kept"),
        )
    )
