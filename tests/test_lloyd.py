"""Spark-free pins of the shared Lloyd loop: `kmeans_lloyd`,
`kmeans_lloyd_l2` and `pq_lloyd` must stay bit-identical to the boolean-mask
loops they replaced (kept below as the reference), because the DuckDB
oracle builders and the Spark queries train their quantizers with them."""

import numpy as np
import pytest

from docling_spark.ops.similarity import (
    group_centroids, kmeans_lloyd, kmeans_lloyd_l2, pq_lloyd, residualize)


def _ref_kmeans(X, n_cells, iters, seed, spherical):
    X = X.astype(np.float64)
    if spherical:
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=n_cells, replace=False)].copy()
    for _ in range(iters):
        if spherical:
            assign = np.argmax(X @ cents.T, axis=1)
        else:
            assign = np.argmin(((X[:, None] - cents[None]) ** 2).sum(-1), axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
            else:
                cents[c] = X[rng.randint(len(X))]
        if spherical:
            cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    return cents


def _ref_pq(X, m, k, iters, seed):
    X = X.astype(np.float64)
    n, dim = X.shape
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, sub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * sub:(j + 1) * sub]
        cents = S[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            assign = np.argmin(((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
                else:
                    cents[c] = S[rng.randint(n)]
        books[j] = cents
    return books


def _sample(seed):
    rng = np.random.RandomState(seed)
    X = rng.randn(120, 16)
    if seed % 3 == 0:
        # half the sample is one repeated row: cells collapse onto it and
        # the empty-cell re-seed runs
        X[:60] = X[0]
    return X


@pytest.mark.parametrize("seed", range(12))
@pytest.mark.parametrize("k", [4, 16])
def test_lloyd_loops_match_mask_reference(seed, k):
    X = _sample(seed)
    assert np.array_equal(kmeans_lloyd(X, k, 6, seed), _ref_kmeans(X, k, 6, seed, True))
    assert np.array_equal(kmeans_lloyd_l2(X, k, 6, seed), _ref_kmeans(X, k, 6, seed, False))
    assert np.array_equal(pq_lloyd(X, 4, k, 6, seed), _ref_pq(X, 4, k, 6, seed))


def test_reference_reaches_an_empty_cell():
    # guards the test above: with a duplicated half-sample some round of
    # the reference loop leaves a cell empty
    X = _sample(0)
    rng = np.random.RandomState(0)
    cents = X[rng.choice(len(X), size=16, replace=False)].copy()
    assign = np.argmin(((X[:, None] - cents[None]) ** 2).sum(-1), axis=1)
    assert len(np.unique(assign)) < 16


@pytest.mark.parametrize("metric", ["dot", "l2"])
def test_group_centroids_and_residualize_follow_the_rule(metric):
    X = _sample(4)
    cents = _ref_kmeans(X, 16, 5, 11, metric == "dot")
    coarse, child_of = group_centroids(cents, metric=metric, seed=11)
    if metric == "l2":
        near = np.argmin(((cents[:, None] - coarse[None]) ** 2).sum(-1), axis=1)
        own = np.argmin(((X[:, None] - cents[None]) ** 2).sum(-1), axis=1)
    else:
        near = np.argmax(cents @ coarse.T, axis=1)
        own = np.argmax(X @ cents.T, axis=1)
    assert np.array_equal(child_of, near)
    assert np.array_equal(residualize(X, cents, metric), X - cents[own])
