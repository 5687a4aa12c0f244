"""r17: _lloyd's chunked/threaded assignment + segmented reduceat must
reproduce the single-call formulation — chunking only changes which rows
share a BLAS call (per-row distances and argmin are row-independent) and
the in-place d build rounds identically ((g * -2) + c2 == c2 - 2*g in
IEEE).

Three tiers, by what holds where:

1. bitwise: pooled and serial fits equal the single-call reference bit
   for bit. Holds on the pinned OpenBLAS build only — another BLAS may
   round a row's distances differently when the rows of a gemm change,
   and one flipped near-tie argmin moves a centroid.
2. allclose: on data whose every assignment has a margin far above
   float32 rounding, the pooled fit matches the reference on any BLAS
   build (centroid sums are numpy reduceat over the same rows).
3. recall floor: on any BLAS build, IVF cells from the pooled fit keep
   recall@10 >= 0.8 against exact search (BASELINE's IVF quality floor).
"""

import numpy as np
import pytest

from indexlab_spark.operators.knn import _LLOYD_POOL_MIN, _lloyd

#: the BLAS build the bitwise tier was pinned on
PINNED_BLAS = ("openblas64", "0.3.23.dev")


def _blas() -> tuple:
    blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    return blas.get("name"), blas.get("version")


bitwise = pytest.mark.skipif(
    _blas() != PINNED_BLAS,
    reason=f"bitwise Lloyd parity is pinned on {PINNED_BLAS}, not {_blas()}",
)


def _lloyd_reference(train: np.ndarray, k: int, iters: int, rng) -> np.ndarray:
    """The pre-r17 single-call shape (full d matrix, one reduceat)."""
    train = train.astype(np.float32, copy=False)
    centers = train[rng.choice(len(train), size=k, replace=False)].copy()
    for _ in range(iters):
        d = (centers * centers).sum(1)[None, :] - 2.0 * (train @ centers.T)
        a = d.argmin(1)
        order = np.argsort(a, kind="stable")
        xs, asort = train[order], a[order]
        counts = np.bincount(asort, minlength=k)
        nz = np.flatnonzero(counts)
        starts = np.zeros(k, dtype=np.int64)
        starts[1:] = np.cumsum(counts)[:-1]
        centers[nz] = np.add.reduceat(xs, starts[nz], axis=0) / counts[nz, None]
    return centers


def _separated_blobs(n: int, k: int, dim: int, init_seed: int) -> np.ndarray:
    """n points in k blobs (spread 0.1, centers ~N(0, 10^2)) where the
    k points _lloyd's seeded init picks lie in k distinct blobs: every
    point is ~1.3 (squared) from its own centroid and ~1e4 from any
    other, so no BLAS rounding can change an assignment."""
    init = np.random.default_rng(init_seed).choice(n, size=k, replace=False)
    rng = np.random.default_rng(7)
    label = rng.integers(0, k, size=n)
    label[init] = np.arange(k)
    centers = rng.normal(scale=10.0, size=(k, dim))
    return centers[label] + rng.normal(scale=0.1, size=(n, dim))


@bitwise
def test_pooled_path_matches_reference():
    # 40003 x 64, k=250: n*k ~ 10M >> pool threshold; odd n exercises the
    # ragged last chunk, k=250 leaves empty cells most iterations
    train = np.random.default_rng(42).normal(size=(40003, 64))
    ref = _lloyd_reference(train, 250, 8, np.random.default_rng(11))
    got = _lloyd(train, 250, 8, np.random.default_rng(11))
    assert np.array_equal(ref, got)


@bitwise
def test_serial_small_fit_matches_reference():
    # PQ-codebook shape (n*k under the pool threshold -> single call)
    train = np.random.default_rng(1).normal(size=(2048, 8))
    ref = _lloyd_reference(train, 64, 8, np.random.default_rng(3))
    got = _lloyd(train, 64, 8, np.random.default_rng(3))
    assert np.array_equal(ref, got)


def test_pooled_path_allclose_on_separated_data():
    n, k = 40003, 100
    assert n * k >= _LLOYD_POOL_MIN  # the pooled path runs
    train = _separated_blobs(n, k, 64, init_seed=11)
    ref = _lloyd_reference(train, k, 8, np.random.default_rng(11))
    got = _lloyd(train, k, 8, np.random.default_rng(11))
    assert np.allclose(ref, got, rtol=1e-5, atol=1e-5)


def test_pooled_fit_recall_floor():
    rng = np.random.default_rng(5)
    blobs = rng.normal(size=(64, 32))
    corpus = blobs[rng.integers(0, 64, size=40003)] + rng.normal(
        scale=0.3, size=(40003, 32)
    )
    queries = corpus[rng.choice(len(corpus), size=50, replace=False)]
    queries = queries + rng.normal(scale=0.05, size=queries.shape)
    k, nlist, nprobe = 10, 64, 8
    assert len(corpus) * nlist >= _LLOYD_POOL_MIN  # the pooled path runs
    centers = _lloyd(corpus, nlist, 8, np.random.default_rng(3)).astype(np.float64)

    def nearest(x: np.ndarray) -> np.ndarray:
        return ((centers * centers).sum(1)[None, :] - 2.0 * (x @ centers.T)).argmin(1)

    cell = nearest(corpus)
    probe = np.argsort(
        (centers * centers).sum(1)[None, :] - 2.0 * (queries @ centers.T), axis=1
    )[:, :nprobe]
    dist = ((queries[:, None, :] - corpus[None, :, :]) ** 2).sum(2)
    hits = 0
    for qi in range(len(queries)):
        truth = np.argsort(dist[qi], kind="stable")[:k]
        cand = np.flatnonzero(np.isin(cell, probe[qi]))
        found = cand[np.argsort(dist[qi, cand], kind="stable")[:k]]
        hits += len(set(truth) & set(found))
    recall = hits / (k * len(queries))
    assert recall >= 0.8, f"IVF recall {recall}"
