"""Closed-form unit tests for the SOM NumPy kernels
(values hand-derived from the formulas at SOM.scala:272-290)."""

import math

import numpy as np
import pytest

from sparkml_som_spark.som import kernel as K


def test_grid_distances_2x3():
    d = K.grid_distances(2, 3)
    # cell 0=(0,0), cell 5=(1,2): manhattan = 1+2 = 3
    assert d[0, 5] == 3
    assert d[0, 0] == 0
    assert d[1, 3] == 2  # (0,1)->(1,0)
    assert (d == d.T).all()


def test_temperature_exponential():
    # T(it) = tMax * (tMin/tMax)^(it/(maxIter-1))
    assert K.temperature(0, 10, 10.0, 1.0, "exponential") == pytest.approx(10.0)
    assert K.temperature(9, 10, 10.0, 1.0, "exponential") == pytest.approx(1.0)
    assert K.temperature(4, 9, 10.0, 1.0, "exponential") == pytest.approx(10.0 * 0.1**0.5)


def test_temperature_linear():
    assert K.temperature(0, 5, 8.0, 2.0, "linear") == pytest.approx(8.0)
    assert K.temperature(4, 5, 8.0, 2.0, "linear") == pytest.approx(2.0)
    assert K.temperature(2, 5, 8.0, 2.0, "linear") == pytest.approx(5.0)


def test_temperature_maxiter_1_guard():
    # reference divides by maxIter-1 unguarded; we define frac=0
    assert K.temperature(0, 1, 10.0, 1.0, "exponential") == pytest.approx(10.0)


def test_neighborhood_gaussian():
    d = np.array([[0, 1], [1, 0]])
    w = K.neighborhood(d, 2.0, "gaussian")
    assert w[0, 0] == pytest.approx(1.0)
    assert w[0, 1] == pytest.approx(math.exp(-1.0 / 4.0))


def test_neighborhood_rectangular():
    d = np.array([[0, 1, 2]])
    w = K.neighborhood(d, 1.0, "rectangular")
    assert w.tolist() == [[1.0, 1.0, 0.0]]


def test_find_bmu_matches_bruteforce():
    rng = np.random.default_rng(7)
    x = rng.normal(size=(50, 8))
    cb = rng.normal(size=(12, 8))
    idx, d2 = K.find_bmu(x, cb)
    brute = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
    assert (idx == brute.argmin(axis=1)).all()
    np.testing.assert_allclose(d2, brute.min(axis=1), rtol=1e-10, atol=1e-9)


def test_partial_aggregate_scatter():
    x = np.array([[0.0, 0.0], [0.1, 0.0], [1.0, 1.0]])
    cb = np.array([[0.0, 0.0], [1.0, 1.0]])
    sums, counts, cost = K.partial_aggregate(x, cb, 2)
    assert counts.tolist() == [2, 1]
    np.testing.assert_allclose(sums[0], [0.1, 0.0])
    np.testing.assert_allclose(sums[1], [1.0, 1.0])
    assert cost == pytest.approx(0.01)


def test_smooth_update_hand_computed():
    # 2x1 grid, rectangular kernel T=0 => identity weights => plain k-means step
    cb = np.array([[0.0], [10.0]])
    sums = np.array([[2.0], [30.0]])
    counts = np.array([2, 3])
    w_id = K.neighborhood(K.grid_distances(2, 1), 0.0, "rectangular")
    new = K.smooth_update(cb, sums, counts, w_id)
    np.testing.assert_allclose(new, [[1.0], [10.0]])


def test_smooth_update_weighted():
    # 1x2 grid, gaussian T: new_k = (W@S)/(W@n)
    cb = np.array([[0.0], [1.0]])
    sums = np.array([[4.0], [10.0]])
    counts = np.array([2, 2])
    D = K.grid_distances(1, 2)
    W = K.neighborhood(D, 1.0, "gaussian")
    expected = (W @ sums) / (W @ counts.astype(float))[:, None]
    got = K.smooth_update(cb, sums, counts, W)
    np.testing.assert_allclose(got, expected)


def test_smooth_update_empty_cell_keeps_old():
    cb = np.array([[5.0], [7.0]])
    sums = np.array([[0.0], [3.0]])
    counts = np.array([0, 1])
    w_id = np.eye(2)
    new = K.smooth_update(cb, sums, counts, w_id)
    np.testing.assert_allclose(new, [[5.0], [3.0]])


def test_invalid_enums_raise():
    with pytest.raises(ValueError):
        K.temperature(0, 5, 1, 1, "nope")
    with pytest.raises(ValueError):
        K.neighborhood(np.zeros((1, 1)), 1.0, "nope")
    with pytest.raises(ValueError):
        K.grid_distances(2, 2, "triangular")


def test_hex_grid_distances_closed_form():
    """odd-r hex layout, 2x3 grid.  Hand-derived: cell 0=(r0,c0) has
    axial q=0,r=0; cell 4=(r1,c1) q=1,r=1 -> cube delta (1,-2,1) ->
    dist 2.  Every odd-row cell sits BETWEEN its two upper neighbours,
    so (0,0)->(1,0) and (0,1)->(1,0) are both distance 1."""
    d = K.grid_distances(2, 3, "hexagonal")
    assert d.shape == (6, 6)
    assert (d == d.T).all() and (np.diag(d) == 0).all()
    # row 0: cells 0,1,2; row 1 (shifted right): cells 3,4,5
    assert d[0, 1] == 1 and d[1, 2] == 1          # along a row
    assert d[0, 3] == 1 and d[1, 3] == 1          # both parents of cell 3
    assert d[0, 4] == 2                            # hand-derived cube dist
    assert d[2, 3] == 2                            # across the row shift
    # hex distance is never larger than rectangular Manhattan distance
    rect = K.grid_distances(2, 3, "rectangular")
    assert (d <= rect).all()


def test_hex_fit_runs_and_differs_from_rect():
    """End-to-end: hexagonal topology fits, converges, and yields a
    different neighborhood weighting than rectangular on the same data
    (the two metrics disagree on this grid)."""
    W_hex = K.neighborhood(K.grid_distances(2, 3, "hexagonal"), 1.5, "rectangular")
    W_rect = K.neighborhood(K.grid_distances(2, 3, "rectangular"), 1.5, "rectangular")
    assert W_hex.shape == W_rect.shape
    assert (W_hex != W_rect).any()


def test_hex_metric_properties():
    """Metric axioms on a larger hex grid: symmetry, identity,
    triangle inequality, and unit-distance neighborhoods of size
    <= 6 (interior cells have exactly 6 hex neighbours)."""
    H, W = 5, 7
    d = K.grid_distances(H, W, "hexagonal")
    n = H * W
    assert (d == d.T).all() and (np.diag(d) == 0).all()
    assert (d[~np.eye(n, dtype=bool)] > 0).all()
    # triangle inequality over all (i,j,k): d[i,k] <= d[i,j] + d[j,k]
    assert (d[:, None, :] <= d[:, :, None] + d[None, :, :]).all()
    # neighbour counts: interior cells have exactly 6 cells at distance 1
    counts = (d == 1).sum(axis=1)
    assert counts.max() == 6 and counts.min() >= 2


def test_find_bmu_top2_ordering():
    """top-2 BMUs: first is the argmin, second is the runner-up, and
    both agree with a brute-force sort."""
    rng = np.random.default_rng(3)
    x = rng.normal(size=(40, 6))
    cb = rng.normal(size=(9, 6))
    b1, b2 = K.find_bmu_top2(x, cb)
    d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
    order = d2.argsort(axis=1)
    assert (b1 == order[:, 0]).all()
    assert (b2 == order[:, 1]).all()


def test_toroidal_wrap_distances():
    """4x5 torus: opposite edges are adjacent; max distance is
    (H//2 + W//2); every cell sees an identical distance multiset
    (vertex-transitive graph)."""
    d = K.grid_distances(4, 5, "toroidal")
    # (0,0) to (3,0): 3 down, or 1 up with wrap -> 1
    assert d[0, 15] == 1
    # (0,0) to (0,4): 4 right, or 1 left with wrap -> 1
    assert d[0, 4] == 1
    # (0,0) to (2,2): no wrap helps -> 2 + 2
    assert d[0, 12] == 4
    assert d.max() == 4 // 2 + 5 // 2
    rows = [tuple(sorted(r)) for r in d]
    assert len(set(rows)) == 1  # vertex-transitive
    # metric axioms
    assert (d == d.T).all() and (np.diag(d) == 0).all()
    assert (d[:, None, :] <= d[:, :, None] + d[None, :, :]).all()


def test_toroidal_fit_end_to_end(spark_not_needed=None):
    """Neighborhood weights differ from flat rectangular (edge cells
    gain wrapped neighbors)."""
    W_tor = K.neighborhood(K.grid_distances(3, 4, "toroidal"), 1.0, "rectangular")
    W_rect = K.neighborhood(K.grid_distances(3, 4, "rectangular"), 1.0, "rectangular")
    assert (W_tor != W_rect).any()
    assert (W_tor.sum(axis=1) >= W_rect.sum(axis=1)).all()


@pytest.mark.parametrize("d", [3, 128])
@pytest.mark.parametrize(
    "n",
    [0, 1, K._BMU_CHUNK_ROWS - 1, K._BMU_CHUNK_ROWS, K._BMU_CHUNK_ROWS + 1, 10_000],
)
def test_find_bmu_chunked_bit_equal_to_full_matrix(n, d):
    """The row-chunked epilogue of `find_bmu` returns exactly what the
    full (n, k) `squared_distances` matrix + argmin returns, on both
    sides of every chunk boundary — with tied cells (a duplicated
    prototype: the first index must win) and rows sitting on a
    prototype (the clamp at 0)."""
    rng = np.random.default_rng(n * 131 + d)
    cb = rng.random((20, d))
    cb[7] = cb[3]
    x = rng.random((n, d))
    x[: min(n, 5)] = cb[3]
    cn2 = np.einsum("ij,ij->i", cb, cb)
    full = K.squared_distances(x, cb, cn2)
    want_idx = full.argmin(axis=1)
    want_d2 = full[np.arange(n), want_idx]
    for norms in (cn2, None):
        idx, d2 = K.find_bmu(x, cb, norms)
        assert idx.dtype == np.int64 and d2.dtype == np.float64
        assert idx.shape == d2.shape == (n,)
        assert np.array_equal(idx, want_idx)
        assert d2.tobytes() == want_d2.tobytes()
    assert 7 not in set(idx[: min(n, 5)].tolist())


@pytest.mark.parametrize("d", [3, 128])
@pytest.mark.parametrize(
    "n",
    [0, 1, K._BMU_CHUNK_ROWS - 1, K._BMU_CHUNK_ROWS, K._BMU_CHUNK_ROWS + 1, 10_000],
)
def test_partial_aggregate_bincount_bit_equal_to_add_at(n, d):
    """The flat-bincount scatter of `partial_aggregate` returns the same
    bits as the ``np.add.at`` row scatter it replaced, at every map size
    and value scale — with a -0.0 row (the +0.0 start must absorb it the
    same way) and a NaN row."""
    rng = np.random.default_rng(n * 7 + d)
    for k in (1, 100, 400):
        cb = rng.random((k, d))
        for scale in (1e-8, 1.0, 1e8):
            x = rng.normal(size=(n, d)) * scale
            if n > 2:
                x[1] = -0.0
                x[2] = np.nan
            idx, d2 = K.find_bmu(x, cb * scale)
            want = np.zeros((k, d))
            np.add.at(want, idx, x)
            sums, counts, cost = K.partial_aggregate(x, cb * scale, k)
            assert sums.shape == (k, d) and sums.dtype == np.float64
            assert sums.tobytes() == want.tobytes(), (k, scale)
            assert np.array_equal(counts, np.bincount(idx, minlength=k))
            assert np.float64(cost).tobytes() == np.float64(d2.sum()).tobytes()


def _reference_bmu(batch, codebook, code_norms2=None):
    """The full-matrix form `find_bmu` must equal: every cell's clamped
    ``squared_distances``, then a first-index argmin."""
    d2 = K.squared_distances(batch, codebook, code_norms2)
    idx = d2.argmin(axis=1)
    return idx, d2[np.arange(len(idx)), idx]


@pytest.mark.parametrize("scale", [1e-150, 1e-8, 1.0, 1e8, 1e150])
@pytest.mark.parametrize("k", [1, 20])
@pytest.mark.parametrize("n", [0, K._BMU_CHUNK_ROWS - 1, K._BMU_CHUNK_ROWS, K._BMU_CHUNK_ROWS + 1, 1_000])
def test_find_bmu_norm_free_argmin_bit_equal_across_scales(n, k, scale):
    """The norm-free argmin with the exact distance at the winner returns
    the bits of the full clamped matrix + argmin at every value scale —
    with a duplicated prototype (the first index wins), rows sitting on
    a prototype (the clamp at 0), a NaN row, a row whose norm overflows
    (every distance inf) and a row of signed zeros."""
    rng = np.random.default_rng(n * 31 + k)
    cb = rng.normal(size=(k, 3)) * scale
    if k > 7:
        cb[7] = cb[3]
    x = rng.normal(size=(n, 3)) * scale
    if n > 10:
        x[:4] = cb[min(3, k - 1)]
        x[5] = np.nan
        x[6] = 1e155
        x[7] = -0.0
    with np.errstate(over="ignore", invalid="ignore"):
        want_idx, want_d2 = _reference_bmu(x, cb)
        idx, d2 = K.find_bmu(x, cb)
    assert idx.dtype == np.int64 and d2.dtype == np.float64
    assert idx.shape == d2.shape == (n,)
    assert np.array_equal(idx, want_idx)
    assert d2.tobytes() == want_d2.tobytes()
    if n > 10:
        assert idx[5] == 0 and np.isnan(d2[5])
        assert idx[6] == 0 and d2[6] == np.inf
        if k > 7:
            assert 7 not in set(idx[:4].tolist())


def test_find_bmu_clamp_tie_keeps_the_first_cell():
    """Two distinct prototypes that both clamp to 0 for a row tie in the
    full form, so its argmin takes the first.  The norm-free form ranks
    the second lower by an ulp; the winner's clamped distance sends the
    row back through the full form, which keeps the first."""
    rng = np.random.default_rng(0)
    for _ in range(1_000):
        x = rng.random((1, 3))
        cb = x + rng.normal(size=(2, 3)) * 1e-9
        cn2 = np.einsum("ij,ij->i", cb, cb)
        norm_free = 0.5 * cn2 - (x @ cb.T)[0]
        if (K.squared_distances(x, cb, cn2) == 0).all() and norm_free[1] < norm_free[0]:
            break
    else:
        pytest.fail("no row with two clamped cells ranked apart by the norm-free form")
    assert not np.array_equal(cb[0], cb[1])
    idx, d2 = K.find_bmu(x, cb, cn2)
    assert idx.tolist() == [0] and d2.tolist() == [0.0]
    want_idx, want_d2 = _reference_bmu(x, cb, cn2)
    assert np.array_equal(idx, want_idx) and d2.tobytes() == want_d2.tobytes()


@pytest.mark.parametrize("seed", [41, 42, 43])
def test_main_shape_trajectory_bit_equal_to_reference_fold(seed, monkeypatch):
    """100 iterations of the reference ``Main`` shape (10k x 3 points, a
    10x10 Gaussian map, exponential decay) through the estimator's fold
    step give the same prototype and objective bytes as the same loop
    with `find_bmu` swapped for the full-matrix form."""
    from sparkml_som_spark.som.estimator import _fold_step

    rng = np.random.default_rng(seed)
    x = rng.random((10_000, 3))
    init = x[rng.integers(0, len(x), 100)]  # drawn with replacement, like takeSample
    grid = K.grid_distances(10, 10)
    zero = (np.zeros((100, 3)), np.zeros(100, dtype=np.int64), 0.0)

    def trajectory():
        cb, history = init, []
        for it in range(100):
            sums, counts, cost = _fold_step(zero, x, codebook=cb)
            weights = K.neighborhood(grid, K.temperature(it, 100, 10.0, 1.0, "exponential"), "gaussian")
            cb = K.smooth_update(cb, sums, counts, weights)
            history.append(cost)
        return cb, np.asarray(history)

    got_cb, got_history = trajectory()
    monkeypatch.setattr(K, "find_bmu", _reference_bmu)
    want_cb, want_history = trajectory()
    assert got_cb.tobytes() == want_cb.tobytes()
    assert got_history.tobytes() == want_history.tobytes()
