"""NumPy kernels for the batch Self-Organizing Map.

These replace the reference's per-row Scala paths with batched linear
algebra (reference: BMU search `SOM.scala:306-326`, distance identity
`MLUtils.scala:51-89`, neighborhood/decay scalars `SOM.scala:272-290`,
topology-weighted update `SOM.scala:219-244`). One GEMM per Arrow batch
replaces the per-pair distances; the BMU search then ranks cells by the
norm-free ``|c|^2/2 - x.c`` and computes the exact
``|x|^2 + |c|^2 - 2*x.c`` distance, clamped at 0 like the reference's
precision guard (`MLUtils.scala:79`), only at each row's winning cell:
the batched form of the reference's pruned `findClosest`, which computes
the full distance only for cells its norm bound cannot rule out.
"""

from __future__ import annotations

import numpy as np

VALID_TOPOLOGIES = ("rectangular", "hexagonal", "toroidal")
VALID_KERNELS = ("gaussian", "rectangular")
VALID_DECAYS = ("exponential", "linear")


def grid_distances(height: int, width: int, topology: str = "rectangular") -> np.ndarray:
    """(H*W, H*W) grid distance between flattened cells.

    rectangular: Manhattan distance, mirroring `cellDist`
    (`SOM.scala:288-290`): cell id -> (id // width, id % width).

    hexagonal: odd-r offset layout (odd rows shifted right half a cell),
    hex distance via the standard cube-coordinate identity
    max(|dx|, |dy|, |dz|).  The reference declares this topology as
    planned-but-absent (`SOMParams.scala:63` "hexagonal will soon be
    added"); implementing it here closes that stated gap.

    toroidal: Manhattan distance with wrap-around on both axes (the
    borderless variant from the SOM literature — edge cells get full
    neighborhoods, removing the classic border-effect distortion).

    Computed once per fit, not per pair.
    """
    if topology not in VALID_TOPOLOGIES:
        raise ValueError(f"unknown topology {topology!r}; expected one of {VALID_TOPOLOGIES}")
    ids = np.arange(height * width)
    rows = ids // width
    cols = ids % width
    if topology in ("rectangular", "toroidal"):
        dr = np.abs(rows[:, None] - rows[None, :])
        dc = np.abs(cols[:, None] - cols[None, :])
        if topology == "toroidal":
            dr = np.minimum(dr, height - dr)
            dc = np.minimum(dc, width - dc)
        return (dr + dc).astype(np.int64)
    # odd-r offset -> axial (q, r) -> cube (x, y, z); dist = max(|d_cube|)
    q = cols - (rows - (rows & 1)) // 2
    x, z = q, rows
    y = -x - z
    dx = np.abs(x[:, None] - x[None, :])
    dy = np.abs(y[:, None] - y[None, :])
    dz = np.abs(z[:, None] - z[None, :])
    return np.maximum(np.maximum(dx, dy), dz).astype(np.int64)


def temperature(it: int, max_iter: int, t_max: float, t_min: float, decay: str) -> float:
    """Temperature at iteration ``it`` (0-based).

    Reference formulas at `SOM.scala:272-275`. The reference divides by
    ``maxIter - 1`` unguarded (div-by-zero for maxIter=1); we guard and
    define maxIter=1 => T = t_max (iteration fraction 0).
    """
    if decay not in VALID_DECAYS:
        raise ValueError(f"unknown decay {decay!r}; expected one of {VALID_DECAYS}")
    frac = 0.0 if max_iter <= 1 else it / (max_iter - 1)
    if decay == "exponential":
        return float(t_max * (t_min / t_max) ** frac)
    return float(t_max + frac * (t_min - t_max))


def neighborhood(dists: np.ndarray, temp: float, kernel: str) -> np.ndarray:
    """Neighborhood weight matrix K(grid_dist, T) (`SOM.scala:280-283`)."""
    if kernel not in VALID_KERNELS:
        raise ValueError(f"unknown kernel {kernel!r}; expected one of {VALID_KERNELS}")
    d = dists.astype(np.float64)
    if kernel == "gaussian":
        return np.exp(-(d * d) / (temp * temp))
    return (d <= temp).astype(np.float64)


def squared_distances(batch: np.ndarray, codebook: np.ndarray, code_norms2: np.ndarray | None = None) -> np.ndarray:
    """(n, k) squared euclidean distances via the GEMM identity.

    Same identity as `MLUtils.fastSquaredDistance` (`MLUtils.scala:51-89`),
    negative-clamped like its precision guard.
    """
    if code_norms2 is None:
        code_norms2 = np.einsum("ij,ij->i", codebook, codebook)
    x_norms2 = np.einsum("ij,ij->i", batch, batch)
    d2 = x_norms2[:, None] + code_norms2[None, :] - 2.0 * (batch @ codebook.T)
    np.maximum(d2, 0.0, out=d2)
    return d2


# Rows per chunk of the argmin pass in `find_bmu`: the (chunk, k)
# float64 buffers stay cache-resident for the k of a typical map (256
# rows x 100 cells = 200 KB each; 256 beat 512/1024/2048 rows at k=100
# and k=400 on a 4-core x86 host, and 128-512 rows read within noise of
# 256 for the norm-free argmin), where the unchunked form streams and
# page-faults fresh (n, k) temporaries on every call.
_BMU_CHUNK_ROWS = 256


def find_bmu(batch: np.ndarray, codebook: np.ndarray, code_norms2: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Best-matching-unit index + squared distance for each row.

    Batched replacement for `SOM.findClosest` (`SOM.scala:306-326`).
    Returns (bmu_idx int64 (n,), min_d2 float64 (n,)).

    The reference prunes every cell that cannot win with the bound
    ``(|x| - |c|)^2 <= |x - c|^2`` and computes the full distance only
    for the survivors.  This is its batched form: one GEMM
    ``g = batch @ codebook.T`` over the whole batch, then per row
    chunk a norm-free argmin of ``|c|^2/2 - g`` (one subtract from a
    pre-broadcast ``|c|^2/2`` tile into a reused buffer; halving is
    exact, so it ranks cells as ``|c|^2 - 2g`` does, and ``|x|^2`` is
    the same for every cell of a row).  The exact distance is computed
    only at the winning cell, with the per-element operations of
    ``squared_distances``: ``max((|c|^2 + |x|^2) - 2.0 * g, 0)``.

    A row whose winning distance is not finite and positive (it clamped
    to 0, is NaN, or overflowed) is redone over its full row in that
    form, so clamp ties and NaN rows keep that form's first-index argmin.  The
    result then equals ``squared_distances`` followed by an argmin, bit
    for bit, except where two cells' distances for a row lie within a
    few ulps of ``(|x| + max|c|)^2``: the rounding of ``|c|^2 + |x|^2``
    can order such a pair differently from the norm-free form.
    """
    if code_norms2 is None:
        code_norms2 = np.einsum("ij,ij->i", codebook, codebook)
    x_norms2 = np.einsum("ij,ij->i", batch, batch)
    g = batch @ codebook.T
    n, k = g.shape
    idx = np.empty(n, dtype=np.int64)
    rows = max(1, min(n, _BMU_CHUNK_ROWS))
    half_tile = np.empty((rows, k), dtype=np.float64)
    half_tile[:] = 0.5 * code_norms2
    s_buf = np.empty((rows, k), dtype=np.float64)
    for lo in range(0, n, rows):
        hi = min(lo + rows, n)
        s = s_buf[: hi - lo]
        np.subtract(half_tile[: hi - lo], g[lo:hi], out=s)
        s.argmin(axis=1, out=idx[lo:hi])
    min_d2 = (code_norms2[idx] + x_norms2) - 2.0 * g[np.arange(n), idx]
    np.maximum(min_d2, 0.0, out=min_d2)
    redo = np.flatnonzero(~((min_d2 > 0.0) & (min_d2 < np.inf)))
    if redo.size:
        d2 = (code_norms2 + x_norms2[redo, None]) - 2.0 * g[redo]
        np.maximum(d2, 0.0, out=d2)
        idx[redo] = d2.argmin(axis=1)
        min_d2[redo] = d2[np.arange(redo.size), idx[redo]]
    return idx, min_d2


def partial_aggregate(batch: np.ndarray, codebook: np.ndarray, n_cells: int, code_norms2: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray, float]:
    """One partition-local combine step (`SOM.scala:192-209` analog).

    Returns (sums (n_cells, d), counts (n_cells,), cost) for this batch:
    scatter-add of each point into its BMU cell + accumulated
    quantization cost.  The scatter is one flat bincount over (cell,
    feature) keys, as in `partial_aggregate_sparse`: it adds each bin's
    terms in input order from +0.0, as ``np.add.at`` does, so the bits
    are the same at ~3x the speed.
    """
    idx, d2 = find_bmu(batch, codebook, code_norms2)
    d = batch.shape[1]
    flat = (idx[:, None] * d + np.arange(d)).ravel()
    # astype: bincount of an empty input is int64 even with weights
    sums = np.bincount(flat, weights=batch.ravel(), minlength=n_cells * d)
    sums = sums.astype(np.float64, copy=False).reshape(n_cells, d)
    counts = np.bincount(idx, minlength=n_cells).astype(np.int64)
    return sums, counts, float(d2.sum())


# --- sparse blocks -----------------------------------------------------
# A sparse block is a CSR-shaped tuple (indptr, indices, values, n, d) of
# plain NumPy arrays (the container has no scipy; bincount-based segment
# ops below are C-speed and allocation-bounded).  Parity target: the
# reference's sparse-aware BLAS/distance code (`BLAS.scala:73-92,133-175`,
# `MLUtils.scala:77-84`) — same math, batched instead of per-row.

SparseBlock = tuple  # (indptr i64 (n+1,), indices i64 (nnz,), values f64 (nnz,), n, d)


def is_sparse_block(block) -> bool:
    return isinstance(block, tuple)


def _sparse_squared_distances(
    block: SparseBlock, codebook: np.ndarray, code_norms2: np.ndarray | None = None
) -> np.ndarray:
    """(n, k) squared distances for a CSR block against a dense codebook.

    Same ``|x|^2 + |c|^2 - 2 x.c`` identity as the dense kernel; the
    cross term X @ C.T is computed as k bincount-weighted gathers over
    the nnz entries — O(k * nnz), no densification of X.
    """
    indptr, indices, values, n, _d = block
    if code_norms2 is None:
        code_norms2 = np.einsum("ij,ij->i", codebook, codebook)
    k = codebook.shape[0]
    row_ids = np.repeat(np.arange(n), np.diff(indptr))
    G = np.empty((n, k), dtype=np.float64)
    for j in range(k):
        G[:, j] = np.bincount(row_ids, weights=values * codebook[j, indices], minlength=n)
    x_norms2 = np.bincount(row_ids, weights=values * values, minlength=n)
    d2 = x_norms2[:, None] + code_norms2[None, :] - 2.0 * G
    np.maximum(d2, 0.0, out=d2)
    return d2


def find_bmu_sparse(
    block: SparseBlock, codebook: np.ndarray, code_norms2: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """BMU index + squared distance per row of a CSR block."""
    d2 = _sparse_squared_distances(block, codebook, code_norms2)
    idx = d2.argmin(axis=1)
    return idx, d2[np.arange(len(idx)), idx]


def partial_aggregate_sparse(
    block: SparseBlock,
    codebook: np.ndarray,
    n_cells: int,
    code_norms2: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, float]:
    """Sparse twin of `partial_aggregate`: scatter-add the CSR rows into
    their BMU cells via one flat bincount over (cell, feature) keys.
    Output (sums, counts, cost) is identical in shape and meaning to the
    dense path, so the combine/update stages need no changes."""
    indptr, indices, values, n, d = block
    idx, min_d2 = find_bmu_sparse(block, codebook, code_norms2)
    row_ids = np.repeat(np.arange(n), np.diff(indptr))
    flat = idx[row_ids].astype(np.int64) * d + indices
    sums = np.bincount(flat, weights=values, minlength=n_cells * d).reshape(n_cells, d)
    counts = np.bincount(idx, minlength=n_cells).astype(np.int64)
    return sums, counts, float(min_d2.sum())


def aggregate_block(
    block, codebook: np.ndarray, n_cells: int, code_norms2: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, float]:
    """Dispatch a dense ndarray or CSR tuple block to its kernel."""
    if is_sparse_block(block):
        return partial_aggregate_sparse(block, codebook, n_cells, code_norms2)
    return partial_aggregate(block, codebook, n_cells, code_norms2)


def smooth_update(
    codebook: np.ndarray,
    sums: np.ndarray,
    counts: np.ndarray,
    weights: np.ndarray,
) -> np.ndarray:
    """Topology-weighted codebook update (`SOM.scala:219-244`):

        c_k <- (sum_j W[k,j] * sums_j) / (sum_j W[k,j] * counts_j)

    Cells whose weighted count is 0 (possible only with the rectangular
    kernel and an empty neighborhood) keep their previous vector — the
    reference would divide by zero there; keeping the old vector is the
    documented divergence.
    """
    num = weights @ sums
    den = weights @ counts.astype(np.float64)
    new_codebook = codebook.copy()
    nz = den > 0
    new_codebook[nz] = num[nz] / den[nz, None]
    return new_codebook


def max_movement2(old: np.ndarray, new: np.ndarray) -> float:
    """Max squared prototype displacement — convergence stat (`SOM.scala:240-242`)."""
    return float(((new - old) ** 2).sum(axis=1).max())


def find_bmu_top2(batch: np.ndarray, codebook: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """First- and second-best matching unit per row (for topographic
    error: are BMU1 and BMU2 grid-adjacent?).  argpartition keeps it
    O(n*k) instead of a full sort."""
    d2 = squared_distances(batch, codebook)
    top2 = np.argpartition(d2, 1, axis=1)[:, :2]
    # argpartition does not order the two; fix with a comparison
    row = np.arange(len(d2))
    swap = d2[row, top2[:, 0]] > d2[row, top2[:, 1]]
    top2[swap] = top2[swap][:, ::-1]
    return top2[:, 0], top2[:, 1]
