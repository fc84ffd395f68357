"""Quantile regression kernel (SURVEY M4).

Reference: /root/reference/oaxaca_blinder/src/math/quantile_regression.rs
formulates the check-loss minimization as an LP (min tau*1'u + (1-tau)*1'v
s.t. X beta + u - v = y) solved by the Clarabel interior-point solver.

There is no LP solver here (no scipy). ``solve_qr_exact`` reaches the same
LP optimum as a vertex: an optimal basic solution passes through k data
points, and a basis-exchange simplex with Barrodale-Roberts line-search
pivots (Koenker & d'Orey's ``rq.fit.br``) walks to it from the OLS plane and
certifies it by the one-sided derivative along every edge. ``solve_qr`` is
iteratively reweighted least squares (the MM algorithm statsmodels' QuantReg
uses): it attains the optimal check loss on well-posed problems, but its
argmin can wander a flat optimal face, so it serves only as the start of the
exact solver's fallback path for degenerate vertices.
"""

from __future__ import annotations

import numpy as np

__all__ = ["solve_qr", "solve_qr_exact", "exact_n_index", "exact_n_counts", "tol_scale"]

# Worker-side memo for deterministic resample multiplicities: Spark reuses
# Python workers across mapInPandas passes (spark.python.worker.reuse), so
# every partition and pass of the distributed Machado-Mata engine after the
# first in a worker hits this cache instead of redrawing n integers per
# (replicate, side). int32 counts keep the cache at ~4 MB per million rows
# per key; the size cap bounds worker memory.
_COUNTS_CACHE: dict[tuple, np.ndarray] = {}
_COUNTS_CACHE_MAX = 256


def exact_n_index(seed: int, rep: int, side: int, n: int) -> np.ndarray:
    """Row ranks of the deterministic exact-n bootstrap resample of one
    (replicate, side): ``default_rng([seed, 11, rep, side]).integers(0, n, n)``.
    The Machado-Mata driver engine fits the materialized resample, and both
    engines translate simulation picks back to original rows through it."""
    return np.random.default_rng([int(seed), 11, int(rep), int(side)]).integers(0, n, size=n)


def exact_n_counts(seed: int, rep: int, side: int, n: int) -> np.ndarray:
    """Multiplicity vector of ``exact_n_index``: a weighted fit with these
    multiplicities is the identical estimator to fitting the materialized
    resample, so the distributed Machado-Mata engine weights its rows
    instead of copying them (the glob sums and the band rows' counts).
    """
    key = (int(seed), int(rep), int(side), int(n))
    c = _COUNTS_CACHE.get(key)
    if c is None:
        c = np.bincount(exact_n_index(*key), minlength=n).astype(np.int32)
        if len(_COUNTS_CACHE) >= _COUNTS_CACHE_MAX:
            _COUNTS_CACHE.clear()
        _COUNTS_CACHE[key] = c
    return c


def solve_qr(
    X: np.ndarray,
    y: np.ndarray,
    tau: float,
    max_iter: int = 200,
    tol: float = 1e-8,
    eps: float = 1e-9,
) -> np.ndarray:
    """Minimize sum rho_tau(y - X beta) by IRLS. Raises ValueError on bad
    input and RuntimeError when a weighted solve fails or diverges."""
    n, k = X.shape
    if len(y) != n:
        raise ValueError("Input dimensions mismatch: X and y must have the same number of observations.")
    if not 0.0 <= tau <= 1.0:
        raise ValueError("Tau must be between 0 and 1.")
    # start from OLS
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    for _ in range(max_iter):
        r = y - X @ beta
        absr = np.maximum(np.abs(r), eps)
        w = np.where(r > 0, tau, 1.0 - tau) / absr
        XtW = X.T * w
        A = XtW @ X
        b = XtW @ y
        try:
            beta_new = np.linalg.solve(A + 1e-12 * np.eye(k), b)
        except np.linalg.LinAlgError as e:
            raise RuntimeError("QR IRLS solve failed (singular design)") from e
        if np.max(np.abs(beta_new - beta)) < tol:
            beta = beta_new
            break
        beta = beta_new
    if not np.all(np.isfinite(beta)):
        raise RuntimeError("QR IRLS diverged")
    return beta


def _check_loss(X: np.ndarray, y: np.ndarray, beta: np.ndarray, tau: float) -> float:
    r = y - X @ beta
    return float(np.sum(np.where(r >= 0, tau * r, (tau - 1.0) * r)))


def _independent_rows(X: np.ndarray, order: np.ndarray, k: int) -> np.ndarray | None:
    """The first k linearly independent rows of X taken in ``order``
    (Gram-Schmidt on the candidates), or None when they span less than k."""
    basis: list[int] = []
    U = np.zeros((k, k))  # orthonormal rows spanning chosen x_i's
    nu = 0
    for i in order:
        xi = X[i]
        proj = xi - U[:nu].T @ (U[:nu] @ xi)
        nrm = np.linalg.norm(proj)
        if nrm > 1e-10 * max(np.linalg.norm(xi), 1.0):
            U[nu] = proj / nrm
            nu += 1
            basis.append(int(i))
            if nu == k:
                return np.array(basis)
    return None


def _smallest(v: np.ndarray, m: int) -> np.ndarray:
    """Indices of the m smallest entries of v in increasing order (ties by
    index), selected with ``argpartition`` rather than a full sort."""
    idx = np.argpartition(v, m - 1)[:m] if m < len(v) else np.arange(len(v))
    return idx[np.lexsort((idx, v[idx]))]


def _one_sided(delta: np.ndarray, tau: float) -> np.ndarray:
    """Per-column slope of the check loss of residuals sitting at zero that
    move by ``delta`` per unit step: tau upward, tau-1 downward."""
    return np.sum(np.where(delta > 0, tau * delta, (tau - 1.0) * delta), axis=0)


def tol_scale(y: np.ndarray) -> float:
    """Scale of the zero and gradient tolerances: max(median |y|, 1). A
    max-|y| scale lets one large outcome (an outlier, or a summed glob row)
    widen the tolerances until ordinary rows count as on the plane, and the
    solve then certifies a worse vertex."""
    return max(float(np.median(np.abs(y))), 1.0)


def _line_search_vertex(X: np.ndarray, y: np.ndarray, tau: float, max_pivots: int):
    """Basis exchange from the OLS plane with line-search pivots. Returns the
    certified ``(beta, basis)``, or None on a degenerate vertex or any bail
    (rank deficiency, singular basis, unbounded edge, pivot budget)."""
    n, k = X.shape
    scale = tol_scale(y)
    ztol = gtol = 1e-9 * scale
    try:
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    except np.linalg.LinAlgError:
        return None
    if not np.all(np.isfinite(beta)):
        return None

    # k independent rows nearest the OLS plane, from a growing nearest prefix
    absr = np.abs(y - X @ beta)
    m = min(n, 4 * k)
    while True:
        B = _independent_rows(X, _smallest(absr, m), k)
        if B is not None or m == n:
            break
        m = min(n, 4 * m)
    if B is None:
        return None

    for _ in range(max_pivots):
        XB = X[B]
        try:
            beta = np.linalg.solve(XB, y[B])
            Binv = np.linalg.inv(XB)
        except np.linalg.LinAlgError:
            return None
        r = y - X @ beta
        r[B] = 0.0
        on_plane = np.abs(r) <= ztol
        # slope along +-edge j (the +-j-th column of Binv): residuals change
        # by delta = -+X @ Binv[:, j]; off the plane the slope is the signed
        # weight w (tau above, tau-1 below) times delta, so one product
        # (w @ X) @ Binv covers them; on the plane it is one-sided
        w = np.where(r > 0, tau, tau - 1.0)
        w[on_plane] = 0.0
        wD = (w @ X) @ Binv
        DZ = X[on_plane] @ Binv
        grads = np.concatenate([_one_sided(-DZ, tau) - wD, _one_sided(DZ, tau) + wD])
        jmin = int(np.argmin(grads))
        if grads[jmin] >= -gtol:
            # the 2k edges certify only a simple vertex: every point on the
            # plane must copy a basis row (its row of X @ Binv a unit vector)
            unit = (np.abs(np.abs(DZ).sum(axis=1) - 1.0) <= 1e-9) & (np.abs(DZ.max(axis=1) - 1.0) <= 1e-9)
            return (beta, B) if unit.all() else None
        s = 1.0 if jmin < k else -1.0
        j = jmin % k
        delta = -s * (X @ Binv[:, j])
        # line search: pass crossings in step order, each adding |delta_i|
        # to the slope; the row where the slope turns non-negative enters
        cross = np.flatnonzero((r * delta < 0) & ~on_plane)
        if cross.size == 0:
            return None  # unbounded edge
        t = -r[cross] / delta[cross]
        gain = np.abs(delta[cross])
        need = -grads[jmin] - gtol
        m = min(cross.size, 64)
        while True:
            first = _smallest(t, m)
            hit = int(np.searchsorted(np.cumsum(gain[first]), need))
            if hit < m:
                B[j] = cross[first[hit]]
                break
            if m == cross.size:
                return None  # the slope stays negative: unbounded edge
            m = min(cross.size, 2 * m)
    return None


def _nearest_crossing_vertex(X: np.ndarray, y: np.ndarray, tau: float, max_pivots: int):
    """IRLS warm start, then pivots to the nearest residual-zero crossing:
    the fallback for degenerate vertices. Returns ``(beta, basis)`` with
    ``basis`` None on its bail paths, where beta is the IRLS solution or the
    best vertex visited."""
    k = X.shape[1]
    beta = solve_qr(X, y, tau)
    scale = tol_scale(y)
    ztol = 1e-9 * scale

    B = _independent_rows(X, np.argsort(np.abs(y - X @ beta), kind="stable"), k)
    if B is None:
        return beta, None  # rank-deficient design: keep the IRLS solution

    best_beta, best_obj = beta, _check_loss(X, y, beta, tau)
    for _ in range(max_pivots):
        XB = X[B]
        try:
            beta = np.linalg.solve(XB, y[B])
            Binv = np.linalg.inv(XB)
        except np.linalg.LinAlgError:
            return best_beta, None
        obj = _check_loss(X, y, beta, tau)
        if obj < best_obj:
            best_obj, best_beta = obj, beta
        r = y - X @ beta
        r[B] = 0.0
        D = X @ Binv  # D[i, j] = x_i . (j-th edge direction)
        # derivative of the objective along +-edge j per unit step:
        # residual change delta_i = -s * D[i, j]; slope tau on the r>0 side,
        # (tau-1) on the r<0 side, one-sided at r=0.
        grads = np.empty(2 * k)
        for s_idx, s in enumerate((1.0, -1.0)):
            delta = -s * D
            up = (r > ztol)[:, None] | ((np.abs(r) <= ztol)[:, None] & (delta > 0))
            grads[s_idx * k:(s_idx + 1) * k] = np.sum(
                np.where(up, tau * delta, (tau - 1.0) * delta), axis=0
            )
        jmin = int(np.argmin(grads))
        if grads[jmin] >= -1e-9 * scale:
            return beta, B.copy()  # every edge ascends: LP optimum certified
        s = 1.0 if jmin < k else -1.0
        j = jmin % k
        delta = -s * D[:, j]
        # ratio test: nearest nonbasis residual-zero crossing along the edge
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where((r * delta < 0) & (np.abs(delta) > 1e-12), -r / delta, np.inf)
        t[B] = np.inf
        enter = int(np.argmin(t))
        if not np.isfinite(t[enter]):
            return best_beta, None  # unbounded edge: numerically degenerate, bail
        B[j] = enter
    return best_beta, None


def solve_qr_exact(
    X: np.ndarray,
    y: np.ndarray,
    tau: float,
    max_pivots: int = 500,
    return_basis: bool = False,
):
    """Exact LP-vertex quantile regression (the reference's semantics).

    quantile_regression.rs:22-129 solves min sum rho_tau(y - X beta) as an
    LP with an interior-point solver. Here a basis-exchange simplex on the
    polyhedral complex: an optimal basic solution passes through k data
    points, so keep a nonsingular k-row basis, take the one-sided
    directional derivative along every edge direction (+-columns of
    inv(X_B)), and pivot along the steepest descending edge until every edge
    derivative is nonnegative, which certifies the LP optimum (convex
    piecewise-linear objective). Exact up to solve() roundoff, unlike IRLS
    whose argmin can wander a near-flat optimal face.

    The path starts from the OLS plane (the k independent rows nearest it)
    and pivots by line search: along the chosen edge it steps past residual
    crossings while the slope stays negative (Barrodale-Roberts), so a few
    pivots reach the optimum. The 2k-edge test certifies only a simple
    vertex, so the certificate counts only when every point on the plane
    copies a basis row (resampled duplicates are fine). On a degenerate
    vertex (k+1 or more distinct points on the plane), and on every bail
    path, the solve falls back to an IRLS start (``solve_qr``) with
    nearest-crossing pivots.

    With ``return_basis=True`` returns ``(beta, basis)`` where ``basis`` is
    the certified k-row optimal basis (row indices into X) — or ``None`` on
    the fallback's uncertified bail paths (rank deficiency, numeric
    degeneracy, pivot budget). The SQL vertex-enumeration oracle
    (mm_qr_vertex) uses the basis to canonicalize the optimal line from its
    two data points.
    """
    if len(y) != X.shape[0]:
        raise ValueError("Input dimensions mismatch: X and y must have the same number of observations.")
    if not 0.0 <= tau <= 1.0:
        raise ValueError("Tau must be between 0 and 1.")
    found = _line_search_vertex(X, y, tau, max_pivots)
    beta, basis = found if found is not None else _nearest_crossing_vertex(X, y, tau, max_pivots)
    return (beta, basis) if return_basis else beta
