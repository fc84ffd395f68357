"""Quantile regression kernel (SURVEY M4).

Reference: /root/reference/oaxaca_blinder/src/math/quantile_regression.rs
formulates the check-loss minimization as an LP (min tau*1'u + (1-tau)*1'v
s.t. X beta + u - v = y) solved by the Clarabel interior-point solver.

This container has no LP solver (no scipy), so we solve the SAME objective by
iteratively reweighted least squares (the MM algorithm statsmodels' QuantReg
uses): WLS with weights w_i = 1/max(|r_i|, eps) scaled tau / (1-tau) by
residual sign majorizes the check loss and converges to the LP optimum for
well-posed problems. The reference's own accuracy bar (beta within 1e-4 on
its test fixtures, quantile_regression.rs:131-171) is met; ties/degenerate
vertices may differ from the LP at ~eps scale.
"""

from __future__ import annotations

import numpy as np

__all__ = ["solve_qr", "exact_n_index", "exact_n_counts"]

# Worker-side memo for deterministic resample multiplicities: Spark reuses
# Python workers across mapInPandas passes (spark.python.worker.reuse), so the
# Gram-Newton engine's per-iteration passes hit this cache instead of redrawing
# n integers per (replicate, side) every iteration. int32 counts keep the
# cache at ~4 MB per million rows per key; the size cap bounds worker memory.
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
    resample, so the Gram-Newton engine weights rows instead of copying them.
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
    """Minimize sum rho_tau(y - X beta). Raises on failure like solve_qr."""
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


def solve_qr_exact(
    X: np.ndarray,
    y: np.ndarray,
    tau: float,
    max_pivots: int = 500,
    return_basis: bool = False,
):
    """Exact LP-vertex quantile regression (the reference's semantics).

    quantile_regression.rs:22-129 solves min sum rho_tau(y - X beta) as an
    LP with an interior-point solver. Here: IRLS warm start (solve_qr), then
    a basis-exchange simplex on the polyhedral complex — an optimal basic
    solution passes through k data points, so maintain a nonsingular k-row
    basis, check the one-sided directional derivative along every edge
    direction (+-columns of inv(X_B)), and pivot along the steepest
    descending edge to the nearest residual-zero crossing until every edge
    derivative is nonnegative, which certifies the LP optimum (convex
    piecewise-linear objective). Exact up to solve() roundoff, unlike IRLS
    whose argmin can wander a near-flat optimal face by the documented
    ~0.3%-of-scale spread.

    With ``return_basis=True`` returns ``(beta, basis)`` where ``basis`` is
    the certified k-row optimal basis (row indices into X) — or ``None`` on
    the uncertified bail paths (rank deficiency, numeric degeneracy, pivot
    budget). The SQL vertex-enumeration oracle (mm_qr_vertex) uses the
    basis to canonicalize the optimal line from its two data points.
    """

    def _ret(b, basis_rows):
        return (b, basis_rows) if return_basis else b

    n, k = X.shape
    beta = solve_qr(X, y, tau)
    scale = max(float(np.max(np.abs(y))), 1.0)
    ztol = 1e-9 * scale

    # --- basis: k independent rows nearest the warm-start hyperplane ------
    r = y - X @ beta
    order = np.argsort(np.abs(r), kind="stable")
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
                break
    if nu < k:
        return _ret(beta, None)  # rank-deficient design: keep the IRLS solution

    B = np.array(basis)
    best_beta, best_obj = beta, _check_loss(X, y, beta, tau)
    for _ in range(max_pivots):
        XB = X[B]
        try:
            beta = np.linalg.solve(XB, y[B])
            Binv = np.linalg.inv(XB)
        except np.linalg.LinAlgError:
            return _ret(best_beta, None)
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
            return _ret(beta, B.copy())  # every edge ascends: LP optimum certified
        s = 1.0 if jmin < k else -1.0
        j = jmin % k
        delta = -s * D[:, j]
        # ratio test: nearest nonbasis residual-zero crossing along the edge
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where((r * delta < 0) & (np.abs(delta) > 1e-12), -r / delta, np.inf)
        t[B] = np.inf
        enter = int(np.argmin(t))
        if not np.isfinite(t[enter]):
            return _ret(best_beta, None)  # unbounded edge: numerically degenerate, bail
        B[j] = enter
    return _ret(best_beta, None)
