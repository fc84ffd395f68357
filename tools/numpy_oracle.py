"""Independent NumPy reference oracle for the iterative operators.

The DuckDB SQL oracle (tools/check_oracle.py, driver CORRECTNESS gate) cannot
express the iterative algorithms — logit/probit (Newton / Fisher scoring),
Heckman two-step, DFL reweighting, AKM two-way fixed effects — so the driver
records only rows-only checks for those queries. This module closes that gap:
each function recomputes the full result **independently in dense NumPy on
pandas-loaded parquet**, following the reference semantics
(/root/reference/oaxaca_blinder/src/{math/logit.rs,math/probit.rs,heckman.rs,
dfl.rs,akm.rs}) with none of the engine's Spark code in the loop.

Where possible the oracle deliberately uses a DIFFERENT algorithm than the
engine, so agreement is evidence of correctness, not shared bugs:

- AKM: one dense least-squares solve of y ~ X + worker dummies + firm dummies
  (skip-first, psi_first = 0) via numpy.linalg.lstsq — versus the engine's
  FWL zig-zag demeaning + alternating-projection recovery (akm.rs:319-621).
  For a connected graph both characterize the same unique solution.
- logit/probit/DFL/Heckman: same mathematical iteration (it is the spec), but
  dense matrices and NumPy reductions versus distributed Gram aggregation.

Run standalone:  python tools/numpy_oracle.py [sf_dir]
Used by tests/test_numpy_oracle.py.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd

_ERF = np.frompyfunc(math.erf, 1, 1)
_SQRT2 = math.sqrt(2.0)
_INV_SQRT_2PI = 1.0 / math.sqrt(2.0 * math.pi)


def load_table(sf_dir: str, name: str) -> pd.DataFrame:
    """Parquet -> pandas via pyarrow (handles events' TIMESTAMP(NANOS))."""
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(sf_dir, f"{name}.parquet")).to_pandas()


def norm_pdf(x):
    return _INV_SQRT_2PI * np.exp(-0.5 * np.asarray(x, dtype=np.float64) ** 2)


def norm_cdf(x):
    x = np.asarray(x, dtype=np.float64)
    return 0.5 * (1.0 + _ERF(x / _SQRT2).astype(np.float64))


def sigmoid(x):
    return 1.0 / (1.0 + np.exp(-np.asarray(x, dtype=np.float64)))


# ---------------------------------------------------------------------------
# GLM kernels (math/logit.rs:31-118, math/probit.rs:25-172)
# ---------------------------------------------------------------------------


def logit_np(X, y, max_iter: int = 100, tol: float = 1e-6, ridge: float = 0.0):
    """Newton-Raphson logit from beta=0, clamp [1e-10, 1-1e-10], ||step||<tol."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    beta = np.zeros(X.shape[1])
    for it in range(1, max_iter + 1):
        p = np.clip(sigmoid(X @ beta), 1e-10, 1.0 - 1e-10)
        grad = X.T @ (y - p)
        info = (X * (p * (1.0 - p))[:, None]).T @ X + ridge * np.eye(X.shape[1])
        step = np.linalg.solve(info, grad)
        beta += step
        if float(np.linalg.norm(step)) < tol:
            return beta, True, it
    return beta, False, max_iter


def probit_np(X, y, max_iter: int = 100, tol: float = 1e-6, diag_reg: float = 1e-9):
    """Fisher-scoring probit: lam = phi/Phi (y=1) | -phi/(1-Phi) (y=0)."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    beta = np.zeros(X.shape[1])
    for it in range(1, max_iter + 1):
        xb = X @ beta
        phi = norm_pdf(xb)
        Phi = np.clip(norm_cdf(xb), 1e-10, 1.0 - 1e-10)
        lam = np.where(y > 0.5, phi / Phi, -phi / (1.0 - Phi))
        w = phi * phi / (Phi * (1.0 - Phi))
        grad = X.T @ lam
        info = (X * w[:, None]).T @ X + diag_reg * np.eye(X.shape[1])
        step = np.linalg.solve(info, grad)
        beta += step
        if float(np.linalg.norm(step)) < tol:
            return beta, True, it
    return beta, False, max_iter


def ols_np(X, y):
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    return np.linalg.solve(X.T @ X, X.T @ y)


# ---------------------------------------------------------------------------
# Shared prep mirroring the lineitem-based driver-contract queries
# ---------------------------------------------------------------------------


def _lineitem(sf_dir: str) -> pd.DataFrame:
    li = load_table(sf_dir, "lineitem")
    return li


def _silverman(y: np.ndarray) -> float:
    """kde.rs:44-59: sd with n-1, IQR via FLOOR(n*p) 0-based indexing."""
    n = len(y)
    sd = float(np.std(y, ddof=1))
    s = np.sort(y)
    iqr = float(s[int(n * 0.75)] - s[int(n * 0.25)])
    a = min(sd, iqr / 1.34)
    return 0.9 * a * n ** (-0.2)


def _kde_on_grid(y: np.ndarray, grid: np.ndarray, h: float, w: np.ndarray | None = None) -> np.ndarray:
    """kde.rs:20-41: f(g) = sum_i w_i K((g - y_i)/h) / sum(w) / h."""
    if w is None:
        w = np.ones_like(y)
    u = (grid[:, None] - y[None, :]) / h
    return (norm_pdf(u) @ w) / float(w.sum()) / h


# ---------------------------------------------------------------------------
# Oracles mirroring the rows-only driver-contract queries
# ---------------------------------------------------------------------------


def oracle_dfl(sf_dir: str, grid_size: int = 100) -> dict:
    """Independent recomputation of q_dfl_densities (dfl.rs:34-195).

    run_dfl(lineitem, 'l_extendedprice', 'l_returnflag', 'R',
            ['l_quantity', 'l_linestatus'])
    """
    li = _lineitem(sf_dir)
    group, outcome = "l_returnflag", "l_extendedprice"
    uniq = sorted(li[group].dropna().unique())
    group_b = "R"
    group_a = uniq[0] if uniq[0] != group_b else uniq[1]

    # design: intercept + numeric + skip-first dummies for string predictors
    cols = [np.ones(len(li)), li["l_quantity"].to_numpy(dtype=np.float64)]
    levels = sorted(li["l_linestatus"].dropna().unique())
    for lv in levels[1:]:
        cols.append((li["l_linestatus"] == lv).to_numpy(dtype=np.float64))
    X = np.column_stack(cols)
    t = (li[group] == group_a).to_numpy(dtype=np.float64)

    beta, _, _ = logit_np(X, t)
    n_a = float((li[group] == group_a).sum())
    n_b = float((li[group] == group_b).sum())

    p = np.clip(sigmoid(X @ beta), 1e-10, 1.0 - 1e-10)
    p = np.clip(p, 1e-4, 0.9999)
    psi = p / (1.0 - p) * (n_b / n_a)

    y = li[outcome].to_numpy(dtype=np.float64)
    lo, hi = float(y.min()), float(y.max())
    step = (hi - lo) / grid_size
    grid = lo + step * np.arange(grid_size)

    mask_a = t == 1.0
    mask_b = ~mask_a  # "everything not A" is the logit 0-class (dfl.rs:118-138)
    bw_a = _silverman(y[mask_a])
    bw_b = _silverman(y[mask_b])
    return {
        "grid": grid,
        "density_a": _kde_on_grid(y[mask_a], grid, bw_a),
        "density_b": _kde_on_grid(y[mask_b], grid, bw_b),
        "density_b_cf": _kde_on_grid(y[mask_b], grid, bw_b, w=psi[mask_b]),
    }


def oracle_heckman(sf_dir: str) -> dict:
    """Independent recomputation of q_heckman_decomposition.

    Selection sel = (l_discount > 0.01); per-group probit of sel on
    [1, l_tax]; IMR; OLS of price on [1, l_quantity, IMR] over selected;
    detailed explained with beta* = beta_B (ref coeffs group_b) plus
    total_gap = selected-sample mean difference.
    """
    li = _lineitem(sf_dir)
    group = "l_returnflag"
    uniq = sorted(li[group].dropna().unique())
    group_b = "R"
    group_a = uniq[0] if uniq[0] != group_b else uniq[1]

    sel = (li["l_discount"] > 0.01).to_numpy(dtype=np.float64)
    names = ["__ob_intercept__", "l_quantity", "IMR"]

    per_group = {}
    for g in (group_a, group_b):
        m = (li[group] == g).to_numpy()
        Z = np.column_stack([np.ones(int(m.sum())), li.loc[m, "l_tax"].to_numpy(dtype=np.float64)])
        s = sel[m]
        gamma, _, _ = probit_np(Z, s)
        zg = Z @ gamma
        Phi = norm_cdf(zg)
        imr = np.where(Phi < 1e-10, 0.0, norm_pdf(zg) / np.where(Phi < 1e-10, 1.0, Phi))
        selected = s == 1.0
        Xs = np.column_stack(
            [
                np.ones(int(selected.sum())),
                li.loc[m, "l_quantity"].to_numpy(dtype=np.float64)[selected],
                imr[selected],
            ]
        )
        ys = li.loc[m, "l_extendedprice"].to_numpy(dtype=np.float64)[selected]
        beta = ols_np(Xs, ys)
        per_group[g] = {"beta": beta, "x_mean": Xs.mean(axis=0), "y_mean": float(ys.mean())}

    a, b = per_group[group_a], per_group[group_b]
    beta_star = b["beta"]  # reference_coefficients('group_b')
    explained = {
        nm: float((a["x_mean"][i] - b["x_mean"][i]) * beta_star[i]) for i, nm in enumerate(names)
    }
    explained["total_gap"] = a["y_mean"] - b["y_mean"]
    return explained


def oracle_akm(sf_dir: str) -> dict:
    """Independent recomputation of q_akm_effects via ONE dense lstsq.

    Panel: lineitem x orders, worker = o_custkey, firm = l_suppkey,
    y = l_extendedprice, control x = l_quantity. Model
    y = x beta + alpha_worker + psi_firm with psi[first firm] = 0, fit on the
    largest connected component. Direct least squares on the dummy design —
    algorithmically disjoint from the engine's zig-zag (akm.rs:319-621).
    Returns {'beta': float, 'r2': float, 'firm_effects': {firm: psi}}.
    """
    li = load_table(sf_dir, "lineitem")[["l_orderkey", "l_suppkey", "l_extendedprice", "l_quantity"]]
    orders = load_table(sf_dir, "orders")[["o_orderkey", "o_custkey"]]
    panel = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    worker = panel["o_custkey"].astype(str).to_numpy()
    firm = panel["l_suppkey"].astype(str).to_numpy()
    y = panel["l_extendedprice"].to_numpy(dtype=np.float64)
    x = panel["l_quantity"].to_numpy(dtype=np.float64)

    # largest connected component (union-find over distinct edges)
    wuniq, wi = np.unique(worker, return_inverse=True)
    funiq, fi = np.unique(firm, return_inverse=True)
    nW, nF = len(wuniq), len(funiq)
    parent = list(range(nW + nF))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for wI, fI in set(zip(wi.tolist(), fi.tolist())):
        rw, rf = find(wI), find(nW + fI)
        if rw != rf:
            parent[rf] = rw
    roots = np.array([find(i) for i in range(nW + nF)])
    root_sizes = {}
    for r in roots:
        root_sizes[r] = root_sizes.get(r, 0) + 1
    largest = max(root_sizes, key=root_sizes.get)
    keep = roots[wi] == largest
    worker, firm, y, x = worker[keep], firm[keep], y[keep], x[keep]

    wuniq, wi = np.unique(worker, return_inverse=True)
    funiq, fi = np.unique(firm, return_inverse=True)
    nW, nF = len(wuniq), len(funiq)
    n = len(y)

    # dense design: [x | worker dummies (all) | firm dummies (skip first)]
    D = np.zeros((n, 1 + nW + nF - 1))
    D[:, 0] = x
    D[np.arange(n), 1 + wi] = 1.0
    late = fi > 0
    D[np.where(late)[0], nW + fi[late]] = 1.0  # col nW + j for firm j >= 1
    coef, *_ = np.linalg.lstsq(D, y, rcond=None)
    beta = float(coef[0])
    alpha = coef[1: 1 + nW]
    psi = np.concatenate([[0.0], coef[1 + nW:]])

    pred = D @ coef
    r2 = 1.0 - float(np.sum((y - pred) ** 2)) / float(np.sum((y - y.mean()) ** 2))
    return {
        "beta": beta,
        "r2": r2,
        "firm_effects": {f: float(p) for f, p in zip(funiq, psi)},
        "worker_effects": {w: float(a) for w, a in zip(wuniq, alpha)},
    }


def check_loss(X: np.ndarray, y: np.ndarray, beta: np.ndarray, tau: float) -> float:
    """Quantile-regression objective sum rho_tau(y - X beta)."""
    r = y - X @ beta
    return float(np.sum(np.where(r >= 0, tau * r, (tau - 1.0) * r)))


def qr_exact_2d(X: np.ndarray, y: np.ndarray, tau: float, n_active: int = 50) -> np.ndarray:
    """Independent quantile-regression solver for k=2 ([intercept, x]).

    A completely different algorithm than the engine's basis-exchange
    simplex (operators/quantile_regression.py): (1) bisection on the slope
    subgradient of g(b1) = min_b0 obj(b0, b1) — for fixed slope the optimal
    intercept is the tau-th inverted-CDF quantile of y - b1*x, and g is
    convex piecewise-linear in b1; (2) exact vertex polish — the LP optimum
    passes through 2 data points with distinct x, so enumerate the lines
    through every pair of the `n_active` smallest-|residual| points and take
    the objective argmin. Returns the exact LP-vertex optimum for
    non-degenerate problems (the reference solves the same LP with an
    interior-point method, quantile_regression.rs:22-129).
    """
    assert X.shape[1] == 2, "qr_exact_2d handles [intercept, x] designs"
    x = X[:, 1]

    def c_of(b1: float) -> float:
        # minimizer of sum rho_tau(z - c) over c = inf{c: F_n(c) >= tau}
        return float(np.quantile(y - b1 * x, tau, method="inverted_cdf"))

    def grad(b1: float) -> float:
        r = y - b1 * x - c_of(b1)
        return float(-np.sum(x * (tau - (r < 0).astype(float))))

    # expanding bracket around the OLS slope, then bisection on the
    # monotone subgradient
    b_ols, *_ = np.linalg.lstsq(X, y, rcond=None)
    lo = hi = float(b_ols[1])
    step = max(1.0, abs(lo))
    while grad(lo) > 0:
        lo -= step
        step *= 2
    step = max(1.0, abs(hi))
    while grad(hi) < 0:
        hi += step
        step *= 2
    for _ in range(100):
        mid = 0.5 * (lo + hi)
        if grad(mid) < 0:
            lo = mid
        else:
            hi = mid
    b1 = 0.5 * (lo + hi)
    best = np.array([c_of(b1), b1])
    best_obj = check_loss(X, y, best, tau)

    # vertex polish: candidate lines through pairs of near-active points
    r = np.abs(y - X @ best)
    cand = np.argsort(r)[:n_active]
    xi, yi = x[cand], y[cand]
    ii, jj = np.triu_indices(len(cand), k=1)
    dx = xi[ii] - xi[jj]
    keep = np.abs(dx) > 1e-12
    ii, jj, dx = ii[keep], jj[keep], dx[keep]
    if len(ii):
        b1s = (yi[ii] - yi[jj]) / dx
        b0s = yi[ii] - b1s * xi[ii]
        R = y[:, None] - (b0s[None, :] + np.outer(x, b1s))
        objs = np.sum(np.where(R >= 0, tau * R, (tau - 1.0) * R), axis=0)
        k = int(np.argmin(objs))
        if objs[k] < best_obj:
            best = np.array([b0s[k], b1s[k]])
            best_obj = float(objs[k])
    return best


def oracle_machado_mata(
    sf_dir: str,
    quantiles=(0.25, 0.5, 0.75),
    simulations: int = 100,
    seed: int = 42,
) -> dict:
    """Independent Machado-Mata single pass (quantile_decomposition.rs:173-279).

    Replays the engine's exact seeded RNG stream (default_rng(seed): S
    uniform taus, then n-sized integer picks per side) but solves every
    quantile regression with `qr_exact_2d` — a different optimizer than the
    engine's simplex — so agreement pins the QR *solutions* and the simulation
    semantics, not the iteration. Mirrors q_machado_mata: lineitem,
    y=l_extendedprice, x=l_quantity, groups A vs R, reps=0.
    """
    li = load_table(sf_dir, "lineitem")[["l_extendedprice", "l_returnflag", "l_quantity"]].dropna()
    groups = sorted(g for g in li["l_returnflag"].unique())
    group_b = "R"
    group_a = groups[0] if groups[0] != group_b else groups[1]

    def mats(g):
        sub = li[li["l_returnflag"] == g]
        X = np.column_stack([np.ones(len(sub)), sub["l_quantity"].to_numpy(dtype=np.float64)])
        return X, sub["l_extendedprice"].to_numpy(dtype=np.float64)

    Xa, ya = mats(group_a)
    Xb, yb = mats(group_b)

    S = simulations
    rng = np.random.default_rng(seed)
    taus = rng.uniform(0.01, 0.99, size=S)
    betas_a = [qr_exact_2d(Xa, ya, t) for t in taus]
    betas_b = [qr_exact_2d(Xb, yb, t) for t in taus]

    idx_a = rng.integers(0, Xa.shape[0], size=S)
    idx_b = rng.integers(0, Xb.shape[0], size=S)
    y_aa = np.array([Xa[idx_a[i]] @ betas_a[i] for i in range(S)])
    y_bb = np.array([Xb[idx_b[i]] @ betas_b[i] for i in range(S)])
    y_ab = np.array([Xa[idx_a[i]] @ betas_b[i] for i in range(S)])

    def eq(data, q):
        s = np.sort(data)
        return float(s[min(int(len(s) * q), len(s) - 1)])

    effects = {}
    for tau in quantiles:
        q_aa, q_bb, q_ab = eq(y_aa, tau), eq(y_bb, tau), eq(y_ab, tau)
        effects[f"q{int(tau * 100)}"] = (q_aa - q_bb, q_ab - q_bb, q_aa - q_ab)
    return {
        "effects": effects,
        "taus": taus,
        "Xa": Xa, "ya": ya, "Xb": Xb, "yb": yb,
        "betas_a": betas_a, "betas_b": betas_b,
        "group_a": group_a,
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    np.set_printoptions(precision=6, suppress=True)
    h = oracle_heckman(sf_dir)
    print("heckman detailed explained + total_gap:", {k: round(v, 4) for k, v in h.items()})
    d = oracle_dfl(sf_dir)
    print("dfl density_b_cf[:5]:", d["density_b_cf"][:5])
    a = oracle_akm(sf_dir)
    print("akm beta:", round(a["beta"], 6), "r2:", round(a["r2"], 6))
    print("akm firm effects (first 5):", {k: round(v, 4) for k, v in list(sorted(a["firm_effects"].items()))[:5]})


if __name__ == "__main__":
    main()
