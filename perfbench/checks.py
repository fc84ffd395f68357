"""Output checks computed without the package: dense NumPy on the generated
pandas frames, plus tools/numpy_oracle.py where it applies. Every check
appends a message to a ``Checker`` on failure; nothing compares against a
stored copy of earlier output."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from tools.numpy_oracle import check_loss, norm_cdf, norm_pdf, ols_np, probit_np, qr_exact_2d


class Checker:
    def __init__(self):
        self.failures: list[str] = []

    def true(self, name: str, cond: bool, detail: str = "") -> None:
        if not cond:
            self.failures.append(f"{name}: {detail}" if detail else name)

    def close(self, name: str, got: float, want: float, rtol: float = 1e-6, atol: float = 1e-9) -> None:
        got, want = float(got), float(want)
        ok = math.isfinite(got) and abs(got - want) <= atol + rtol * abs(want)
        self.true(name, ok, f"got {got!r}, want {want!r} (rtol {rtol}, atol {atol})")


# -- mean decomposition -------------------------------------------------------

def split_groups(levels, reference: str) -> tuple[str, str]:
    """The package's convention: B is the reference, A the first other level."""
    lv = sorted(levels)
    return (lv[0] if lv[0] != reference else lv[1]), reference


def design(pdf: pd.DataFrame, predictors: list[str], cats: list[str], levels: dict[str, list[str]]):
    cols = [np.ones(len(pdf))] + [pdf[p].to_numpy(float) for p in predictors]
    names = ["intercept"] + list(predictors)
    for c in cats:
        for lv in levels[c][1:]:
            cols.append((pdf[c].to_numpy() == lv).astype(float))
            names.append(f"{c}_{lv}")
    return np.column_stack(cols), names


def np_decomposition(pdf, y, group, reference, predictors, cats=(), reference_coefficients="group_a"):
    """Two- and three-fold Oaxaca-Blinder from dense per-group OLS."""
    cats = list(cats)
    levels = {c: sorted(pdf[c].unique()) for c in cats}
    ga, gb = split_groups(pdf[group].unique(), reference)
    out = {"group_a": ga, "group_b": gb}
    for tag, g in (("a", ga), ("b", gb)):
        sub = pdf[pdf[group] == g]
        X, names = design(sub, predictors, cats, levels)
        yv = sub[y].to_numpy(float)
        beta = ols_np(X, yv)
        resid = yv - X @ beta
        sigma2 = float(resid @ resid) / (len(yv) - X.shape[1])
        out[f"beta_{tag}"] = beta
        out[f"se_{tag}"] = np.sqrt(np.diag(sigma2 * np.linalg.inv(X.T @ X)))
        out[f"x_{tag}"] = X.mean(axis=0)
        out[f"y_{tag}"] = float(yv.mean())
        out[f"X_{tag}"], out[f"yv_{tag}"] = X, yv
    out["names"] = names
    ba, bb, xa, xb = out["beta_a"], out["beta_b"], out["x_a"], out["x_b"]
    if reference_coefficients == "group_a":
        bstar = ba
    elif reference_coefficients == "pooled":
        # pooled OLS with a group-A indicator right after the numeric predictors
        pos = 1 + len(predictors)
        Xp = np.vstack([out["X_a"], out["X_b"]])
        ind = np.r_[np.ones(len(out["yv_a"])), np.zeros(len(out["yv_b"]))]
        Xp = np.insert(Xp, pos, ind, axis=1)
        bstar = np.delete(ols_np(Xp, np.r_[out["yv_a"], out["yv_b"]]), pos)
    else:
        raise ValueError(reference_coefficients)
    out["beta_star"] = bstar
    dx = xa - xb
    out["total"] = out["y_a"] - out["y_b"]
    out["explained"] = float(dx @ bstar)
    out["unexplained"] = float(xa @ (ba - bstar) + xb @ (bstar - bb))
    out["endowments"] = float(dx @ bb)
    out["coefficients"] = float(xb @ (ba - bb))
    out["interaction"] = float(dx @ (ba - bb))
    return out


def check_oaxaca(ck: Checker, tag: str, res, want: dict, bootstrapped: bool, rtol: float = 1e-6) -> None:
    """Identities, agreement with the NumPy decomposition, and bootstrap SEs."""
    tf = {c.name: c for c in res.two_fold.aggregate}
    th = {c.name: c for c in res.three_fold.aggregate}
    gap = res.total_gap
    scale = max(abs(want["total"]), 1e-12)
    atol = 1e-9 * scale + 1e-12
    ck.close(f"{tag}.total_gap", gap, want["total"], rtol)
    ck.close(f"{tag}.two_fold_sum", tf["explained"].estimate + tf["unexplained"].estimate, gap, 1e-9, atol)
    ck.close(f"{tag}.three_fold_sum", sum(th[k].estimate for k in ("endowments", "coefficients", "interaction")),
             gap, 1e-9, atol)
    for part, comps in (("explained", res.two_fold.detailed_explained),
                        ("unexplained", res.two_fold.detailed_unexplained)):
        ck.close(f"{tag}.detailed_{part}_sum", sum(c.estimate for c in comps), tf[part].estimate, 1e-9, atol)
    for k in ("explained", "unexplained"):
        ck.close(f"{tag}.{k}", tf[k].estimate, want[k], rtol, 1e-7 * scale)
    for k in ("endowments", "coefficients", "interaction"):
        ck.close(f"{tag}.{k}", th[k].estimate, want[k], rtol, 1e-7 * scale)
    ck.true(f"{tag}.beta_star", np.allclose(res.beta_star, want["beta_star"], rtol=1e-5, atol=1e-8),
            f"{np.asarray(res.beta_star)} vs {want['beta_star']}")
    if bootstrapped:
        ses = [c.std_err for c in list(tf.values()) + list(th.values())]
        ck.true(f"{tag}.bootstrap_se", all(math.isfinite(s) and s > 0 for s in ses), f"{ses}")


def check_truth(ck: Checker, tag: str, beta: np.ndarray, se: np.ndarray, truth: np.ndarray, z: float = 5.0) -> None:
    """Estimated coefficients lie within ``z`` standard errors of the DGP."""
    dev = np.abs(np.asarray(beta) - truth) / se
    ck.true(f"{tag}.within_{z:g}_se_of_truth", bool(np.all(dev < z)), f"max |dev|/se = {dev.max():.2f}")


# -- MCP tools ------------------------------------------------------------------

def check_remediation(ck: Checker, out: dict, budget: float) -> None:
    ck.true("remediate.cost_within_budget", out["total_cost"] <= budget * (1 + 1e-9) + 1e-6,
            f"cost {out['total_cost']} > budget {budget}")
    ck.true("remediate.gap_not_widened", abs(out["new_gap"]) <= abs(out["original_gap"]) + 1e-6,
            f"{out['original_gap']} -> {out['new_gap']}")
    ck.true("remediate.has_raises", any(a["adjustment"] > 0 for a in out["adjustments"]))
    ck.close("remediate.cost_is_sum", sum(a["adjustment"] for a in out["adjustments"]), out["total_cost"], 1e-6, 1e-6)
    ck.true("remediate.no_cuts", all(a["adjustment"] >= 0 for a in out["adjustments"]))


def check_frontier(ck: Checker, out: dict) -> None:
    pts = out["points"]
    budgets = [p["budget"] for p in pts]
    ts = [p["t_statistic"] for p in pts]
    ck.true("frontier.points", len(pts) >= 2, f"{len(pts)} points")
    ck.true("frontier.cost_rises", all(b2 > b1 for b1, b2 in zip(budgets, budgets[1:])), f"{budgets[:5]}")
    # the gap's t-statistic moves monotonically from its starting sign
    # towards zero (and past it once the budget over-corrects)
    s = math.copysign(1.0, ts[0])
    ck.true("frontier.gap_falls", all(s * t2 <= s * t1 + 1e-9 for t1, t2 in zip(ts, ts[1:])), f"t {ts}")
    ck.true("frontier.reaches_insignificance", min(abs(t) for t in ts) < 1.96 <= abs(ts[0]), f"t {ts}")


def adjusted(pdf: pd.DataFrame, adjustments: list[dict], col: str) -> pd.DataFrame:
    out = pdf.copy()
    idx = np.array([a["index"] for a in adjustments], dtype=np.int64)
    out.loc[idx, col] = out.loc[idx, col].to_numpy() + np.array([a["value"] for a in adjustments])
    return out


def np_fair_wage_bounds(pdf, y, group, reference, predictors, rows, z=1.959963984540054):
    """Reference-group OLS fair wage and its 95% prediction lower bound."""
    ref = pdf[pdf[group] == reference]
    X = np.column_stack([np.ones(len(ref))] + [ref[p].to_numpy(float) for p in predictors])
    yv = ref[y].to_numpy(float)
    beta = ols_np(X, yv)
    resid = yv - X @ beta
    sigma2 = float(resid @ resid) / (len(yv) - X.shape[1])
    cov = np.linalg.inv(X.T @ X)
    Xr = np.column_stack([np.ones(len(rows))] + [rows[p].to_numpy(float) for p in predictors])
    fair = Xr @ beta
    lev = np.einsum("ij,jk,ik->i", Xr, cov, Xr)
    return fair, fair - z * np.sqrt(sigma2 * (1.0 + lev))


# -- iterative estimators -----------------------------------------------------------

def np_heckman(pdf, y, group, reference, predictors, sel, sel_predictors):
    """Per-group probit of selection, inverse Mills ratio, OLS with the IMR."""
    ga, gb = split_groups(pdf[group].unique(), reference)
    out = {}
    for tag, g in (("a", ga), ("b", gb)):
        sub = pdf[pdf[group] == g]
        Z = np.column_stack([np.ones(len(sub))] + [sub[c].to_numpy(float) for c in sel_predictors])
        gamma, converged, _ = probit_np(Z, sub[sel].to_numpy(float))
        zg = Z @ gamma
        big = norm_cdf(zg)
        imr = np.where(big < 1e-10, 0.0, norm_pdf(zg) / np.maximum(big, 1e-300))
        keep = (sub[sel].to_numpy(float) == 1.0) & sub[y].notna().to_numpy()
        X = np.column_stack([np.ones(keep.sum())] + [sub[p].to_numpy(float)[keep] for p in predictors] + [imr[keep]])
        yv = sub[y].to_numpy(float)[keep]
        out[f"beta_{tag}"] = ols_np(X, yv)
        out[f"x_{tag}"] = X.mean(axis=0)
        out[f"y_{tag}"] = float(yv.mean())
        out[f"gamma_{tag}"] = gamma
    dx = out["x_a"] - out["x_b"]
    out["total"] = out["y_a"] - out["y_b"]
    out["explained"] = float(dx @ out["beta_a"])
    out["unexplained"] = out["total"] - out["explained"]
    return out


def check_qr_optimum(ck: Checker, tag: str, X, y, beta, tau: float, rtol: float = 1e-9) -> None:
    """``beta`` attains the check-loss optimum found by the independent solver."""
    opt = qr_exact_2d(X, y, tau)
    got, best = check_loss(X, y, np.asarray(beta), tau), check_loss(X, y, opt, tau)
    ck.true(f"{tag}.check_loss_optimal", got <= best * (1 + rtol) + 1e-9, f"{got} vs optimum {best}")


def np_machado_mata(Xa, ya, Xb, yb, quantiles, simulations: int, seed: int, n_active: int = 50) -> dict[str, tuple]:
    """Machado-Mata single pass replaying the engine's seeded stream
    (default_rng(seed): S uniform taus, then S picks per side), with every
    quantile regression solved by ``qr_exact_2d`` (tools/numpy_oracle.py)
    with a vertex polish over the ``n_active`` smallest residuals."""
    rng = np.random.default_rng(seed)
    taus = rng.uniform(0.01, 0.99, size=simulations)
    betas_a = [qr_exact_2d(Xa, ya, t, n_active) for t in taus]
    betas_b = [qr_exact_2d(Xb, yb, t, n_active) for t in taus]
    ia = rng.integers(0, Xa.shape[0], size=simulations)
    ib = rng.integers(0, Xb.shape[0], size=simulations)
    y_aa = np.array([Xa[ia[i]] @ betas_a[i] for i in range(simulations)])
    y_bb = np.array([Xb[ib[i]] @ betas_b[i] for i in range(simulations)])
    y_ab = np.array([Xa[ia[i]] @ betas_b[i] for i in range(simulations)])

    def eq(data, q):
        s = np.sort(data)
        return float(s[min(int(len(s) * q), len(s) - 1)])

    out = {}
    for q in quantiles:
        aa, bb, ab = eq(y_aa, q), eq(y_bb, q), eq(y_ab, q)
        out[f"q{int(q * 100)}"] = (aa - bb, ab - bb, aa - ab)
    return out


def check_mm(ck: Checker, tag: str, res, want: dict[str, tuple], tol: float) -> None:
    """Each quantile's parts sum to its gap, and gap and parts match the
    check-loss-optimal replay within ``tol``."""
    for key, (gap, char, coef) in want.items():
        d = res.results_by_quantile[key]
        got = (d.total_gap.estimate, d.characteristics_effect.estimate, d.coefficients_effect.estimate)
        ck.close(f"{tag}.{key}.parts_sum", got[1] + got[2], got[0], 1e-9, 1e-12)
        for name, g, w in zip(("gap", "characteristics", "coefficients"), got, (gap, char, coef)):
            ck.true(f"{tag}.{key}.{name}_vs_check_loss_optimum", abs(g - w) <= tol, f"{g} vs {w} (tol {tol})")


def check_dfl(ck: Checker, res, tol: float = 0.05) -> None:
    grid = np.asarray(res.grid)
    step = grid[1] - grid[0]
    for name in ("density_a", "density_b", "density_b_counterfactual"):
        d = np.asarray(getattr(res, name))
        area = float(d.sum() * step)
        ck.true(f"dfl.{name}.integrates_to_1", abs(area - 1.0) <= tol and (d >= 0).all(), f"area {area}")


def check_akm(ck: Checker, pdf: pd.DataFrame, y: str, worker: str, firm: str, controls: list[str],
              beta, worker_fx: pd.DataFrame, firm_fx: pd.DataFrame, r2: float) -> None:
    """On the connected set, y = alpha_worker + psi_firm + x'beta + residual,
    and the residuals satisfy the two-way normal equations."""
    wfx = worker_fx.set_axis([worker, "__alpha"], axis=1)
    ffx = firm_fx.set_axis([firm, "__psi"], axis=1)
    m = pdf.merge(wfx, on=worker).merge(ffx, on=firm)
    ck.true("akm.connected_rows", len(m) > 0.9 * len(pdf), f"{len(m)} of {len(pdf)} rows")
    fitted = m["__alpha"].to_numpy(float) + m["__psi"].to_numpy(float)
    for c, b in zip(controls, np.atleast_1d(beta)):
        fitted = fitted + float(b) * m[c].to_numpy(float)
    yv = m[y].to_numpy(float)
    resid = yv - fitted
    sd = float(yv.std())
    ck.true("akm.residual_small", float(resid.std()) < sd, f"resid sd {resid.std()} vs y sd {sd}")
    by_w = np.abs(pd.Series(resid).groupby(m[worker].to_numpy()).mean().to_numpy()).max()
    by_f = np.abs(pd.Series(resid).groupby(m[firm].to_numpy()).mean().to_numpy()).max()
    ck.true("akm.worker_normal_eq", by_w < 1e-4 * sd, f"max |mean resid| by worker {by_w}")
    ck.true("akm.firm_normal_eq", by_f < 1e-4 * sd, f"max |mean resid| by firm {by_f}")
    r2_np = 1.0 - float(resid @ resid) / float(((yv - yv.mean()) ** 2).sum())
    ck.close("akm.r2", r2, r2_np, 1e-4, 1e-6)
