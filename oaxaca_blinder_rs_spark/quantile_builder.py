"""Machado-Mata quantile decomposition (SURVEY M13).

Reference: /root/reference/oaxaca_blinder/src/quantile_decomposition.rs.

One algorithm, two places for the rows. Every (replicate, side, tau)
quantile regression is the exact LP optimum (``solve_qr_exact``), reached by
Portnoy & Koenker's preprocessing (1997, "The Gaussian hare and the
Laplacian tortoise", section 3; ``quantreg::rq.fit.pfn``):

1. fit a seeded subsample of m = ((k+1)n)^(2/3) of the side's rows;
2. split the rows by their leverage-scaled residual against that fit: rows
   far below the band are summed into one pseudo-row (a "glob"), rows far
   above it into another, the band's rows stay as they are;
3. solve the reduced LP (band rows plus the two globs) exactly;
4. check that every globbed row kept its sign. The check loss is
   subadditive and positively homogeneous, so then the reduced optimum is
   the full optimum; rows that flipped move to the band and step 3 repeats.
   The check needs no rows when the fit moved less than the band's width
   (``_keeps_signs``: a Cauchy-Schwarz bound on every row's residual
   change), which holds for every fit of a typical panel.

A side with m >= n/2 gains nothing from the reduction and is fitted whole.
The globbed fits run in waves of about WAVE_CELLS band cells, so the
driver's memory does not grow with simulations x bootstrap replicates. The
per-block row pass (``_row_kernel``) computes the residuals of a block
against every fit as one GEMM, sums the globs with the exact-n resample
multiplicities (``exact_n_counts``) and emits the band rows or the sign
violators. The engines differ only in where it runs:

- 'driver': one collect of both sides; the kernel runs on the NumPy arrays
  (guarded by COLLECT_LIMIT_CELLS);
- 'distributed': rows stay in Spark, pinned in their source layout and
  ranked per side by their partition's offset; the kernel runs in one
  ``mapInPandas`` per pass: the subsample rows, then per wave the globs
  (plus a sign check if a fit is not provably sign-stable, and one pass
  per fix-up round), then the simulation picks.

The LP solves run in a thread pool sized to the usable cores (the
reference's rayon design, quantile_decomposition.rs:221-229). Everything
else is shared too (seeded streams, failed-replicate rule, picks, effects,
bootstrap assembly), so the engines differ only by the summation order of
the glob rows.

Determinism: tau draws, subsamples, simulation row picks and bootstrap
resamples all come from numpy Generators seeded from the builder seed (the
reference uses thread_rng — unseeded; we improve on that, SURVEY §7.1).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import InvalidGroupVariable, NonNumericData, OaxacaError, warn
from .operators.bootstrap import bootstrap_stats
from .operators.quantile_regression import exact_n_counts, exact_n_index, solve_qr_exact, tol_scale
from .operators.scan import partition_cells, pinned
from .results import ComponentResult

INTERCEPT = "__ob_intercept__"
COLLECT_LIMIT_CELLS = 50_000_000
# The band between the globs spans BAND x m of a side's n rows in quantile
# terms: tau +- BAND x m / (2n) of the subsample's scaled residuals.
# rq.fit.pfn's 0.8 estimates the cut from all n rows; a cut estimated from
# the m subsample rows needs a wider band. On 25,000-row sides (k=2, S=20,
# B in {0, 2}) 1.2 still needed a fix-up round in two of six draws; at 2.0
# none did, and every fit's sign certificate (``_keeps_signs``) held.
BAND = 2.0
# the row kernel's blocks: at most FIT_CHUNK fits by ROW_BLOCK rows (the
# driver engine's blocks; a Spark partition is one block)
FIT_CHUNK = 64
ROW_BLOCK = 1 << 16
# the globbed fits' band rows on the driver: about WAVE_CELLS cells a wave,
# a quarter of the collect limit, as a row pass's output is copied up to
# three times on its way into the reduced problems
WAVE_CELLS = COLLECT_LIMIT_CELLS // 4


@dataclass
class QuantileDecompositionDetail:
    total_gap: ComponentResult
    characteristics_effect: ComponentResult
    coefficients_effect: ComponentResult


@dataclass
class QuantileDecompositionResults:
    """quantile_decomposition.rs:451-459."""

    results_by_quantile: dict[str, QuantileDecompositionDetail]
    n_a: int
    n_b: int
    # bootstrap replicates dropped because fewer than S/2 of a side's
    # quantile regressions converged; the SEs come from the rest
    n_failed_reps: int = 0

    def summary(self) -> str:
        lines = ["Machado-Mata Quantile Decomposition", "=" * 40,
                 f"Group A: {self.n_a} obs; Group B (reference): {self.n_b} obs", ""]
        for key in sorted(self.results_by_quantile, key=lambda s: float(s[1:])):
            d = self.results_by_quantile[key]
            lines.append(
                f"{key}: gap={d.total_gap.estimate:.4f} "
                f"characteristics={d.characteristics_effect.estimate:.4f} "
                f"coefficients={d.coefficients_effect.estimate:.4f}"
            )
        out = "\n".join(lines)
        print(out)
        return out


def _empirical_quantile(data: np.ndarray, q: float) -> float:
    """Naive floor-index convention (quantile_decomposition.rs:164-171, A8)."""
    if len(data) == 0:
        return 0.0
    s = np.sort(data)
    idx = min(int(len(s) * q), len(s) - 1)
    return float(s[idx])


def _rep_streams(seed: int, S: int, rep: int) -> tuple[np.ndarray, np.random.Generator]:
    """Replicate ``rep``'s S tau draws on [0.01, 0.99) and its simulation-pick
    generator, shared by both engines. Rep -1 (the point pass) draws the taus
    and then the picks from one default_rng(seed); rep r >= 0 draws taus from
    default_rng([seed, 7, r]) and picks from default_rng([seed, 13, r]), and
    fits side s on the resample ``exact_n_index(seed, r, s, n)``."""
    if rep < 0:
        rng = np.random.default_rng(seed)
        return rng.uniform(0.01, 0.99, size=S), rng
    return (
        np.random.default_rng([seed, 7, rep]).uniform(0.01, 0.99, size=S),
        np.random.default_rng([seed, 13, rep]),
    )


def mm_tau_stream(seed: int, S: int, rep: int = -1) -> np.ndarray:
    """The Machado-Mata tau draw stream, exactly as the engines consume it
    (quantile_decomposition.rs:96-101 semantics; ``_rep_streams``). Public so
    the driver contract can pin the stream itself: the mm_tau_stream oracle
    replays SeedSequence + PCG64 + the uniform transform in DuckDB SQL
    (functions/pcg64_sql.py) and hash-matches these doubles BIT-FOR-BIT — the
    simulation entropy is no longer an un-oracle-able input."""
    return _rep_streams(seed, S, rep)[0]


def _usable_cores() -> int:
    """The cores this process may run on (its CPU affinity where the OS
    reports one)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _levels(df: DataFrame, col: str) -> list:
    """The sorted non-null values of ``col``: one distinct job, sorted on
    the driver (a Spark orderBy adds a sampling job and an exchange)."""
    return sorted(r[0] for r in df.select(col).distinct().collect() if r[0] is not None)


def _raise_if_infinite(names: list[str], finite) -> None:
    """NonNumericData for the first column whose ``finite`` flag is False
    (names: the outcome, then the design columns)."""
    for name, ok in zip(names, finite):
        if not ok:
            raise NonNumericData(name, "infinite values")


def _effects(quantiles, ba, bb, xa, xb) -> dict[str, tuple[float, float, float]]:
    """quantile_decomposition.rs:231-279: predict each simulated row with
    its own tau's betas (A rows x A betas, B x B, and the counterfactual A
    rows x B betas), then the floor-index quantiles of the three samples
    give (gap, characteristics, coefficients). ``xa`` and ``xb`` hold the
    simulations' picked covariate rows of each side."""
    y_aa = np.array([x @ b for x, b in zip(xa, ba)])
    y_bb = np.array([x @ b for x, b in zip(xb, bb)])
    y_ab = np.array([x @ b for x, b in zip(xa, bb)])
    out = {}
    for tau in quantiles:
        q_aa = _empirical_quantile(y_aa, tau)
        q_bb = _empirical_quantile(y_bb, tau)
        q_ab = _empirical_quantile(y_ab, tau)
        out[f"q{int(tau * 100)}"] = (q_aa - q_bb, q_ab - q_bb, q_aa - q_ab)
    return out


def _component(name: str, est: float, dist: list[float]) -> ComponentResult:
    se, p, (lo, hi) = bootstrap_stats(dist, est)
    t = est / se if (se == se and abs(se) > 1e-9) else 0.0
    return ComponentResult(name=name, estimate=est, std_err=se, t_stat=t,
                           p_value=p, ci_lower=lo, ci_upper=hi)


# -- the globbed exact fit, shared by both engines ------------------------------
def _design_ranks(seed: int, rep: int, side: int, n: int, k: int) -> tuple[np.ndarray, bool]:
    """Row ranks of the rows that (rep, side)'s first fits run on, and
    whether those fits are final. With m = ((k+1)n)^(2/3) >= n/2 they are
    the whole side (its exact-n resample when rep >= 0) and the fits are
    final; otherwise default_rng([seed, 17, rep + 1, side]) draws m of the n
    positions without replacement, taken within the resample when rep >= 0
    (rep -1 is the point pass)."""
    resample = exact_n_index(seed, rep, side, n) if rep >= 0 else None
    m = int(round(((k + 1) * n) ** (2.0 / 3.0)))
    if 2 * m >= n:
        return (np.arange(n) if resample is None else resample), True
    pos = np.sort(np.random.default_rng([int(seed), 17, int(rep) + 1, int(side)]).choice(n, size=m, replace=False))
    return (pos if resample is None else resample[pos]), False


def _band_factor(X: np.ndarray) -> np.ndarray:
    """A with ||x A|| = sqrt(x' pinv(X'X) x), the leverage scale of a row's
    residual against a fit to X (rq.fit.pfn's band). Directions X does not
    span get zero columns."""
    lam, V = np.linalg.eigh(X.T @ X)
    keep = lam > 1e-12 * max(float(lam.max()), 1e-300)
    return np.where(keep, V / np.sqrt(np.where(keep, lam, 1.0)), 0.0)


def _keeps_signs(A: np.ndarray, Xd: np.ndarray, delta: np.ndarray, lo: float, hi: float) -> bool:
    """Whether every row globbed against a subsample fit provably keeps its
    sign at that fit plus ``delta``, without looking at the rows. A low row
    has r < s lo - tol with s = ||x A||; at the new fit its residual is
    r - x delta, and |x delta| <= s ||Xd delta|| (Cauchy-Schwarz, A of full
    rank), so lo + ||Xd delta|| <= 0 keeps it below -tol; likewise hi for
    the up rows. The 1% margin covers the roundoff of A."""
    if not np.abs(A).sum(axis=0).all():
        return False
    reach = 1.01 * float(np.linalg.norm(Xd @ delta))
    return lo + reach <= 0.0 and hi - reach >= 0.0


@dataclass
class _SidePlan:
    """What the row kernel needs for one side's globbed fits. ``fit`` are
    global fit ids; ``col`` indexes ``reps`` and ``factor`` per fit; ``beta``
    are the subsample fits; rows with scaled residual below ``lo`` (above
    ``hi``) are globbed, ``tol`` apart, unless ``kept`` lists their rank as
    a row of the fit's reduced problem; ``beta_star`` are the reduced fits
    under check."""

    seed: int
    side: int
    n: int
    reps: np.ndarray
    factor: np.ndarray
    fit: np.ndarray
    col: np.ndarray
    beta: np.ndarray
    lo: np.ndarray
    hi: np.ndarray
    tol: np.ndarray
    kept: dict = field(default_factory=dict)
    beta_star: np.ndarray | None = None


def _row_kernel(X: np.ndarray, y: np.ndarray, rn: np.ndarray, plan: _SidePlan) -> dict:
    """The row pass on one block of one side's rows (ranks ``rn``). Residuals
    against every fit are one GEMM per chunk of fits; each fit's globs are
    the multiplicity-weighted sums of its rows below and above the band
    (rank -1 and -2, multiplicity = the summed count). Without
    ``beta_star`` it emits the band rows; with it, the globbed rows whose
    residual against ``beta_star`` has the wrong sign (the violators, left
    out of the glob sums it emits). Returns columns fit, rn, w, y, X."""
    C = np.empty((len(y), len(plan.reps)))
    for i, r in enumerate(plan.reps):
        C[:, i] = 1.0 if r < 0 else exact_n_counts(plan.seed, int(r), plan.side, plan.n)[rn]
    scale = np.stack([np.sqrt(((X @ A) ** 2).sum(axis=1)) for A in plan.factor], axis=1)
    XY = np.column_stack([X, y])
    fit_o, row_o, w_o, glob_o = [], [], [], []
    for c0 in range(0, len(plan.fit), FIT_CHUNK):
        sl = slice(c0, c0 + FIT_CHUNK)
        col, tol, fits = plan.col[sl], plan.tol[sl], plan.fit[sl]
        Cf, band = C[:, col], scale[:, col]
        held = Cf > 0
        R = y[:, None] - X @ plan.beta[sl].T
        with np.errstate(invalid="ignore"):  # an infinite cut times a zero scale
            low = (R < band * plan.lo[sl] - tol) & held
            up = (R > band * plan.hi[sl] + tol) & held
        for j, f in enumerate(fits):
            if int(f) in plan.kept:
                hit = np.isin(rn, plan.kept[int(f)])
                low[hit, j] = up[hit, j] = False
        if plan.beta_star is None:
            emit = held & ~(low | up)
        else:
            Rs = y[:, None] - X @ plan.beta_star[sl].T
            emit = (low & (Rs > tol)) | (up & (Rs < -tol))
            low &= ~emit
            up &= ~emit
        rows, cols = np.nonzero(emit)
        fit_o.append(fits[cols])
        row_o.append(rows)
        w_o.append(Cf[rows, cols])
        for code, mask in ((-1, low), (-2, up)):
            W = Cf * mask
            w = W.sum(axis=0)
            has = np.flatnonzero(w > 0)
            glob_o.append((fits[has], np.full(len(has), code), w[has], (W.T @ XY)[has]))
    rows = np.concatenate(row_o)
    G = np.concatenate([g[3] for g in glob_o]) if glob_o else np.empty((0, X.shape[1] + 1))
    return {
        "fit": np.concatenate(fit_o + [g[0] for g in glob_o]).astype(np.int64),
        "rn": np.concatenate([rn[rows]] + [g[1] for g in glob_o]).astype(np.int64),
        "w": np.concatenate(w_o + [g[2] for g in glob_o]),
        "y": np.concatenate([y[rows], G[:, -1]]),
        "X": np.concatenate([X[rows], G[:, :-1]]),
    }


@dataclass
class _Reduced:
    """One fit's reduced problem: band rows (rank order, then each fix-up
    round's rows in rank order; with multiplicity) and the glob rows (rank
    -1 low, -2 up -> (x sum, y sum))."""

    rn: np.ndarray
    X: np.ndarray
    y: np.ndarray
    w: np.ndarray
    globs: dict

    def problem(self) -> tuple[np.ndarray, np.ndarray]:
        reps = self.w.astype(np.int64)
        gx = [self.globs[c][0][None, :] for c in (-1, -2) if c in self.globs]
        gy = [np.array([self.globs[c][1]]) for c in (-1, -2) if c in self.globs]
        return (np.concatenate([np.repeat(self.X, reps, axis=0)] + gx),
                np.concatenate([np.repeat(self.y, reps)] + gy))


def _split(em: dict) -> dict[int, _Reduced]:
    """A row pass's output per fit: rows in rank order, and glob partials
    summed in partition order."""
    o = np.lexsort((em["pid"], em["rn"], em["fit"]))
    fit, rn, w, y, X = (em[c][o] for c in ("fit", "rn", "w", "y", "X"))
    ids, start = np.unique(fit, return_index=True)
    out = {}
    for f, a, b in zip(ids.tolist(), start, np.r_[start[1:], len(fit)]):
        r = rn[a:b]
        nb = int(np.searchsorted(r, 0))  # globs (-2, -1) sort first
        globs = {}
        for code in (-2, -1):
            sel = np.flatnonzero(r[:nb] == code) + a
            if len(sel):
                globs[code] = (X[sel].sum(axis=0), y[sel].sum())
        out[f] = _Reduced(r[nb:], X[a + nb:b], y[a + nb:b], w[a + nb:b], globs)
    return out


def _array_rows(X: list[np.ndarray], y: list[np.ndarray]):
    """The side sizes, ``rows`` and ``row_pass`` of ``_fit_globbed`` for
    sides held as arrays: the kernel runs on blocks of ROW_BLOCK rows, as
    it runs on partitions in Spark."""

    def row_pass(plans):
        outs = []
        for s, plan in plans.items():
            for b0 in range(0, len(y[s]), ROW_BLOCK):
                b = slice(b0, b0 + ROW_BLOCK)
                out = _row_kernel(X[s][b], y[s][b], np.arange(len(y[s]))[b], plan)
                outs.append({**out, "pid": np.full(len(out["fit"]), b0 // ROW_BLOCK, np.int64)})
        return {c: np.concatenate([o[c] for o in outs]) for c in outs[0]}

    return ({s: len(ys) for s, ys in enumerate(y)},
            lambda wanted: {key: {s: (X[s][r], y[s][r]) for s, r in w.items()} for key, w in wanted.items()},
            row_pass)


def _waves(ids: list[int], cells: dict[int, float]):
    """Runs of consecutive ``ids`` whose summed ``cells`` stay within
    WAVE_CELLS (a fit that alone exceeds it is a wave of its own)."""
    wave, used = [], 0.0
    for i in ids:
        if wave and used + cells[i] > WAVE_CELLS:
            yield wave
            wave, used = [], 0.0
        wave.append(i)
        used += cells[i]
    if wave:
        yield wave


def _solve(args):
    X, y, tau = args
    try:
        return solve_qr_exact(X, y, tau)
    except (np.linalg.LinAlgError, RuntimeError, FloatingPointError, ValueError, OaxacaError):
        return None  # a numeric failure: the fit counts as failed


def _fit_globbed(seed, k, ns, taus_by_rep, rows, row_pass, pool) -> dict[tuple[int, int], list[np.ndarray]]:
    """Every (rep, side, tau) fit by the globbed exact LP. ``rows(wanted)``
    fetches key -> side -> (X, y) of the ranks ``wanted[key][side]`` (any
    order, repeats included); ``row_pass(plans)`` runs ``_row_kernel`` over
    each planned side's rows and returns its output with a ``pid`` column.
    Returns betas[(rep, side)]: the fits that succeeded, in tau order."""
    keys = [(r, s, t) for r in taus_by_rep for s in ns for t in range(len(taus_by_rep[r]))]
    tau = [taus_by_rep[r][t] for r, _, t in keys]
    design = {(r, s): _design_ranks(seed, r, s, n, k) for r in taus_by_rep for s, n in ns.items()}
    data = {rs: got[rs[1]] for rs, got in rows({rs: {rs[1]: d[0]} for rs, d in design.items()}).items()}
    beta = dict(zip(keys, pool.map(_solve, [(*data[key[:2]], t) for key, t in zip(keys, tau)])))

    # the fits of subsampled sides: cut their bands
    factor = {rs: _band_factor(data[rs][0]) for rs, (_, whole) in design.items() if not whole}
    cut = {}
    for i, key in enumerate(keys):
        if key[:2] not in factor or beta[key] is None:
            continue
        Xd, yd = data[key[:2]]
        z = (yd - Xd @ beta[key]) / np.maximum(np.sqrt(((Xd @ factor[key[:2]]) ** 2).sum(axis=1)), 1e-300)
        h = BAND * len(yd) / (2.0 * ns[key[1]])
        cut[i] = (np.quantile(z, tau[i] - h) if tau[i] - h > 0.0 else -np.inf,
                  np.quantile(z, tau[i] + h) if tau[i] + h < 1.0 else np.inf,
                  1e-9 * tol_scale(yd))
    # then glob them in waves: a wave's band rows (about BAND x m a fit, k + 5
    # cells a row as the row pass emits them) stay within WAVE_CELLS, and its
    # reduced problems are dropped once solved
    cells = {i: (BAND * len(data[keys[i][:2]][1]) + 2) * (k + 5) for i in cut}
    for wave in _waves(sorted(cut), cells):
        plans = {}
        for s, n in ns.items():
            ids = [i for i in wave if keys[i][1] == s]
            if not ids:
                continue
            reps = np.unique([keys[i][0] for i in ids])
            plans[s] = _SidePlan(
                seed=seed, side=s, n=n, reps=reps, factor=np.stack([factor[(r, s)] for r in reps.tolist()]),
                fit=np.array(ids, dtype=np.int64), col=np.searchsorted(reps, [keys[i][0] for i in ids]),
                beta=np.stack([beta[keys[i]] for i in ids]),
                **{a: np.array([cut[i][j] for i in ids]) for j, a in enumerate(("lo", "hi", "tol"))},
            )
        reduced = _split(row_pass(plans))
        pending = wave
        while pending:
            sols = pool.map(_solve, [(*reduced[i].problem(), tau[i]) for i in pending])
            # a fit whose globs provably keep their signs is final; the rest
            # are checked row by row in one pass
            checks = {}
            for i, b in zip(pending, sols):
                rs = keys[i][:2]
                if b is None or _keeps_signs(factor[rs], data[rs][0], b - beta[keys[i]], *cut[i][:2]):
                    beta[keys[i]] = b
                else:
                    checks[i] = b
            for s, plan in list(plans.items()):
                on = np.array([int(f) in checks for f in plan.fit], dtype=bool)
                if not on.any():
                    del plans[s]
                    continue
                plans[s] = replace(
                    plan, **{a: getattr(plan, a)[on] for a in ("fit", "col", "beta", "lo", "hi", "tol")},
                    kept={int(f): reduced[int(f)].rn for f in plan.fit[on]},
                    beta_star=np.stack([checks[int(f)] for f in plan.fit[on]]),
                )
            found = _split(row_pass(plans)) if plans else {}
            pending = []
            for i, b in checks.items():
                if i in found and len(found[i].rn):
                    # the band, then the violators, with the new globs
                    band = (np.concatenate([getattr(reduced[i], a), getattr(found[i], a)]) for a in ("rn", "X", "y", "w"))
                    reduced[i] = _Reduced(*band, found[i].globs)
                    pending.append(i)
                else:
                    beta[keys[i]] = b
            pending.sort()
    betas: dict[tuple[int, int], list[np.ndarray]] = {}
    for key in keys:
        if beta[key] is not None:
            betas.setdefault(key[:2], []).append(beta[key])
    return betas


class QuantileDecompositionBuilder:
    """Mirror of QuantileDecompositionBuilder (quantile_decomposition.rs:46-94).

    Defaults: quantiles [0.1,0.25,0.5,0.75,0.9], simulations=200,
    bootstrap_reps=20.
    """

    def __init__(self, dataframe: DataFrame, outcome: str, group: str, reference_group: str):
        self._df = dataframe
        self._outcome = outcome
        self._group = group
        self._reference_group = reference_group
        self._predictors: list[str] = []
        self._categorical_predictors: list[str] = []
        self._quantiles = [0.1, 0.25, 0.5, 0.75, 0.9]
        self._simulations = 200
        self._bootstrap_reps = 20
        self._seed = 42
        self._fit_engine = "auto"
        self._design_cache = None

    def predictors(self, cols) -> "QuantileDecompositionBuilder":
        self._predictors = list(cols)
        self._design_cache = None  # design-shaping setter: drop the memo
        return self

    def categorical_predictors(self, cols) -> "QuantileDecompositionBuilder":
        self._categorical_predictors = list(cols)
        self._design_cache = None  # design-shaping setter: drop the memo
        return self

    def quantiles(self, qs) -> "QuantileDecompositionBuilder":
        self._quantiles = list(qs)
        return self

    def simulations(self, s: int) -> "QuantileDecompositionBuilder":
        self._simulations = int(s)
        return self

    def bootstrap_reps(self, reps: int) -> "QuantileDecompositionBuilder":
        self._bootstrap_reps = int(reps)
        return self

    def seed(self, seed: int) -> "QuantileDecompositionBuilder":
        self._seed = int(seed)
        return self

    def fit_engine(self, engine: str) -> "QuantileDecompositionBuilder":
        """'auto' (default): 'driver' when the design fits the driver collect
        limit (cells counted BEFORE collecting), else 'distributed' — a user
        at scale gets the distributed engine instead of an error.

        Both engines fit every (replicate, group, tau) quantile regression
        as the exact LP optimum (``solve_qr_exact``: simplex basis exchange
        with line-search pivots from the OLS plane, an IRLS start only for
        degenerate vertices), the reference's interior-point semantics
        (quantile_regression.rs:22-129) without an LP dependency, after
        Portnoy-Koenker globbing (see the module docstring): a seeded
        subsample fit, a band of rows kept as they are, the rest summed into
        two glob rows, and a sign check with fix-up rounds. The LP solves run
        on the driver in a thread pool sized to the usable cores.

        'driver': collect group matrices once (COLLECT_LIMIT-guarded); the
        row passes run in NumPy on the collected arrays.

        'distributed' (the scale path): rows stay in Spark. Each row pass is
        one ``mapInPandas`` over the pinned design; only the subsample rows,
        the band rows, the glob sums and the sign violators reach the
        driver, about ((k+1)n)^(2/3) rows per fit, in waves of about
        WAVE_CELLS cells. Resamples enter as multiplicities
        (``exact_n_counts``), so no row is duplicated across replicates or
        taus. A run takes one row pass for the subsample rows, one glob
        pass per wave (plus a sign-check pass when some fit's globs are not
        provably sign-stable, and one per fix-up round) and one for the
        simulation picks.

        Both engines read the same seeded streams (tau draws, exact-n
        resamples, subsamples, simulation picks) and solve the same reduced
        LPs, so they agree to the roundoff of the glob sums. On tied
        outcomes an optimal face can be flat, and that roundoff could then
        pick another vertex of the face (the same check loss, other
        effects); the tied panels of the test suite land on the same one.
        """
        if engine not in ("auto", "driver", "distributed"):
            raise ValueError("fit engine must be 'auto', 'driver' or 'distributed'")
        self._fit_engine = engine
        return self

    # -- Spark side: prep + matrix extraction ---------------------------------
    def _prepare_design(self):
        # memoized: the 'auto' engine resolution and the chosen engine both
        # need it; the dummy-level and group-level distinct scans run once.
        # Design-shaping setters (predictors/categorical_predictors) reset
        # the memo so a run() -> reconfigure -> run() sequence refits on the
        # new design instead of silently reusing the stale one.
        if self._design_cache is not None:
            return self._design_cache
        cols = [self._outcome, self._group] + self._predictors + self._categorical_predictors
        existing = set(self._df.columns)
        for c in cols:
            if c not in existing:
                raise OaxacaError(f"Column not found: {c}")
        df = self._df.select(*cols).dropna(subset=cols)

        dummy_names: list[str] = []
        for var in self._categorical_predictors:
            levels = _levels(df, var)
            for lv in levels[1:]:
                name = f"{var}_{lv}"
                df = df.withColumn(name, (F.col(var) == F.lit(lv)).cast("double"))
                dummy_names.append(name)

        uniques = _levels(df, self._group)
        if len(uniques) < 2:
            raise InvalidGroupVariable("Not enough groups")
        group_b = self._reference_group
        group_a = uniques[0] if uniques[0] != group_b else uniques[1]

        xcols = [INTERCEPT] + self._predictors + dummy_names
        df = df.withColumn(INTERCEPT, F.lit(1.0))
        for p in self._predictors:
            df = df.withColumn(p, F.col(p).cast("double"))
        self._design_cache = (df, xcols, group_a, group_b)
        return self._design_cache

    # -- where the rows live -----------------------------------------------------
    def _driver_rows(self, design, xcols, group_a):
        """One collect of both sides; ``run`` has already row-guarded it. A
        row's rank is its index in the collected side array — the same order
        as the distributed engine's ranks. Returns ``_array_rows``."""
        pdf = design.select(self._group, self._outcome, *xcols).toPandas()
        X, y = [], []
        for in_a in (True, False):
            sub = pdf[(pdf[self._group] == group_a) == in_a]
            if len(sub) < 2:
                raise InvalidGroupVariable("One group has insufficient data")
            X.append(sub[xcols].to_numpy(dtype=np.float64))
            y.append(sub[self._outcome].to_numpy(dtype=np.float64))
        finite = np.isfinite(np.column_stack([np.r_[y[0], y[1]], np.vstack(X)])).all(axis=0)
        _raise_if_infinite([self._outcome] + xcols, finite)
        return _array_rows(X, y)

    def _spark_rows(self, design, xcols, group_a, group_b, pin):
        """Pin the projected design in its source layout and count each
        side's rows per partition; ``rows`` and ``row_pass`` are one
        ``mapInPandas`` pass over the pinned frame each. A row's rank within
        its side is its side's row count in earlier partitions plus its
        place in its own partition: the order the driver engine collects
        in. The first ``rows`` pass also raises on +-Infinity."""
        import pandas as pd

        # pinned BEFORE the rows are counted: read twice, an unpinned plan
        # may be laid out differently each time (AQE, observed at small SFs
        # with a sorted input), and the counts would then describe another
        # layout than the one the passes rank
        gcol, outcome, k = self._group, self._outcome, len(xcols)
        design = pin(design.select(gcol, outcome, *xcols).withColumn(
            "__mm_pid", F.spark_partition_id().cast("long")
        ))
        offsets, totals, _ = partition_cells(design, "__mm_pid", {"__mm_n": F.lit(1)}, gcol)
        side_of = {group_a: 0, group_b: 1}
        offset = {(side_of[g], p): int(off[0]) for (g, p), off in offsets.items()}
        schema = "fit long, pid long, rn long, w double, y double, " + ", ".join(f"x{j} double" for j in range(k))

        def run_pass(block):
            """``block(side, X, y, rn)`` -> kernel columns, over every
            partition's rows of each side; returns them concatenated."""

            def compute(iterator):
                by: dict = {}
                pid = None
                for pdf in iterator:
                    for gval, sub in pdf.groupby(gcol, sort=False):
                        by.setdefault(side_of[gval], []).append(sub)
                        pid = int(sub["__mm_pid"].iloc[0])
                for s, parts in by.items():
                    sub = pd.concat(parts, ignore_index=True)
                    rn = offset[(s, pid)] + np.arange(len(sub), dtype=np.int64)
                    out = block(s, sub[xcols].to_numpy(dtype=np.float64), sub[outcome].to_numpy(dtype=np.float64), rn)
                    if out is None:
                        continue
                    Xo = out.pop("X")
                    out["pid"] = np.full(len(out["fit"]), pid, np.int64)
                    yield pd.DataFrame({**out, **{f"x{j}": Xo[:, j] for j in range(k)}})

            pdf = design.mapInPandas(compute, schema=schema).toPandas()
            em = {c: pdf[c].to_numpy() for c in ("fit", "pid", "rn", "w", "y")}
            return {**em, "X": pdf[[f"x{j}" for j in range(k)]].to_numpy(np.float64).reshape(-1, k)}

        def rows(wanted):
            """``rows`` of ``_fit_globbed``, each rank fetched once. Each
            block also reports whether its columns are finite (rank -1, fit
            = the side, y and X = 1.0 when finite)."""
            distinct = {s: np.unique(np.concatenate([w.get(s, []) for w in wanted.values()])).astype(np.int64)
                        for s in (0, 1)}

            def fetch(s, X, y, rn):
                want = distinct[s]
                at = np.minimum(np.searchsorted(want, rn), max(len(want) - 1, 0))
                hit = np.flatnonzero(want[at] == rn) if len(want) else np.empty(0, np.int64)
                flags = np.r_[np.isfinite(y).all(), np.isfinite(X).all(axis=0)].astype(np.float64)
                return {"fit": np.full(len(hit) + 1, s, np.int64), "rn": np.r_[rn[hit], -1],
                        "w": np.ones(len(hit) + 1), "y": np.r_[y[hit], flags[0]],
                        "X": np.concatenate([X[hit], flags[None, 1:]])}

            em = run_pass(fetch)
            flag = em["rn"] < 0
            _raise_if_infinite([outcome] + list(xcols), np.r_[em["y"][flag].all(), em["X"][flag].all(axis=0)])
            out: dict = {}
            for s in (0, 1):
                sel = np.flatnonzero((em["fit"] == s) & ~flag)
                sel = sel[np.argsort(em["rn"][sel], kind="stable")]
                for key, w in wanted.items():
                    if s in w:
                        at = sel[np.searchsorted(distinct[s], w[s])]
                        out.setdefault(key, {})[s] = em["X"][at], em["y"][at]
            return out

        def row_pass(plans):
            return run_pass(lambda s, X, y, rn: _row_kernel(X, y, rn, plans[s]) if s in plans else None)

        return {0: totals[group_a][0], 1: totals[group_b][0]}, rows, row_pass

    def run(self) -> QuantileDecompositionResults:
        design, xcols, group_a, group_b = self._prepare_design()
        design = design.filter(F.col(self._group).isin([group_a, group_b]))
        engine = self._fit_engine
        if engine != "distributed":
            # one row guard, counted BEFORE collecting: 'auto' (like
            # AkmBuilder.engine("auto")) fits on the driver while the design
            # fits the collect limit and falls back to the distributed engine
            # past it; an explicit 'driver' raises instead of risking an OOM
            fits = design.count() * len(xcols) <= COLLECT_LIMIT_CELLS
            if engine == "driver" and not fits:
                raise OaxacaError(
                    "Group matrices exceed the driver collect limit for Machado-Mata; "
                    "use fit_engine('distributed') (or 'auto'), or raise COLLECT_LIMIT_CELLS"
                )
            engine = "driver" if fits else "distributed"
        S, B, seed = self._simulations, self._bootstrap_reps, self._seed
        streams = {r: _rep_streams(seed, S, r) for r in range(-1, B)}
        taus_by_rep = {r: taus for r, (taus, _) in streams.items()}
        # a fit holds the GIL between its NumPy calls, so threads beyond the
        # cores only contend
        workers = max(1, min(_usable_cores(), 2 * S * (B + 1)))
        with pinned() as pin, ThreadPoolExecutor(max_workers=workers) as pool:
            if engine == "driver":
                ns, rows, row_pass = self._driver_rows(design, xcols, group_a)
            else:
                ns, rows, row_pass = self._spark_rows(design, xcols, group_a, group_b, pin)
            n_a, n_b = ns[0], ns[1]
            betas = _fit_globbed(seed, len(xcols), ns, taus_by_rep, rows, row_pass, pool)

            # per-replicate simulation plan, picks translated to original row ranks
            plans, failed = {}, 0
            for r, (_, pick_rng) in streams.items():
                ba, bb = betas.get((r, 0), []), betas.get((r, 1), [])
                if len(ba) < S / 2 or len(bb) < S / 2:
                    if r < 0:
                        raise OaxacaError("Failed to estimate a sufficient number of quantile regressions.")
                    failed += 1
                    continue
                picks = {s: pick_rng.integers(0, n, size=min(len(ba), len(bb))) for s, n in ns.items()}
                if r >= 0:
                    picks = {s: exact_n_index(seed, r, s, ns[s])[p] for s, p in picks.items()}
                plans[r] = ba, bb, picks
            if failed:
                warn(
                    f"{failed} out of {B} bootstrap replications failed and "
                    f"were discarded. The analysis is based on {B - failed} successful "
                    "replications."
                )
            picked = rows({r: picks for r, (_, _, picks) in plans.items()})
        effects = {
            r: _effects(self._quantiles, ba, bb, picked[r][0][0], picked[r][1][0])
            for r, (ba, bb, _) in plans.items()
        }
        point = effects.pop(-1)
        boot = list(effects.values())
        names = ("Total Gap", "Characteristics", "Coefficients")
        results = {
            key: QuantileDecompositionDetail(*(
                _component(name, est[j], [b[key][j] for b in boot]) for j, name in enumerate(names)
            ))
            for key, est in point.items()
        }
        return QuantileDecompositionResults(
            results_by_quantile=results, n_a=n_a, n_b=n_b, n_failed_reps=failed
        )
