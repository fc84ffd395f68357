"""Machado-Mata quantile decomposition (SURVEY M13).

Reference: /root/reference/oaxaca_blinder/src/quantile_decomposition.rs.

Two fit engines, one orchestration (``run``):

- 'driver': collect both groups' matrices once, then exact LP-vertex fits
  (solve_qr_exact: line-search simplex pivots from the OLS plane) in a
  thread pool sized to the usable cores — the reference's rayon design
  (quantile_decomposition.rs:221-229), guarded by COLLECT_LIMIT_CELLS;
- 'distributed' (scale path): Gram-Newton on the convolution-smoothed check
  loss (conquer-style smoothed QR) — every (replicate, group, tau) quantile
  regression iterates simultaneously, each Newton iteration one mapInPandas
  pass emitting score/Hessian Gram partials; only O(models x k^2)
  statistics ever reach the driver, data never duplicates across replicates
  or taus. Smoothing (h = 0.01 x sd) makes the optimum unique, so the
  distributed reduce's summation order cannot move the argmin along the
  check loss's flat faces (it moved IRLS by ~0.3% of outcome scale).

The engines differ only in how they produce the per-(replicate, side) beta
lists. Everything else is shared: the seeded streams, the failed-replicate
rule, the simulation picks, the effects and the bootstrap assembly, so an
engine switch moves results only through the QR solver.

Determinism: tau draws, simulation row picks and bootstrap resamples all come
from numpy Generators seeded from the builder seed (the reference uses
thread_rng — unseeded; we improve on that, SURVEY §7.1).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import InvalidGroupVariable, NonNumericData, OaxacaError, warn
from .operators.bootstrap import bootstrap_stats
from .operators.quantile_regression import exact_n_index, solve_qr_exact
from .operators.scan import partition_offsets, release
from .results import ComponentResult

INTERCEPT = "__ob_intercept__"
COLLECT_LIMIT_CELLS = 50_000_000

# Gram-engine smoothing schedule (see _fit_gram): target bandwidth fraction
# of sd(y), anneal start fraction, per-pass shrink. Module-level so the
# schedule-invariance test can vary the HOMOTOPY PATH and assert the
# converged answer (the unique optimum of the target-h loss) doesn't move.
GRAM_H_FRAC = 0.01
GRAM_H0_FRAC = 0.5
# r8: SHRINK 0.125 (target h one pass earlier) was tried and reverted —
# the tied parity fixture's flat faces need the gentler 0.25 homotopy
# (the 8x per-pass h jump overshoots the moving optimum and the damped
# iterate lands on a different face vertex than the exact LP solution).
# r12: (H0 0.125, SHRINK 0.1) and (H0 0.25, SHRINK 0.25) prototyped for the
# cadence ask — 15-18% faster at sf0.1 (in-process ABAB, value drift
# <= 7.3e-12) but BOTH strand a degenerate small-n bootstrap resample of
# the tied parity fixture in the zero-curvature far field (its replicate
# fit blows std_err 0.59 -> 33, the r8 failure mode) — rejected with data;
# profile + ABAB table in NOTES_r12. Do not re-propose without a
# per-model adaptive anneal start.
GRAM_SHRINK = 0.25
# r13: the per-model adaptive anneal start the r12 rejection called for.
# The r12 data said a 0.125 x sd start is safe for EVERY real-data model
# (uniform-0.125 ABAB converged with value drift <= 7.3e-12) and fails only
# for degenerate small-n bootstrap resamples. What "degenerate" turns out
# to mean, measured on the tied parity fixture (r13): NOT OLS interpolation
# (the stranding replicate's sd_resid/sd is ~0.7, same as real data) but
# KERNEL STARVATION — with n = 20 rows per side, a 0.125 x sd start puts
# the expected number of points inside the kernel window at
# n x h0 / sd_resid ~ 3.6, so the smoothed Hessian is built from ~zero
# effective observations and the first Newton step leaves the basin (the
# r8 failure mode; std_err 0.707 -> 48 when the ratio-only rule was tried
# first this round). Both hazards are detectable driver-side for free from
# the init pass's own Gram stats (SSR = y'Wy - 2 b'X'Wy + b'X'WXb):
#   1. sd_resid >= GRAM_ADAPT_MIN_RESID_RATIO x sd(y) — an interpolating
#      fit (sd_resid ~ 0) must keep the conservative start;
#   2. n x (GRAM_H0_ADAPT_FRAC x sd) / sd_resid >= GRAM_ADAPT_MIN_KERNEL_MASS
#      — the start bandwidth must cover enough observations to estimate
#      curvature (real sf0.1 sides run ~1e5+, fixtures ~20: cleanly split).
# Models passing BOTH start at GRAM_H0_ADAPT_FRAC x sd — one fewer anneal
# pass (12.5 x 0.25^2 < 1 vs 50 x 0.25^3 < 1); anything suspicious keeps
# the proven GRAM_H0_FRAC schedule, so every prior fixture is bit-safe.
GRAM_H0_ADAPT_FRAC = 0.125
GRAM_ADAPT_MIN_RESID_RATIO = 0.25
GRAM_ADAPT_MIN_KERNEL_MASS = 64.0


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


def _raise_if_infinite(names: list[str], finite) -> None:
    """NonNumericData for the first column whose ``finite`` flag is False
    (names: the outcome, then the design columns)."""
    for name, ok in zip(names, finite):
        if not ok:
            raise NonNumericData(name, "infinite values")


def _effects(quantiles, row_of, ba, bb, rank_a, rank_b) -> dict[str, tuple[float, float, float]]:
    """quantile_decomposition.rs:231-279: predict each simulated row with
    its own tau's betas (A rows x A betas, B x B, and the counterfactual A
    rows x B betas), then the floor-index quantiles of the three samples
    give (gap, characteristics, coefficients). ``row_of(side, rank)`` is the
    engine's covariate row lookup."""
    m = len(rank_a)
    y_aa = np.array([row_of(0, rank_a[i]) @ ba[i] for i in range(m)])
    y_bb = np.array([row_of(1, rank_b[i]) @ bb[i] for i in range(m)])
    y_ab = np.array([row_of(0, rank_a[i]) @ bb[i] for i in range(m)])
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
        at scale gets the Gram engine instead of an error.

        'driver': collect group matrices once, NumPy fits in a thread pool
        sized to the usable cores (reference's rayon shape;
        COLLECT_LIMIT-guarded). Each fit is the exact LP-vertex optimum
        (solve_qr_exact: simplex basis exchange with line-search pivots from
        the OLS plane, an IRLS start only for degenerate vertices) — the
        reference's interior-point semantics (quantile_regression.rs:22-129)
        without an LP dependency.

        'distributed' (the scale path): Gram-Newton on the smoothed check
        loss — every (replicate, group, tau) quantile regression iterates
        simultaneously; each Newton iteration is ONE mapInPandas pass over
        the unexploded projection computing smoothed score/Hessian Gram
        partials (X'DX upper triangle, X'v) for all active models with two
        BLAS GEMMs per partition, and the driver performs the k x k solves. No row is ever duplicated across
        replicates or taus — resampling is multiplicity-weighted via
        ``exact_n_counts`` — so shuffle volume is O(n) per iteration and
        driver traffic is O(models x k^2), independent of n.

        Both engines read the same seeded streams (tau draws, exact-n
        resamples, simulation picks), so bootstrap standard errors differ
        between them only through the QR solver.
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
            levels = [r[0] for r in df.select(var).distinct().orderBy(var).collect() if r[0] is not None]
            for lv in levels[1:]:
                name = f"{var}_{lv}"
                df = df.withColumn(name, (F.col(var) == F.lit(lv)).cast("double"))
                dummy_names.append(name)

        uniques = [r[0] for r in df.select(self._group).distinct().orderBy(self._group).collect() if r[0] is not None]
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

    # -- driver engine ----------------------------------------------------------
    def _driver_engine(self, design, xcols, group_a, taus_by_rep):
        """One collect of both sides, then exact-LP fits in a thread pool
        with one thread per usable core (quantile_decomposition.rs:173-229):
        a fit holds the GIL between its NumPy calls, so threads beyond the
        cores only contend. A row's rank is its index in the collected side
        array — the same order as the Gram engine's
        ``__mm_rn``. ``run`` has already row-guarded the collect."""
        pdf = design.select(self._group, self._outcome, *xcols).toPandas()
        X, y = [], []
        for in_a in (True, False):
            sub = pdf[(pdf[self._group] == group_a) == in_a]
            if len(sub) < 2:
                raise InvalidGroupVariable("One group has insufficient data")
            X.append(sub[xcols].to_numpy(dtype=np.float64))
            y.append(sub[self._outcome].to_numpy(dtype=np.float64))
        _raise_if_infinite(
            [self._outcome] + xcols,
            np.logical_and(*(np.r_[np.isfinite(y[s]).all(), np.isfinite(X[s]).all(axis=0)]
                             for s in (0, 1))),
        )

        def fit(args):
            Xs, ys, tau = args
            try:
                return solve_qr_exact(Xs, ys, tau)
            except (np.linalg.LinAlgError, RuntimeError, FloatingPointError, ValueError, OaxacaError):
                return None  # a numeric failure: the fit counts as failed

        betas: dict[tuple[int, int], list[np.ndarray]] = {}
        n_fits = 2 * sum(len(taus) for taus in taus_by_rep.values())
        with ThreadPoolExecutor(max_workers=max(1, min(_usable_cores(), n_fits))) as pool:
            for r, taus in taus_by_rep.items():
                fits = {}
                for s in (0, 1):
                    Xs, ys = X[s], y[s]
                    if r >= 0:
                        idx = exact_n_index(self._seed, r, s, len(ys))
                        Xs, ys = Xs[idx], ys[idx]
                    fits[s] = pool.map(fit, [(Xs, ys, t) for t in taus])
                for s, it in fits.items():
                    betas[(r, s)] = [b for b in it if b is not None]
        # every row is already here: the row lookup needs no fetch
        return len(y[0]), len(y[1]), betas, lambda needed: lambda s, i: X[s][i]

    # -- distributed (Gram) engine ------------------------------------------------
    def _gram_engine(self, design, xcols, group_a, group_b, taus_by_rep, pins):
        """Rank rows per group, fit every (replicate, side, tau) model with
        ``_fit_gram`` and collect only the covariate rows the simulation
        picks. Exact-n resamples enter as multiplicity weights
        (``exact_n_counts``), so no resampled data is ever shuffled. The
        frames it checkpoints are appended to ``pins``."""
        from pyspark.sql import Window

        # stable per-group row rank: fixes row order inside executor tasks
        # (and the driver's pick translation). A window partitioned only by
        # group would funnel each group through one task; ranking instead
        # windows each (group, source partition) cell, offset by the group's
        # rows in earlier partitions (monotonically_increasing_id is
        # (partition << 33) + local index).
        # CHECKPOINT BEFORE the offsets are counted, not after the join: the
        # offsets job and the rank-window job otherwise execute the plan
        # twice, and AQE may lay out the upstream exchange differently
        # between them (observed at small SFs with a sorted input) — the
        # per-(group, pid) counts then describe a DIFFERENT layout than
        # the one the window ranks, silently scrambling the pick
        # translation and breaking exact rerun reproducibility. Pinning
        # the ids first makes both jobs read the same materialized layout
        # (the join+window is deterministic given pinned input).
        design = design.withColumn("__mm_mid", F.monotonically_increasing_id()).withColumn(
            "__mm_pid", F.shiftrightunsigned(F.col("__mm_mid"), 33)
        ).localCheckpoint()
        pins.append(design)
        counted, totals = partition_offsets(design, "__mm_pid", {"__mm_off": F.lit(1)}, self._group)
        w = Window.partitionBy(self._group, "__mm_pid").orderBy("__mm_mid")
        ranked = counted.withColumn(
            "__mm_rn", F.col("__mm_off") + F.row_number().over(w) - 1
        ).drop("__mm_pid", "__mm_off")
        n_a, n_b = totals[group_a][0], totals[group_b][0]
        proj = (
            ranked.select(self._group, "__mm_rn", self._outcome, *xcols)
            .repartition(design.sparkSession.sparkContext.defaultParallelism)
            .localCheckpoint()
        )
        pins.append(proj)
        betas = self._fit_gram(proj, xcols, group_a, group_b, taus_by_rep, n_a, n_b)

        def rows(needed: dict[int, set[int]]):
            want = ranked.filter(
                ((F.col(self._group) == group_a) & F.col("__mm_rn").isin(sorted(needed[0])))
                | ((F.col(self._group) == group_b) & F.col("__mm_rn").isin(sorted(needed[1])))
            ).select(self._group, "__mm_rn", *xcols).collect()
            rows_by = {
                (0 if r_[self._group] == group_a else 1, int(r_["__mm_rn"])):
                    np.array([float(r_[c]) for c in xcols])
                for r_ in want
            }
            return lambda s, i: rows_by[(s, int(i))]

        return n_a, n_b, betas, rows

    def _fit_gram(
        self, proj, xcols, group_a, group_b, taus_by_rep, n_a, n_b
    ) -> dict[tuple[int, int], list[np.ndarray]]:
        """Gram-Newton on the convolution-smoothed check loss: all (rep,
        side, tau) quantile regressions iterate simultaneously; each Newton
        iteration is one mapInPandas pass over the unexploded projection.

        Solver: conquer-style smoothed quantile regression (Fernandes, Guerre
        & Horowitz 2021 JoE; He, Pan, Tan & Zhou 2023 "smoothed quantile
        regression with large-scale inference") — minimize (rho_tau * K_h)(r)
        with a Gaussian kernel. Why not the exact check loss here: on tied /
        discrete data the check-loss argmin is a FLAT face whose interior
        IRLS traverses slowly and lands on chaotically (the stop point moves
        by O(face diameter) under summation-order perturbation, which a
        distributed reduce cannot pin). The smoothed loss is smooth and
        strictly convex, so its minimizer is UNIQUE, Newton converges in
        ~6-10 passes, and partition/summation order moves the result by
        ~1e-10 (measured), not hundreds. Bandwidth h = 0.01 x sd_rep(y):
        smoothing bias is O(h^2) and measured effects sit within ~0.1% of
        the exact-LP-vertex oracle — inside the documented 0.3% flat-face
        bound that already governs IRLS-vs-LP divergence. Globalization:
        anneal h from 1.0 x sd (halving per pass) plus driver-side adaptive
        damping and a trust clamp (see the Newton loop below).

        Per pass each partition emits ONE row per group side holding the
        flattened (L + k) x m_active block [Ptri' (d_m c_rep); X' (v_m
        c_rep)] where d/v are the smoothed-loss Hessian/score row weights,
        Ptri the n x k(k+1)/2 upper-triangle product matrix, and c_rep the
        exact-n resample multiplicities (``exact_n_counts``) — a
        count-weighted fit is the identical estimator to fitting the
        materialized resample. Shuffle volume is O(n) data + O(partitions x
        models x k^2) stats regardless of reps — the 100x-scale fix for the
        crossJoin fan-out. Converged (rep, side, tau) models leave the
        payload, so late passes compute only stragglers. Reference
        semantics: quantile_regression.rs:22-129 (same population target;
        the reference's Clarabel LP picks a vertex of the same optimal
        face).
        """
        import pandas as pd

        B = self._bootstrap_reps
        S = self._simulations
        seed = self._seed
        gcol = self._group
        outcome = self._outcome
        k = len(xcols)
        tri = [(i, j) for i in range(k) for j in range(i, k)]
        L = len(tri)
        MAX_ITER, TOL, RIDGE = 60, 1e-9, 1e-12
        # Anneal schedule: h starts at H0_FRAC x sd and shrinks by SHRINK per
        # pass down to the H_FRAC x sd target. The converged result is the
        # unique optimum of the TARGET-h smoothed loss, so the schedule only
        # affects globalization robustness and pass count, not the answer:
        # (0.5, 0.25) reaches target at pass 3 (50 x 0.25^3 < 1) instead of
        # the old (1.0, 0.5)'s pass 7 — ~40% fewer full-data passes, with
        # the adaptive damping + trust clamp absorbing the larger h steps.
        H_FRAC, H0_FRAC, SHRINK = GRAM_H_FRAC, GRAM_H0_FRAC, GRAM_SHRINK
        # CHUNK bounds the n_p x CHUNK residual/weight blocks per task.
        # Profiled at n_p ~ 12.5k (sf0.1 / 32 partitions): 64-wide blocks
        # (~6 MB working set, L2/L3-resident) run the identical arithmetic
        # ~2.8x faster than the old 256-wide blocks, whose ~25 MB
        # temporaries thrash cache across the ~10 full-size intermediates.
        CHUNK = 64

        rep_list = list(range(-1, B))
        side_of = {group_a: 0, group_b: 1}
        n_by_side = {0: n_a, 1: n_b}
        models = [(r, s, t) for r in rep_list for s in (0, 1) for t in range(S)]
        M = len(models)
        model_rep = np.array([m[0] for m in models], dtype=np.int64)
        model_side = np.array([m[1] for m in models], dtype=np.int64)
        model_tidx = np.array([m[2] for m in models], dtype=np.int64)
        model_tau = np.array([taus_by_rep[r][t] for (r, s, t) in models])
        betas_arr = np.zeros((M, k))
        status = np.zeros(M, dtype=np.int8)  # 0 active, 1 converged/stopped, 2 failed
        xcols_l = list(xcols)
        tri_l = list(tri)
        n_by_side_l = dict(n_by_side)
        side_of_l = dict(side_of)

        def run_pass(payload: dict) -> dict[int, np.ndarray]:
            """One mapInPandas pass. payload: side -> dict(mode, ureps[,
            repcol, taus, betas, h]). Returns side -> summed stat block:
            (L+k+3) x nreps for mode 'ols' (adds count/sum/sumsq y-moment
            rows for the bandwidth), (L+k) x m for mode 'newton'."""

            def compute(iterator, payload=payload):
                from pyspark import TaskContext

                from oaxaca_blinder_rs_spark.functions.mathx import erf_np
                from oaxaca_blinder_rs_spark.operators.quantile_regression import (
                    exact_n_counts,
                )

                _SQRT2 = np.sqrt(2.0)
                _SQRT2PI = np.sqrt(2.0 * np.pi)

                ctx = TaskContext.get()
                pid = ctx.partitionId() if ctx is not None else 0
                by: dict = {}
                for pdf in iterator:
                    for gval, sub in pdf.groupby(gcol, sort=False):
                        by.setdefault(gval, []).append(sub)
                rows = []
                for gval, parts in by.items():
                    s = side_of_l[gval]
                    pl = payload.get(s)
                    if pl is None:
                        continue
                    sub = pd.concat(parts, ignore_index=True)
                    X = sub[xcols_l].to_numpy(dtype=np.float64)
                    y = sub[outcome].to_numpy(dtype=np.float64)
                    rn = sub["__mm_rn"].to_numpy(dtype=np.int64)
                    n_side = n_by_side_l[s]
                    ureps = pl["ureps"]
                    C = np.empty((len(rn), len(ureps)))
                    for ci, r in enumerate(ureps):
                        if r < 0:
                            C[:, ci] = 1.0
                        else:
                            C[:, ci] = exact_n_counts(seed, int(r), s, n_side)[rn]
                    P = np.empty((len(rn), L))
                    for c0, (i, j) in enumerate(tri_l):
                        P[:, c0] = X[:, i] * X[:, j]
                    if pl["mode"] == "ols":
                        W = C  # one init model per unique rep, unit weights
                        ymom = np.stack(
                            [C.sum(axis=0), y @ C, (y * y) @ C], axis=0
                        )
                        stat = np.concatenate(
                            [P.T @ W, X.T @ (W * y[:, None]), ymom], axis=0
                        )
                    else:
                        m = len(pl["taus"])
                        stat = np.empty((L + k, m))
                        for c0 in range(0, m, CHUNK):
                            sl = slice(c0, min(c0 + CHUNK, m))
                            Z = (y[:, None] - X @ pl["betas"][sl].T) / pl["h"][None, sl]
                            Cs = C[:, pl["repcol"][sl]]
                            # smoothed check loss (Gaussian kernel):
                            # score v = tau - 1 + Phi(z), curvature d =
                            # phi(z)/h — evaluated SPARSELY: for |z| >= 40,
                            # erf(z/sqrt(2)) is exactly +-1 in doubles
                            # (CALERF XBIG ~ 26.5 < 40/sqrt(2)) and
                            # exp(-z^2/2) underflows to exactly 0, so the
                            # far field contributes V = (tau-1) + {0,1} and
                            # D = 0 BIT-IDENTICALLY to the dense evaluation
                            # while skipping erf/exp for the ~75-95% of
                            # residuals outside the kernel window once h
                            # nears target (fp addition is commutative, so
                            # (tau-1)+step == dense's tau-1+0.5(1+erf)).
                            W = np.where(Z > 0, 1.0, 0.0)
                            W += pl["taus"][None, sl] - 1.0
                            rows_in, cols_in = np.nonzero(np.abs(Z) < 40.0)
                            zin = Z[rows_in, cols_in]
                            W[rows_in, cols_in] = (
                                pl["taus"][sl][cols_in] - 1.0
                            ) + 0.5 * (1.0 + erf_np(zin / _SQRT2))
                            DC = np.zeros_like(Z)
                            DC[rows_in, cols_in] = (
                                np.exp(-0.5 * zin * zin)
                                / (_SQRT2PI * pl["h"][sl][cols_in])
                            ) * Cs[rows_in, cols_in]
                            stat[:L, sl] = P.T @ DC
                            W *= Cs
                            stat[L:, sl] = X.T @ W
                    rows.append((int(s), int(pid), stat.ravel(order="F").tolist()))
                yield pd.DataFrame(rows, columns=["side", "pid", "stats"])

            pdf_all = proj.mapInPandas(
                compute, schema="side int, pid int, stats array<double>"
            ).toPandas()
            out: dict[int, np.ndarray] = {}
            # fixed (side, pid) summation order -> bit-deterministic reruns
            pdf_all = pdf_all.sort_values(["side", "pid"], kind="mergesort")
            for side_v, grp in pdf_all.groupby("side", sort=True):
                pl = payload[int(side_v)]
                if pl["mode"] == "ols":
                    m, height = len(pl["ureps"]), L + k + 3
                else:
                    m, height = len(pl["taus"]), L + k
                acc = np.zeros((height, m))
                for st in grp["stats"]:
                    acc += np.asarray(st, dtype=np.float64).reshape((height, m), order="F")
                out[int(side_v)] = acc
            return out

        def solve_block(stats: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
            """Batched k x k solves from stacked stats ((L+k) x m): A from the
            triangle rows, rhs from the tail rows -> (solution m x k, ok
            mask). Serves both the OLS init (A = X'CX, rhs = X'Cy -> beta)
            and the Newton passes (A = Hessian, rhs = score -> step).
            Singular/non-finite models are flagged, not raised."""
            m = stats.shape[1]
            A = np.zeros((m, k, k))
            for idx, (i, j) in enumerate(tri_l):
                A[:, i, j] = stats[idx]
                A[:, j, i] = stats[idx]
            A += RIDGE * np.eye(k)[None, :, :]
            b = stats[L:].T  # m x k
            sol = np.full((m, k), np.nan)
            try:
                sol = np.linalg.solve(A, b)
            except np.linalg.LinAlgError:
                for i in range(m):
                    try:
                        sol[i] = np.linalg.solve(A[i], b[i])
                    except np.linalg.LinAlgError:
                        pass
            ok = np.isfinite(sol).all(axis=1)
            return sol, ok

        # ---- init: count-weighted OLS per (rep, side), shared across taus ----
        # The same pass also collects the count-weighted y moments that set
        # the per-(rep, side) smoothing bandwidth h = H_FRAC x sd(y).
        init_payload = {
            s: {"mode": "ols", "ureps": np.array(rep_list, dtype=np.int64)} for s in (0, 1)
        }
        init_stats = run_pass(init_payload)
        # +-Infinity shows in the point pass's unit-weight column (rep -1 is
        # column 0) at no extra Spark work: an infinite predictor makes its
        # Gram diagonal infinite, an infinite outcome its sum of squares
        diag = [tri.index((i, i)) for i in range(k)]
        _raise_if_infinite(
            [outcome] + xcols,
            np.logical_and(*(np.isfinite(init_stats[s][[L + k + 2] + diag, 0]) for s in (0, 1))),
        )
        model_h = np.zeros(M)  # target bandwidth per model
        # per-model anneal START as a multiple of the target bandwidth;
        # default = the proven conservative schedule, lowered per model only
        # when the init fit's residual scale certifies the near field (see
        # the GRAM_H0_ADAPT_FRAC constants note)
        model_h0_ratio = np.full(M, H0_FRAC / H_FRAC)
        for s in (0, 1):
            sol, ok = solve_block(init_stats[s][: L + k])
            cnt, sy, syy = init_stats[s][L + k], init_stats[s][L + k + 1], init_stats[s][L + k + 2]
            with np.errstate(invalid="ignore", divide="ignore"):
                mean = sy / cnt
                var = np.maximum(syy / cnt - mean * mean, 0.0)
            sd = np.sqrt(var)
            for ri, r in enumerate(rep_list):
                sel = (model_rep == r) & (model_side == s)
                if ok[ri]:
                    betas_arr[sel] = sol[ri]
                    # degenerate (constant-y) resamples get an absolute floor
                    model_h[sel] = max(H_FRAC * sd[ri], 1e-8 * (1.0 + abs(mean[ri])))
                    if sd[ri] > 0.0 and cnt[ri] > 0.0:
                        # SSR from the already-summed Gram stats: zero extra
                        # Spark work. b'X'WXb via the tri block, b'X'Wy via
                        # the score rows.
                        b = sol[ri]
                        g = init_stats[s][L : L + k, ri]
                        quad = 0.0
                        for c0, (i, j) in enumerate(tri_l):
                            aij = init_stats[s][c0, ri]
                            quad += (1.0 if i == j else 2.0) * aij * b[i] * b[j]
                        ssr = max(syy[ri] - 2.0 * float(b @ g) + quad, 0.0)
                        sd_resid = np.sqrt(ssr / cnt[ri])
                        not_interp = sd_resid >= GRAM_ADAPT_MIN_RESID_RATIO * sd[ri]
                        kernel_mass = (
                            cnt[ri] * (GRAM_H0_ADAPT_FRAC * sd[ri]) / sd_resid
                            if sd_resid > 0.0 else 0.0
                        )
                        if not_interp and kernel_mass >= GRAM_ADAPT_MIN_KERNEL_MASS:
                            model_h0_ratio[sel] = GRAM_H0_ADAPT_FRAC / H_FRAC
                else:
                    status[sel] = 2  # degenerate design for this resample
        self._gram_adapt_fast = int(
            (model_h0_ratio[status == 0] < H0_FRAC / H_FRAC - 1e-12).sum()
        )  # instrumentation: models on the shortened schedule
        # Why the anneal does not simply start at the OLS residual scale: a
        # resample of a small tied fixture can make OLS interpolate
        # (sd_resid ~ 0), which floors h0 at target and strands Newton in
        # the zero-curvature far field (std_err blew up 80x in the parity
        # test), while on real data sd_resid ~ 0.7 sd(y) saves no passes.

        # ---- Newton loop: one pass per iteration over all active models -----
        # Globalization, all driver-side (no extra Spark passes):
        #   - anneal h_m(it) = max(h_target_m, h0_ratio_m x h_target_m x
        #     SHRINK^(it-1)) with the PER-MODEL start h0_ratio_m (adaptive:
        #     near-field-certified models start at GRAM_H0_ADAPT_FRAC x sd,
        #     suspicious ones keep GRAM_H0_FRAC x sd); a model may converge
        #     only once its bandwidth reached target;
        #   - adaptive damping alpha_m: halved when the raw Newton step norm
        #     grows >1.5x pass-over-pass (overshoot signature: residuals left
        #     the kernel window, Hessian -> 0, steps explode), doubled back
        #     toward 1 otherwise;
        #   - trust clamp ||eff step||_inf <= 0.5 x (1 + max|beta_m|), so a
        #     flat-curvature model can never leave the data's scale.
        # Small-n tied fixtures may ride the cap and keep the last (bounded,
        # near-optimal) iterate — same semantics as solve_qr's max_iter.
        it = 0
        model_prev_sn = np.full(M, np.inf)
        model_alpha = np.ones(M)
        while it < MAX_ITER and (status == 0).any():
            h_now = np.maximum(model_h, model_h0_ratio * model_h * SHRINK ** it)
            it += 1
            payload = {}
            act_idx: dict[int, np.ndarray] = {}
            for s in (0, 1):
                sel = np.where((status == 0) & (model_side == s))[0]
                if len(sel) == 0:
                    continue
                act_idx[s] = sel
                payload[s] = {
                    "mode": "newton",
                    "ureps": np.unique(model_rep[sel]),
                    "taus": model_tau[sel],
                    "betas": betas_arr[sel],
                    "h": h_now[sel],
                }
                payload[s]["repcol"] = np.searchsorted(
                    payload[s]["ureps"], model_rep[sel]
                )
            stats = run_pass(payload)
            for s, sel in act_idx.items():
                step, ok = solve_block(stats[s])
                betas_arr[sel[~ok]] = np.nan
                status[sel[~ok]] = 2
                good = sel[ok]
                sn = np.abs(step[ok]).max(axis=1)
                grow = sn > 1.5 * model_prev_sn[good]
                model_alpha[good] = np.where(
                    grow,
                    np.maximum(model_alpha[good] * 0.5, 1.0 / 64),
                    np.minimum(1.0, model_alpha[good] * 2.0),
                )
                trust = 0.5 * (1.0 + np.abs(betas_arr[good]).max(axis=1))
                eff = step[ok] * model_alpha[good][:, None]
                esn = np.abs(eff).max(axis=1)
                over = esn > trust
                eff[over] *= (trust[over] / esn[over])[:, None]
                betas_arr[good] += eff
                model_prev_sn[good] = sn
                delta = np.abs(eff).max(axis=1)
                scale = 1.0 + np.abs(betas_arr[good]).max(axis=1)
                at_target = h_now[good] <= model_h[good] * 1.0000001
                status[good[at_target & (delta < TOL * scale)]] = 1
        status[status == 0] = 1  # max_iter reached: keep last iterate
        self._gram_passes = it  # instrumentation: full-data Newton passes

        betas: dict[tuple[int, int], list[np.ndarray]] = {}
        order = np.lexsort((model_tidx, model_side, model_rep))
        for mi in order:
            if status[mi] == 1 and np.isfinite(betas_arr[mi]).all():
                betas.setdefault(
                    (int(model_rep[mi]), int(model_side[mi])), []
                ).append(betas_arr[mi].copy())
        return betas

    def run(self) -> QuantileDecompositionResults:
        design, xcols, group_a, group_b = self._prepare_design()
        design = design.filter(F.col(self._group).isin([group_a, group_b]))
        engine = self._fit_engine
        if engine != "distributed":
            # one row guard, counted BEFORE collecting: 'auto' (like
            # AkmBuilder.engine("auto")) fits exactly on the driver while the
            # design fits the collect limit and falls back to the Gram engine
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
        # each engine returns the side sizes, betas[(rep, side)] (the fits
        # that converged, in tau order) and rows(needed), which turns the
        # per-side row ranks the picks need into a row_of(side, rank) lookup
        pins: list = []  # the Gram engine's checkpoints, dropped once the picks are read
        try:
            if engine == "driver":
                n_a, n_b, betas, rows = self._driver_engine(design, xcols, group_a, taus_by_rep)
            else:
                n_a, n_b, betas, rows = self._gram_engine(design, xcols, group_a, group_b, taus_by_rep, pins)

            # per-replicate simulation plan, picks translated to original row ranks
            plans, failed, needed = {}, 0, {0: set(), 1: set()}
            for r, (_, pick_rng) in streams.items():
                ba, bb = betas.get((r, 0), []), betas.get((r, 1), [])
                if len(ba) < S / 2 or len(bb) < S / 2:
                    if r < 0:
                        raise OaxacaError("Failed to estimate a sufficient number of quantile regressions.")
                    failed += 1
                    continue
                m = min(len(ba), len(bb))
                rank_a = pick_rng.integers(0, n_a, size=m)
                rank_b = pick_rng.integers(0, n_b, size=m)
                if r >= 0:
                    rank_a = exact_n_index(seed, r, 0, n_a)[rank_a]
                    rank_b = exact_n_index(seed, r, 1, n_b)[rank_b]
                plans[r] = (ba, bb, rank_a, rank_b)
                needed[0].update(rank_a.tolist())
                needed[1].update(rank_b.tolist())
            if failed:
                warn(
                    f"{failed} out of {B} bootstrap replications failed and "
                    f"were discarded. The analysis is based on {B - failed} successful "
                    "replications."
                )

            row_of = rows(needed)
        finally:
            for pinned in pins:
                release(pinned)
        effects = {r: _effects(self._quantiles, row_of, *plan) for r, plan in plans.items()}
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
