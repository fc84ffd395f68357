"""OaxacaBuilder: the engine's primary entry point (SURVEY §2.9).

Mirrors /root/reference/oaxaca_blinder/src/builder.rs semantics on a
Spark-first execution plan:

- clean (dropna on relevant columns)            builder.rs:760-784
- dummy-encode categoricals, skip alphabetically-first level
                                                builder.rs:380-418, 791-806
- split groups: B = reference, A = first sorted distinct != reference
                                                builder.rs:61-102
- ONE groupBy(group) aggregation produces both groups' Gram matrices, means,
  counts and outcome sums (X'WX, X'Wy, column sums) — the entire point
  estimate needs a single shuffle regardless of n; solves are k x k on the
  driver                                        (vs builder.rs:294-378 dense
                                                 matrix materialization)
- beta* policies incl. pooled-with-indicator reconstructed algebraically from
  per-group stats (zero extra Spark work)       builder.rs:536-621
- bootstrap = replicate-dimension aggregation, one job for all B reps
                                                (vs builder.rs:816-847 loop)

At 100 TB: the design columns are pure Catalyst expressions over the scan
(predicate pushdown + column pruning reach parquet), the aggregation is
partial/final with O(k^2) state, and nothing larger than k x k reaches the
driver. Residuals stay distributed; they are only collect()ed beneath a size
guard.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import ColumnNotFound, InsufficientData, InvalidGroupVariable, NonNumericData, OaxacaError, warn
from .formula import Formula
from .functions.linalg import (
    GroupStats,
    collect_group_stats,
    ols_from_stats,
    pooled_stats,
)
from .operators import decomposition as dec
from .operators.bootstrap import (
    bootstrap_group_stats,
    bootstrap_group_stats_fast,
    bootstrap_stats,
)
from .operators.scan import with_row_id
from .results import ComponentResult, DecompositionDetail, OaxacaResults, TwoFoldResults

INTERCEPT = "__ob_intercept__"
GROUP_INDICATOR = "__ob_group_indicator__"
ROW_ID = "__ob_row_id__"
SEED = 42

RESIDUAL_COLLECT_LIMIT = 2_000_000


def categorical_levels(df: DataFrame, cols) -> dict[str, list]:
    """Each categorical's distinct non-null levels in sorted order: one
    distinct job per column."""
    levels = {}
    for var in cols:
        levels[var] = [r[0] for r in df.select(var).distinct().orderBy(var).collect() if r[0] is not None]
    return levels


@dataclass
class MeanPasses:
    """What the mean path's Spark passes produce, for a caller that runs an
    identically configured builder (reference coefficients aside) on the same
    rows again: each categorical's levels, the point-estimate stats of every
    group level, and the last bootstrap's ``(reps, method, replicate stats)``
    (rep -> level -> stats)."""

    levels: dict[str, list]
    by_level: dict
    boot: tuple[int, str, dict] | None = None


@dataclass
class _SinglePass:
    two_fold: dec.TwoFold
    three_fold: dec.ThreeFold
    detailed_explained: dict[str, float]
    detailed_unexplained: dict[str, float]
    detailed_selection: dict[str, float]
    total_gap: float
    xa_mean: np.ndarray
    xb_mean: np.ndarray
    beta_a: np.ndarray
    beta_b: np.ndarray
    beta_star: np.ndarray
    names: list[str] = field(default_factory=list)


class OaxacaBuilder:
    """Builder API mirroring builder.rs:105-291.

    Defaults match the reference: bootstrap_reps=20, reference
    coefficients=GroupA (builder.rs:117-129).
    """

    def __init__(self, dataframe: DataFrame, outcome: str, group: str, reference_group: str):
        self._df = dataframe
        self._outcome = outcome
        self._group = group
        self._reference_group = reference_group
        self._predictors: list[str] = []
        self._categorical_predictors: list[str] = []
        self._bootstrap_reps = 20
        self._reference_coeffs = dec.ReferenceCoefficients.GROUP_A
        self._normalization_vars: list[str] = []
        self._weights_col: str | None = None
        self._selection_outcome: str | None = None
        self._selection_predictors: list[str] = []
        self._seed = SEED
        self._bootstrap_method = "auto"
        self._id_col: str | None = None
        self._engine = "expr"

    # -- fluent config (builder.rs:162-246) -----------------------------------
    def predictors(self, cols) -> "OaxacaBuilder":
        self._predictors = list(cols)
        return self

    def categorical_predictors(self, cols) -> "OaxacaBuilder":
        self._categorical_predictors = list(cols)
        return self

    def reference_coefficients(self, rc) -> "OaxacaBuilder":
        self._reference_coeffs = dec.ReferenceCoefficients.parse(rc)
        return self

    def bootstrap_reps(self, reps: int) -> "OaxacaBuilder":
        self._bootstrap_reps = int(reps)
        return self

    def normalize(self, cols) -> "OaxacaBuilder":
        self._normalization_vars = list(cols)
        return self

    def weights(self, col: str) -> "OaxacaBuilder":
        self._weights_col = col
        return self

    def heckman_selection(self, selection_outcome: str, selection_predictors) -> "OaxacaBuilder":
        self._selection_outcome = selection_outcome
        self._selection_predictors = list(selection_predictors)
        return self

    def seed(self, seed: int) -> "OaxacaBuilder":
        self._seed = int(seed)
        return self

    def bootstrap_method(self, method: str) -> "OaxacaBuilder":
        """'poisson' (Catalyst expressions), 'poisson_fast' (vectorized
        mapInPandas GEMM — the 100 TB path), 'exact' (reference-parity
        exact-n multinomial, Catalyst expressions), 'exact_fast' (same
        pick stream, GEMM reduction), or 'auto' (fast when reps*n is
        large)."""
        if method not in ("poisson", "poisson_fast", "exact", "exact_fast", "auto"):
            raise ValueError(
                "bootstrap method must be 'poisson', 'poisson_fast', 'exact', "
                "'exact_fast' or 'auto'"
            )
        self._bootstrap_method = method
        return self

    def id_col(self, col: str) -> "OaxacaBuilder":
        """Stable row identity column (SURVEY §7.5 risk 1)."""
        self._id_col = col
        return self

    def compute_engine(self, engine: str) -> "OaxacaBuilder":
        """'expr' (JVM codegen aggregation — cluster-scale default) or
        'pandas' (Arrow+BLAS — lower latency on local/small data)."""
        if engine not in ("expr", "pandas"):
            raise ValueError("compute engine must be 'expr' or 'pandas'")
        self._engine = engine
        return self

    @classmethod
    def from_formula(cls, dataframe: DataFrame, formula: str, group: str, reference_group: str) -> "OaxacaBuilder":
        f = Formula.parse(formula)
        b = cls(dataframe, f.outcome, group, reference_group)
        b.predictors(f.predictors)
        b.categorical_predictors(f.categorical_predictors)
        return b

    # -- data prep -------------------------------------------------------------
    def _relevant_cols(self) -> list[str]:
        cols = [self._outcome, self._group]
        cols += self._predictors + self._categorical_predictors
        if self._weights_col:
            cols.append(self._weights_col)
        if self._selection_outcome:
            cols.append(self._selection_outcome)
        cols += self._selection_predictors
        return cols

    def _clean(self, df: DataFrame) -> DataFrame:
        """builder.rs:760-784: validate columns then drop nulls on them.

        With a Heckman selection equation the outcome is intentionally null
        for unselected rows, so the outcome is excluded from the null-drop
        there (estimation.rs:204-247 filters on selection==1 instead).
        """
        cols = self._relevant_cols()
        existing = set(df.columns)
        for c in cols:
            if c not in existing:
                raise ColumnNotFound(c)
        drop_cols = [c for c in cols if not (self._selection_outcome and c == self._outcome)]
        return df.dropna(subset=drop_cols)

    def _dummy_levels(self, df: DataFrame) -> tuple[list[str], dict[str, int], dict[str, str]]:
        """Distinct sorted levels per categorical; skip first (builder.rs:384-418).

        Levels come from the cleaned FULL frame (before the group filter),
        matching builder.rs:791-806 ordering of operations.
        """
        return self._dummies(categorical_levels(df, self._categorical_predictors))

    @staticmethod
    def _dummies(levels: dict[str, list]) -> tuple[list[str], dict[str, int], dict[str, str]]:
        """Dummy names (every level but the first), level counts and base
        categories from ``categorical_levels``."""
        dummy_names: list[str] = []
        category_counts: dict[str, int] = {}
        base_categories: dict[str, str] = {}
        for var, lvs in levels.items():
            if not lvs:
                raise InsufficientData(
                    f"Categorical predictor '{var}' has no non-null levels"
                )
            category_counts[var] = len(lvs)
            base_categories[var] = f"{var}_{lvs[0]}"
            dummy_names += [f"{var}_{lv}" for lv in lvs[1:]]
        return dummy_names, category_counts, base_categories

    def _group_names(self, df: DataFrame) -> tuple[str, str]:
        """builder.rs:61-102: B = reference group; A = first sorted distinct != B."""
        uniques = [r[0] for r in df.select(self._group).distinct().orderBy(self._group).collect()]
        return self._pick_groups([u for u in uniques if u is not None])

    def _pick_groups(self, levels: list) -> tuple[str, str]:
        """Group A is the first sorted level that is not the reference B.
        Any further levels are left out of the comparison, with a warning."""
        if len(levels) < 2:
            raise InvalidGroupVariable("Not enough groups for comparison")
        group_b = self._reference_group
        group_a = levels[0] if levels[0] != group_b else levels[1]
        dropped = [lv for lv in levels if lv not in (group_a, group_b)]
        if dropped:
            warn(
                f"Group column '{self._group}' has {len(levels)} levels; comparing "
                f"'{group_a}' with reference '{group_b}' and dropping {dropped}."
            )
        return group_a, group_b

    def _check_finite(self, *group_stats: GroupStats) -> None:
        """Refuse +-Infinity in the weights, outcome or a predictor. Such a
        value makes its column's sums non-finite, so the point-pass stats
        already on the driver show it without another job."""
        for s in group_stats:
            if self._weights_col and not math.isfinite(s.wsum):
                raise NonNumericData(self._weights_col, "infinite values")
            if not (math.isfinite(s.ysum) and math.isfinite(s.yty)):
                raise NonNumericData(self._outcome, "infinite values")
            finite = np.isfinite(np.diag(s.xtx)) & np.isfinite(s.xsum)
            if not finite.all():
                raise NonNumericData(s.names[int(np.argmin(finite))], "infinite values")

    def _design(self, df: DataFrame, dummy_names: list[str]) -> tuple[DataFrame, list[str]]:
        """Append intercept + dummy columns as Catalyst expressions.

        One `withColumns` projection (not k chained withColumn nodes) — plan
        construction/analysis time is part of the latency budget for small
        interactive queries.
        """
        new_cols = {INTERCEPT: F.lit(1.0)}
        for name in dummy_names:
            var, _, level = self._split_dummy(name)
            new_cols[name] = (F.col(var) == F.lit(level)).cast("double")
        for p in self._predictors:
            new_cols[p] = F.col(p).cast("double")
        new_cols[self._outcome] = F.col(self._outcome).cast("double")
        if self._weights_col:
            new_cols[self._weights_col] = F.col(self._weights_col).cast("double")
        out = df.withColumns(new_cols)
        xcols = [INTERCEPT] + list(self._predictors) + dummy_names
        return out, xcols

    def _split_dummy(self, dummy_name: str) -> tuple[str, str, str]:
        for var in self._categorical_predictors:
            prefix = f"{var}_"
            if dummy_name.startswith(prefix):
                return var, prefix, dummy_name[len(prefix):]
        raise OaxacaError(f"Unknown dummy column: {dummy_name}")

    # -- decomposition from sufficient statistics -------------------------------
    def _decompose_from_stats(
        self,
        stats_a: GroupStats,
        stats_b: GroupStats,
        category_counts: dict[str, int],
        base_categories: dict[str, str],
        n_predictors: int,
    ) -> _SinglePass:
        weighted = self._weights_col is not None
        fit_a = ols_from_stats(stats_a, weighted=weighted)
        fit_b = ols_from_stats(stats_b, weighted=weighted)
        beta_a = fit_a.beta.copy()
        beta_b = fit_b.beta.copy()
        names = list(stats_a.names)
        xa_mean = stats_a.x_mean
        xb_mean = stats_b.x_mean

        base_coeffs_a: dict[str, float] = {}
        base_coeffs_b: dict[str, float] = {}
        if self._normalization_vars:
            base_coeffs_a = dec.normalize_categorical_coefficients(
                beta_a, names, self._normalization_vars, category_counts
            )
            base_coeffs_b = dec.normalize_categorical_coefficients(
                beta_b, names, self._normalization_vars, category_counts
            )

        rc = self._reference_coeffs
        base_coeffs_star: dict[str, float] = {}
        if rc == dec.ReferenceCoefficients.GROUP_A:
            beta_star = beta_a.copy()
            base_coeffs_star = dict(base_coeffs_a)
        elif rc == dec.ReferenceCoefficients.GROUP_B:
            beta_star = beta_b.copy()
            base_coeffs_star = dict(base_coeffs_b)
        elif rc == dec.ReferenceCoefficients.POOLED:
            # builder.rs:547-590: pooled OLS with a group-A indicator column
            # placed after the continuous predictors (prepare_data order);
            # indicator coefficient is removed from beta*.
            ind_pos = 1 + n_predictors
            pstats = pooled_stats(stats_a, stats_b, GROUP_INDICATOR, indicator_pos=ind_pos)
            pfit = ols_from_stats(pstats, weighted=weighted)
            pbeta = pfit.beta.copy()
            if self._normalization_vars:
                base_coeffs_star = dec.normalize_categorical_coefficients(
                    pbeta, pstats.names, self._normalization_vars, category_counts
                )
            beta_star = np.delete(pbeta, ind_pos)
        elif rc == dec.ReferenceCoefficients.WEIGHTED:
            n_a = stats_a.wsum if weighted else float(stats_a.n)
            n_b = stats_b.wsum if weighted else float(stats_b.n)
            total = n_a + n_b
            if total == 0.0:
                raise InvalidGroupVariable("No data in groups for weighted coefficients.")
            w_a = n_a / total
            w_b = 1.0 - w_a
            if self._normalization_vars:
                for var in self._normalization_vars:
                    ca = base_coeffs_a.get(var, 0.0)
                    cb = base_coeffs_b.get(var, 0.0)
                    base_coeffs_star[var] = ca * w_a + cb * w_b
            beta_star = beta_a * w_a + beta_b * w_b
        else:  # pragma: no cover
            raise ValueError(f"unhandled reference coefficients: {rc}")

        three_fold = dec.three_fold_decomposition(xa_mean, xb_mean, beta_a, beta_b)
        two_fold = dec.two_fold_decomposition(xa_mean, xb_mean, beta_a, beta_b, beta_star)
        detailed_explained, detailed_unexplained = dec.detailed_decomposition(
            xa_mean, xb_mean, beta_a, beta_b, beta_star, names
        )

        # Yun base-category components (builder.rs:634-674)
        if self._normalization_vars and self._selection_outcome is None:
            for var in self._normalization_vars:
                base_dummy_name = base_categories.get(var)
                if base_dummy_name is None:
                    continue
                prefix = f"{var}_"
                idxs = [i for i, nme in enumerate(names) if nme.startswith(prefix)]
                xa_base = 1.0 - sum(xa_mean[i] for i in idxs)
                xb_base = 1.0 - sum(xb_mean[i] for i in idxs)
                ba = base_coeffs_a.get(var, 0.0)
                bb = base_coeffs_b.get(var, 0.0)
                bs = base_coeffs_star.get(var, 0.0)
                contrib_unexp = xa_base * (ba - bs) + xb_base * (bs - bb)
                contrib_exp = (xa_base - xb_base) * bs
                detailed_unexplained[base_dummy_name] = contrib_unexp
                detailed_explained[base_dummy_name] = contrib_exp
                two_fold.explained += contrib_exp
                two_fold.unexplained += contrib_unexp

        total_gap = stats_a.y_mean - stats_b.y_mean

        return _SinglePass(
            two_fold=two_fold,
            three_fold=three_fold,
            detailed_explained=detailed_explained,
            detailed_unexplained=detailed_unexplained,
            detailed_selection={},
            total_gap=total_gap,
            xa_mean=xa_mean,
            xb_mean=xb_mean,
            beta_a=beta_a,
            beta_b=beta_b,
            beta_star=beta_star,
            names=names,
        )

    # -- main entry (builder.rs:786-951) ----------------------------------------
    def run(self) -> OaxacaResults:
        if self._selection_outcome is not None:
            from .operators.heckman import run_heckman_oaxaca

            return run_heckman_oaxaca(self)
        return self._run_mean()[0]

    def _boot_method(self, n_total: int) -> str:
        """The bootstrap method ``auto`` stands for: the fast GEMM stream on
        the pandas engine or when reps x n is large, Catalyst otherwise."""
        if self._bootstrap_method != "auto":
            return self._bootstrap_method
        if self._engine == "pandas" or self._bootstrap_reps * n_total > 2_000_000:
            return "poisson_fast"
        return "poisson"

    def _run_mean(self, passes: MeanPasses | None = None) -> tuple[OaxacaResults, MeanPasses]:
        """The mean path of ``run``. ``passes`` from an earlier run stands in
        for the level scan and the point pass, and for the bootstrap pass
        when it holds this run's replicates. Returns the results and the
        passes, with whatever this run computed added to them."""
        df = self._clean(self._df)
        df = with_row_id(df, self._id_col, ROW_ID)
        levels = passes.levels if passes is not None else categorical_levels(df, self._categorical_predictors)
        dummy_names, category_counts, base_categories = self._dummies(levels)

        design, xcols = self._design(df, dummy_names)
        # NOTE: deliberately NOT cached. The design is consumed at most twice
        # (point pass + bootstrap pass) and both are column-pruned aggregations;
        # at cluster scale caching a 100 TB design frame is impossible and the
        # second parquet scan is cheaper than a memory-store materialization.
        # Callers that loop (JMP, frontier) should cache their input upstream.
        # Fused single pass: with the pandas engine + fast bootstrap, ONE
        # mapInPandas pass yields the point-estimate stats (rep = -1) AND
        # every bootstrap replicate's stats for every group — the whole
        # analysis is one data scan. (Replicate work for group levels
        # outside {A, B} is wasted; pre-filter the input when the group
        # column has many levels.)
        fused_method = self._boot_method(0)
        if passes is None and self._engine == "pandas" and fused_method in ("poisson_fast", "exact_fast"):
            all_stats = bootstrap_group_stats_fast(
                design,
                xcols,
                self._outcome,
                self._group,
                reps=self._bootstrap_reps,
                seed=self._seed,
                wcol=self._weights_col,
                id_col=ROW_ID,
                include_identity=True,
                method="exact" if fused_method == "exact_fast" else "poisson",
            )
            passes = MeanPasses(levels, all_stats.pop(-1, {}), (self._bootstrap_reps, fused_method, all_stats))
        elif passes is None:
            # ONE aggregation pass computes every group's sufficient
            # stats; group names fall out of its keys (no distinct job).
            passes = MeanPasses(levels, collect_group_stats(
                design, xcols, self._outcome, group=self._group,
                wcol=self._weights_col, engine=self._engine,
            ))
        stats = passes.by_level
        group_a, group_b = self._pick_groups(sorted(g for g in stats if g is not None))
        if group_a not in stats or group_b not in stats:
            raise InvalidGroupVariable("One group has no data")
        stats_a, stats_b = stats[group_a], stats[group_b]
        self._check_finite(stats_a, stats_b)

        point = self._decompose_from_stats(
            stats_a, stats_b, category_counts, base_categories, len(self._predictors)
        )

        reps_results: list[_SinglePass] = []
        if self._bootstrap_reps > 0:
            method = self._boot_method(stats_a.n + stats_b.n)
            boot = passes.boot
            if boot is None or boot[:2] != (self._bootstrap_reps, method):
                run_boot = bootstrap_group_stats_fast if method in ("poisson_fast", "exact_fast") else bootstrap_group_stats
                boot = passes.boot = (self._bootstrap_reps, method, run_boot(
                    design.filter(F.col(self._group).isin([group_a, group_b])),
                    xcols,
                    self._outcome,
                    self._group,
                    reps=self._bootstrap_reps,
                    seed=self._seed,
                    wcol=self._weights_col,
                    id_col=ROW_ID,
                    method=method.removesuffix("_fast"),
                    group_sizes={group_a: stats_a.n, group_b: stats_b.n},
                ))
            rep_stats = boot[2]
            for rep in sorted(rep_stats):
                per_group = rep_stats[rep]
                if group_a not in per_group or group_b not in per_group:
                    continue
                try:
                    reps_results.append(
                        self._decompose_from_stats(
                            per_group[group_a],
                            per_group[group_b],
                            category_counts,
                            base_categories,
                            len(self._predictors),
                        )
                    )
                except OaxacaError:
                    continue
            if len(reps_results) < self._bootstrap_reps:
                warn(
                    f"{self._bootstrap_reps - len(reps_results)} out of "
                    f"{self._bootstrap_reps} bootstrap replications failed and were "
                    f"discarded. The analysis is based on {len(reps_results)} "
                    "successful replications."
                )

        results = self._assemble_results(point, reps_results, stats_a, stats_b, design, xcols, group_b)
        return results, passes

    # -- results assembly (builder.rs:849-951) ----------------------------------
    def _assemble_results(
        self,
        point: _SinglePass,
        reps: list[_SinglePass],
        stats_a: GroupStats,
        stats_b: GroupStats,
        design: DataFrame,
        xcols: list[str],
        group_b: str,
    ) -> OaxacaResults:
        def component(name: str, est: float, estimates: list[float]) -> ComponentResult:
            se, p, (lo, hi) = bootstrap_stats(estimates, est)
            t = est / se if (se == se and abs(se) > 1e-9) else 0.0
            return ComponentResult(
                name=name, estimate=est, std_err=se, t_stat=t, p_value=p, ci_lower=lo, ci_upper=hi
            )

        two_fold_agg = [
            component("explained", point.two_fold.explained, [r.two_fold.explained for r in reps]),
            component("unexplained", point.two_fold.unexplained, [r.two_fold.unexplained for r in reps]),
        ]
        three_fold_agg = [
            component("endowments", point.three_fold.endowments, [r.three_fold.endowments for r in reps]),
            component("coefficients", point.three_fold.coefficients, [r.three_fold.coefficients for r in reps]),
            component("interaction", point.three_fold.interaction, [r.three_fold.interaction for r in reps]),
        ]

        def detailed(point_d: dict[str, float], extract) -> list[ComponentResult]:
            out = []
            for name, est in point_d.items():
                estimates = [extract(r)[name] for r in reps if name in extract(r)]
                disp = "intercept" if name == INTERCEPT else name
                out.append(component(disp, est, estimates))
            return out

        detailed_explained = detailed(point.detailed_explained, lambda r: r.detailed_explained)
        detailed_unexplained = detailed(point.detailed_unexplained, lambda r: r.detailed_unexplained)
        detailed_selection = detailed(point.detailed_selection, lambda r: r.detailed_selection)

        # Residuals stay DISTRIBUTED: build the group-B residual frame lazily
        # (y - X beta_B as a Catalyst expression — builder.rs:938 keeps a
        # Vec<f64>; at 100 TB that must not hit the driver). collect happens
        # only on demand, guarded by RESIDUAL_COLLECT_LIMIT.
        # The normalization shift is fitted-value-invariant, so using the
        # normalized beta_b gives identical residuals (normalization.rs:53-111).
        beta_b = [float(b) for b in point.beta_b]
        n_b = stats_b.n

        def residuals_df_factory():
            # deferred: ~20 py4j round-trips of plan building that would
            # otherwise tax every fit's latency (profiled ~0.15 s at reps=1)
            pred = F.lit(0.0)
            for b, c in zip(beta_b, xcols):
                pred = pred + F.col(c) * F.lit(b)
            return design.filter(F.col(self._group) == F.lit(group_b)).select(
                F.col(ROW_ID).alias("row_id"), (F.col(self._outcome) - pred).alias("residual")
            )

        def residual_supplier():
            if n_b > RESIDUAL_COLLECT_LIMIT:
                raise OaxacaError(
                    f"Refusing to collect {n_b} residuals to the driver; use "
                    "results.residuals_df (distributed) or the budget operator "
                    "oaxaca_blinder_rs_spark.operators.budget.allocate_budget."
                )
            rows = residuals_df_factory().orderBy("row_id").collect()
            return [int(r[0]) for r in rows], [float(r[1]) for r in rows]

        results = OaxacaResults(
            total_gap=point.total_gap,
            two_fold=TwoFoldResults(
                aggregate=two_fold_agg,
                detailed_explained=detailed_explained,
                detailed_unexplained=detailed_unexplained,
                detailed_selection=detailed_selection,
            ),
            three_fold=DecompositionDetail(aggregate=three_fold_agg),
            n_a=stats_a.n,
            n_b=stats_b.n,
            residuals=[],
            xa_mean=[float(v) for v in point.xa_mean],
            xb_mean=[float(v) for v in point.xb_mean],
            beta_star=[float(v) for v in point.beta_star],
            predictor_names=list(point.names),
            residual_row_ids=[],
            n_failed_reps=self._bootstrap_reps - len(reps),
        )
        results.attach_residuals(residuals_df_factory, residual_supplier)
        return results

    # -- RIF quantile decomposition (builder.rs:711-757) -------------------------
    def decompose_quantile(self, quantile: float) -> OaxacaResults:
        from .operators.rif import rif_expr_from_params, rif_group_params

        df = self._clean(self._df)
        if self._engine == "pandas":
            # single pull: the (group, y) frame yields BOTH the group levels
            # (no distinct job) and the per-group RIF parameters
            from .operators.rif import rif_params_from_pandas

            pdf = df.select(self._group, F.col(self._outcome).cast("double").alias("__y")).toPandas()
            group_a, group_b = self._pick_groups(sorted(x for x in pdf[self._group].dropna().unique()))
            sub = pdf[pdf[self._group].isin([group_a, group_b])]
            params = rif_params_from_pandas(sub, self._group, "__y", quantile)
            df = df.filter(F.col(self._group).isin([group_a, group_b]))
            df_mod = df.withColumn(
                self._outcome, rif_expr_from_params(params, self._outcome, self._group, quantile)
            )
        else:
            group_a, group_b = self._group_names(df)
            df = df.filter(F.col(self._group).isin([group_a, group_b]))
            params = rif_group_params(df, self._outcome, self._group, quantile, engine="expr")
            df_mod = df.withColumn(
                self._outcome, rif_expr_from_params(params, self._outcome, self._group, quantile)
            )
        # an infinite outcome turns its group's bandwidth and density into NaN
        # (checked here: the NaN RIF rows would otherwise be dropped as nulls)
        finite = (math.isfinite(p["q"]) and math.isfinite(p.get("density") or 0.0) for p in params.values())
        if not all(finite):
            raise NonNumericData(self._outcome, "infinite values")

        builder = OaxacaBuilder(df_mod, self._outcome, self._group, self._reference_group)
        builder._predictors = list(self._predictors)
        builder._categorical_predictors = list(self._categorical_predictors)
        builder._bootstrap_reps = self._bootstrap_reps
        builder._reference_coeffs = self._reference_coeffs
        builder._normalization_vars = list(self._normalization_vars)
        builder._weights_col = self._weights_col
        builder._seed = self._seed
        builder._bootstrap_method = self._bootstrap_method
        builder._id_col = self._id_col
        builder._engine = self._engine
        return builder.run()

    # -- get_data_matrices (builder.rs:248-291) — test/debug helper --------------
    def get_data_matrices(self):
        df = self._clean(self._df)
        df = with_row_id(df, self._id_col, ROW_ID)
        dummy_names, _, _ = self._dummy_levels(df)
        group_a, group_b = self._group_names(df)
        design, xcols = self._design(df, dummy_names)
        out = []
        for g in (group_a, group_b):
            rows = (
                design.filter(F.col(self._group) == F.lit(g))
                .select(*xcols, self._outcome)
                .collect()
            )
            X = np.array([[float(r[c]) for c in xcols] for r in rows])
            y = np.array([float(r[self._outcome]) for r in rows])
            out += [X, y]
        return out[0], out[1], out[2], out[3], xcols
