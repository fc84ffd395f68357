"""Decision-layer engine operators (SURVEY M19-M22): optimizer with
prediction intervals, verify-adjustments, efficient frontier, defensibility.

Reference: /root/reference/engine/src/analysis.rs:309-1153 and
engine/src/defensibility.rs. Sign/naming conventions follow the engine crate,
which differ from the core library (SURVEY §7.5 risk 5/6): here group "A" is
the REFERENCE group, decomposition defaults to Pooled beta*, and
new_gap = original_gap + cost/n_target.

Spark-first realization:
- fair wage, leverage x'(X'X)^{-1}x, prediction intervals, eligibility and
  per-feature contributions are ALL Catalyst column expressions built from
  k x k driver constants — they run distributed over any n;
- greedy allocation is the prefix-sum reformulation (exact equivalence to
  the sequential loop, see budget.py): a row's payment at budget b is
  ``_paid`` = clip(b - cum_prev, 0, gap), one formula for both paths below;
- one request casts, validates and aggregates its frame once: ``optimize``
  and ``efficient_frontier`` share one strict cast and one stats pass per
  group level, and the frontier's pooled Gram state comes from the
  per-group stats on the driver. The stats count the in-scope rows, so
  with at most ``COLLECT_LIMIT`` of them the scored rows are collected
  ONCE and the greedy schedule (``_Schedule``: the order, the running
  totals, the payments and every frontier step's X'y / y'y delta, a
  steps x n matrix product) is NumPy work on the driver; above the limit
  the order is one distributed prefix scan (``scan.ordered_prev_cumsum``)
  and the frontier's deltas one aggregation over schedule x steps. Either
  way there is no per-step data pass (the reference recomputes an n-row
  matmul per step, analysis.rs:1087-1096);
- tables built on the driver (adjustments, overrides) enter
  the JVM through ``local_table`` as Arrow LocalRelations, so no call
  without a UDF starts a Python worker;
- a caller that sends the same data through several of these functions
  (the MCP server's review of one company CSV) can keep its driver-side
  aggregates in a ``ReviewStats`` and run the calls on one frame object
  inside ``reusing(stats, df)``: the strict cast's verdict, the per-level
  point stats, the decomposition's last bootstrap and the default
  scoring's greedy schedule are then computed once. ``verify_adjustments``
  derives the adjusted data's stats from them and one aggregation over the
  adjusted rows (adjustments change only y), ``check_defensibility`` takes
  the reference Gram from them, and a frontier after a remediation of the
  default scoring runs no Spark job.

Row identity: adjustments are keyed by a stable ``row_id`` (pass ``id_col``),
not by position (SURVEY §7.5 risk 1).
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field, replace
from functools import cached_property
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from .bootstrap import poisson_replicate_count
from .scan import local_table, ordered_prev_cumsum, release, with_row_id
from ..builder import SEED, MeanPasses, OaxacaBuilder, categorical_levels
from ..errors import ColumnNotFound, InvalidGroupVariable, NonNumericData, OaxacaError
from ..functions.linalg import (
    GroupStats,
    gram_agg_exprs,
    pooled_stats,
    stats_from_row,
)
from ..functions.mathx import norm_cdf_scalar, norm_ppf_scalar

INTERCEPT = "__ob_intercept__"
ROW_ID = "__engine_row_id__"
COLLECT_LIMIT = 1_000_000


# ---------------------------------------------------------------------------
# result models (engine/src/types.rs:36-149)
# ---------------------------------------------------------------------------

@dataclass
class Contribution:
    name: str
    value: float


@dataclass
class Adjustment:
    index: int
    adjustment: float
    current_wage: float
    new_wage: float
    fair_wage: float
    fair_wage_lower_bound: float | None = None
    fair_wage_upper_bound: float | None = None
    contributions: list[Contribution] = field(default_factory=list)
    is_defensible: bool | None = None
    defensibility_message: str | None = None


class OptimizationResult:
    """Result of ``optimize``. The scalar summaries, the driver-side
    ``adjustments`` list and ``adjustments_df`` are computed ON FIRST
    ACCESS and memoized, so a caller pays only for what it reads.

    With at most ``COLLECT_LIMIT`` in-scope rows they all come from the
    driver arrays of ``optimize``'s one collect, and ``adjustments_df`` is a
    ``local_table`` of them (same columns and types as the plan below).
    Above the limit ``adjustments_df`` is a lazy plan over the cached input
    and the greedy scan's checkpoint, which the result owns: ``release()``
    drops them once the caller is done, and nothing may be read afterwards.
    A long-lived caller (the MCP server) calls it either way; on the driver
    path it is a no-op."""

    def __init__(
        self,
        *,
        required_budget_fn,
        total_cost_fn,
        original_gap_fn,
        target_stats_fn,
        adjustments_fn,
        adjustments_df_fn,
        model_coefficients: list[Contribution],
        release_fn=None,
    ) -> None:
        self._required_budget_fn = required_budget_fn
        self._total_cost_fn = total_cost_fn
        self._original_gap_fn = original_gap_fn
        self._target_stats_fn = target_stats_fn
        self._adjustments_fn = adjustments_fn
        self._adjustments_df_fn = adjustments_df_fn
        self._release_fn = release_fn
        self.model_coefficients = model_coefficients
        self._memo: dict[str, object] = {}

    def _get(self, key: str, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    def release(self) -> None:
        """Unpin the frames behind the lazy attributes (idempotent)."""
        fn, self._release_fn = self._release_fn, None
        if fn is not None:
            fn()

    @property
    def required_budget(self) -> float:
        return self._get("required_budget", self._required_budget_fn)

    @property
    def total_cost(self) -> float:
        return self._get("total_cost", self._total_cost_fn)

    @property
    def original_gap(self) -> float:
        return self._get("original_gap", self._original_gap_fn)

    @property
    def new_gap(self) -> float:
        n_target, _ = self._get("target_stats", self._target_stats_fn)
        if n_target > 0:
            return self.original_gap + (self.total_cost / n_target)
        return self.original_gap

    @property
    def original_unexplained_gap(self) -> float:
        n_target, net = self._get("target_stats", self._target_stats_fn)
        return -net / n_target if n_target > 0 else 0.0

    @property
    def new_unexplained_gap(self) -> float:
        n_target, net = self._get("target_stats", self._target_stats_fn)
        if n_target > 0:
            return -(net - self.total_cost) / n_target
        return self.original_unexplained_gap

    @property
    def adjustments(self) -> list[Adjustment]:
        return self._get("adjustments", self._adjustments_fn)

    @property
    def adjustments_df(self) -> DataFrame:
        return self._get("adjustments_df", self._adjustments_df_fn)


@dataclass
class FrontierPoint:
    budget: float
    t_statistic: float
    p_value: float
    is_significant: bool


@dataclass
class DataSummary:
    total_count: int
    group_a_count: int
    group_b_count: int
    group_a_mean: float
    group_b_mean: float


@dataclass
class DecompositionResult:
    total_gap: float
    explained_gap: float
    unexplained_gap: float
    explained_percentage: float
    unexplained_percentage: float
    data_summary: DataSummary | None = None
    detailed_explained: list = field(default_factory=list)
    detailed_unexplained: list = field(default_factory=list)
    unexplained_standard_error: float | None = None
    n_failed_reps: int = 0


# ---------------------------------------------------------------------------
# sufficient statistics kept across calls
# ---------------------------------------------------------------------------

def model_spec(outcome, group, reference_group, predictors, categorical_predictors) -> tuple:
    """What the stats of one frame depend on besides its rows: (outcome,
    group, reference group, predictors, categorical predictors)."""
    return (outcome, group, reference_group, tuple(predictors), tuple(categorical_predictors or ()))


class ReviewStats:
    """Driver-side aggregates of one input frame under the model ``spec``
    (``model_spec``), filled by whichever call computes them first. Holds no
    Spark blocks.

    - ``cast_checked``: ``strict_numeric_cast`` passed on the outcome and
      predictors;
    - ``point``: the builder's ``MeanPasses`` of the null-dropped rows
      (categorical levels, every group level's point stats and the last
      bootstrap's replicate stats) with, per group level, whether it is the
      reference group under Spark's comparison;
    - ``schedule``: (row-id column, ``_Schedule``) of the default scoring
      (``DEFAULT_SCORING``, the frontier's), once a driver-path
      ``optimize`` or ``efficient_frontier`` built it. It holds at most
      ``COLLECT_LIMIT`` rows of seven 8-byte arrays plus the k design
      columns, (56 + 8k) bytes a row: at most 56 + 8k MB an entry, so
      448 + 64k MB for the MCP server's 8-entry LRU at the limit (a
      3,000-row company CSV with k = 4 takes about 0.1 MB)."""

    def __init__(self, spec: tuple) -> None:
        self.spec = spec
        self.cast_checked = False
        self.point: tuple[MeanPasses, dict] | None = None
        self.schedule: tuple[str | None, _Schedule] | None = None


_REVIEW: ContextVar[tuple[ReviewStats, DataFrame] | None] = ContextVar("engine_ops_review_stats", default=None)


@contextmanager
def reusing(stats: ReviewStats, df: DataFrame):
    """Run this module's functions on ``stats``: a call given this very
    ``df`` (the same object) and ``stats.spec``'s model takes the aggregates
    ``stats`` holds instead of recomputing them, and adds the ones it
    computes; any other frame or model is computed afresh. Context-local, so
    concurrent threads each see their own."""
    token = _REVIEW.set((stats, df))
    try:
        yield stats
    finally:
        _REVIEW.reset(token)


def _review(df: DataFrame, *spec) -> ReviewStats | None:
    """The ``reusing`` stats when they were set for ``df`` and this model."""
    bound = _REVIEW.get()
    if bound is None or bound[1] is not df or bound[0].spec != model_spec(*spec):
        return None
    return bound[0]


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def strict_numeric_cast(df: DataFrame, cols: list[str]) -> DataFrame:
    """S3 (engine/src/analysis.rs:14-35): cast to double; error if the cast
    introduces nulls ('contains non-numeric data') or yields +-Infinity,
    which would turn every downstream estimate into NaN. One aggregate
    counts both."""
    existing = set(df.columns)
    for c in cols:
        if c not in existing:
            raise ColumnNotFound(c)
    checks = []
    for i, c in enumerate(cols):
        d = F.col(c).try_cast("double")
        checks.append(F.sum((d.isNull() & F.col(c).isNotNull()).cast("long")).alias(f"bad{i}"))
        checks.append(F.sum((F.abs(d) == F.lit(math.inf)).cast("long")).alias(f"inf{i}"))
    bad = df.agg(*checks).collect()[0]
    for i, c in enumerate(cols):
        if int(bad[f"bad{i}"] or 0) > 0:
            raise NonNumericData(c)
        if int(bad[f"inf{i}"] or 0) > 0:
            raise NonNumericData(c, "infinite values")
    return df.withColumns({c: F.col(c).try_cast("double") for c in cols})


def _cast(df: DataFrame, cols: list[str], review: ReviewStats | None) -> DataFrame:
    """``strict_numeric_cast``, without its check job once ``review``
    records that the check passed."""
    if review is not None and review.cast_checked:
        return df.withColumns({c: F.col(c).try_cast("double") for c in cols})
    out = strict_numeric_cast(df, cols)
    if review is not None:
        review.cast_checked = True
    return out


def _fit_columns(outcome: str, group: str, predictors, categorical_predictors) -> list[str]:
    return [outcome, group] + list(predictors) + list(categorical_predictors or [])


def _complete(df: DataFrame, outcome: str, group: str, predictors, categorical_predictors) -> DataFrame:
    """The rows every model here is fitted on (the builder's null drop)."""
    return df.dropna(subset=_fit_columns(outcome, group, predictors, categorical_predictors))


def _is_complete(df: DataFrame, cols: list[str]):
    """``dropna(subset=cols)``'s row predicate as a column: every column
    non-null, and not NaN where it is floating point."""
    types = {f.name: f.dataType for f in df.schema.fields}
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).isNotNull()
        if isinstance(types[c], (DoubleType, FloatType)):
            cond = cond & ~F.isnan(c)
    return cond


def _point_stats(
    df: DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None,
    review: ReviewStats | None,
) -> tuple[DataFrame, MeanPasses, dict]:
    """The cast frame, the point stats of its null-dropped rows per group
    level and each level's reference flag (Spark's own comparison).

    Taken from ``review`` when it holds them; otherwise ONE grouped
    aggregation over every row makes ``strict_numeric_cast``'s checks and,
    weighting incomplete rows out, the per-level Gram, and records all
    three in ``review``."""
    cols = [outcome] + list(predictors)
    if review is not None and review.point is not None:
        return _cast(df, cols, review), *review.point
    for c in cols:
        if c not in df.columns:
            raise ColumnNotFound(c)
    checks = {}
    for i, c in enumerate(cols):
        d = F.col(c).try_cast("double")
        checks[f"__bad{i}"] = (d.isNull() & F.col(c).isNotNull()).cast("long")
        checks[f"__inf{i}"] = (F.abs(d) == F.lit(math.inf)).cast("long")
    cast = df.withColumns({**checks, **{c: F.col(c).try_cast("double") for c in cols}})
    levels = categorical_levels(
        _complete(cast, outcome, group, predictors, categorical_predictors), categorical_predictors or []
    )
    design, xcols = _design(cast, predictors, levels)
    keep = _fit_columns(outcome, group, predictors, categorical_predictors)
    rows = design.withColumn("__w", F.when(_is_complete(cast, keep), F.lit(1.0))).groupBy(group).agg(
        F.first(F.col(group) == F.lit(reference_group)).alias("__is_ref"),
        *[F.sum(name).alias(name) for name in checks],
        *gram_agg_exprs(xcols, outcome, wcol="__w", count_expr=F.col("__w")),
    ).collect()
    for i, c in enumerate(cols):
        if sum(r[f"__bad{i}"] or 0 for r in rows) > 0:
            raise NonNumericData(c)
        if sum(r[f"__inf{i}"] or 0 for r in rows) > 0:
            raise NonNumericData(c, "infinite values")
    rows = [r for r in rows if r[group] is not None and r["__n"]]
    passes = MeanPasses(levels, {r[group]: stats_from_row(r, xcols) for r in rows})
    is_ref = {r[group]: r["__is_ref"] for r in rows}
    if review is not None:
        review.cast_checked = True
        review.point = passes, is_ref
    return df.withColumns({c: F.col(c).try_cast("double") for c in cols}), passes, is_ref


def _adjustment_table(df: DataFrame, adjustments, overrides=None, predictors=()) -> DataFrame:
    """(ROW_ID, __delta), one row per index with its summed delta, from an
    ``index``/``adjustment`` frame or a list of (index, delta) pairs.
    ``overrides`` ({row id: {predictor: value}}) add one ``__ov_<predictor>``
    column per predictor, NaN or null where the row does not override it."""
    ov = {int(i): o for i, o in (overrides or {}).items()}

    def override_columns(ids):
        return {f"__ov_{p}": ("double", [float(ov.get(i, {}).get(p, math.nan)) for i in ids]) for p in predictors}

    if isinstance(adjustments, DataFrame):
        table = adjustments.groupBy(F.col("index").cast("long").alias(ROW_ID)).agg(
            F.sum(F.col("adjustment").cast("double")).alias("__delta")
        )
        if ov:
            ids = list(ov)
            table = table.join(
                F.broadcast(local_table(df.sparkSession, {ROW_ID: ("long", ids), **override_columns(ids)})),
                on=ROW_ID, how="left",
            )
        return table
    deltas = _summed(adjustments)
    ids = list(deltas)
    columns = {ROW_ID: ("long", ids), "__delta": ("double", [deltas[i] for i in ids])}
    return local_table(df.sparkSession, {**columns, **(override_columns(ids) if ov else {})})


def _summed(adjustments) -> dict[int, float]:
    deltas: dict[int, float] = {}
    for i, v in adjustments:
        deltas[int(i)] = deltas.get(int(i), 0.0) + float(v)
    return deltas


def _design_names(predictors: list[str], levels: dict[str, list]) -> list[str]:
    """``_design``'s columns: the intercept, the predictors, then one dummy
    per categorical level after the first."""
    return [INTERCEPT] + list(predictors) + [f"{var}_{lv}" for var, lvs in levels.items() for lv in lvs[1:]]


def _design(df: DataFrame, predictors: list[str], levels: dict[str, list]):
    """Intercept-first design with skip-first dummies (builder conventions)
    over ``categorical_levels``."""
    out = df.withColumn(INTERCEPT, F.lit(1.0))
    for var, lvs in levels.items():
        for lv in lvs[1:]:
            out = out.withColumn(f"{var}_{lv}", (F.col(var) == F.lit(lv)).cast("double"))
    return out, _design_names(predictors, levels)


def _with_overrides(df: DataFrame, predictors: list[str]) -> DataFrame:
    """Each predictor replaced by its joined ``__ov_<predictor>`` where that
    is set (not null, not NaN)."""
    return df.withColumns({
        p: F.when(~F.isnan(F.coalesce(F.col(f"__ov_{p}"), F.lit(math.nan))), F.col(f"__ov_{p}")).otherwise(F.col(p))
        for p in predictors
    })


def _lstsq_beta(xtx: np.ndarray, xty: np.ndarray) -> np.ndarray:
    """SVD least-squares semantics from sufficient statistics:
    pinv(X'X) X'y == X^+ y (min-norm solution, matches analysis.rs:434-460)."""
    return np.linalg.pinv(xtx) @ xty


def _leverage_expr(cov: np.ndarray, xcols: list[str]):
    e = F.lit(0.0)
    k = len(xcols)
    for i in range(k):
        for j in range(k):
            cij = float(cov[i, j])
            if cij != 0.0:
                e = e + F.col(xcols[i]) * F.col(xcols[j]) * F.lit(cij)
    return e


def _xb_expr(beta, xcols):
    e = F.lit(0.0)
    for b, c in zip(beta, xcols):
        e = e + F.col(c) * F.lit(float(b))
    return e


def _sum_stats(parts: list[GroupStats]) -> GroupStats:
    """Sufficient stats of the union of disjoint row sets."""
    if len(parts) == 1:
        return parts[0]
    return GroupStats(
        names=list(parts[0].names),
        n=sum(p.n for p in parts),
        wsum=sum(p.wsum for p in parts),
        xtx=sum(p.xtx for p in parts),
        xty=sum(p.xty for p in parts),
        xsum=sum(p.xsum for p in parts),
        yty=sum(p.yty for p in parts),
        ysum=sum(p.ysum for p in parts),
    )


# ---------------------------------------------------------------------------
# decomposition request surface (run_decomposition_on_df, analysis.rs:99-307)
# ---------------------------------------------------------------------------

def run_decomposition(
    df: DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    bootstrap_reps: int = 100,
    reference_coefficients: str | None = None,
    quantile: float | None = None,
    id_col: str | None = None,
) -> DecompositionResult:
    """The library decomposition in the engine's conventions. Pass ``id_col``
    (a stable row key) to make the bootstrap replicates independent of how
    the frame is partitioned; only then are they kept in a reused
    ``ReviewStats``."""
    review = _review(df, outcome, group, reference_group, predictors, categorical_predictors)
    if quantile is not None:
        df = _cast(df, [outcome] + list(predictors), review)
        return _decompose(
            df, outcome, group, reference_group, predictors, categorical_predictors,
            bootstrap_reps, reference_coefficients, quantile, id_col,
        )
    df, passes, _ = _point_stats(
        df, outcome, group, reference_group, predictors, categorical_predictors, review
    )
    if id_col is None:
        passes = MeanPasses(passes.levels, passes.by_level)
    return _decompose(
        df, outcome, group, reference_group, predictors, categorical_predictors,
        bootstrap_reps, reference_coefficients, id_col=id_col, passes=passes,
    )


def _summary(by_level: dict, reference_group) -> DataSummary:
    """engine summary from per-level (count, outcome sum) of the null-dropped
    rows: A = the reference group, B = every other level (analysis.rs:106-133)."""
    na, sa = by_level.get(reference_group, (0, 0.0))
    nb = sum(n for lv, (n, _) in by_level.items() if lv != reference_group)
    sb = sum(y for lv, (_, y) in by_level.items() if lv != reference_group)
    return DataSummary(
        total_count=na + nb,
        group_a_count=na,
        group_b_count=nb,
        group_a_mean=sa / na if na else 0.0,
        group_b_mean=sb / nb if nb else 0.0,
    )


def _decompose(
    df: DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None,
    bootstrap_reps: int,
    reference_coefficients: str | None = None,
    quantile: float | None = None,
    id_col: str | None = None,
    passes: MeanPasses | None = None,
) -> DecompositionResult:
    """``run_decomposition`` on a frame ``strict_numeric_cast`` already
    checked. On the mean path ``passes`` stand in for the builder's own,
    and receive the bootstrap replicates it computes."""
    rc = {"GroupA": "group_a", "GroupB": "group_b", "Weighted": "weighted"}.get(
        reference_coefficients or "", "pooled"
    )
    b = (
        OaxacaBuilder(df, outcome, group, reference_group)
        .predictors(predictors)
        .reference_coefficients(rc)
        .bootstrap_reps(bootstrap_reps)
    )
    if categorical_predictors:
        b.categorical_predictors(categorical_predictors)
    if id_col is not None:
        b.id_col(id_col)
    if quantile is not None:
        res = b.decompose_quantile(quantile)
        rows = _complete(df, outcome, group, predictors, categorical_predictors).groupBy(group).agg(
            F.count(F.lit(1)).alias("n"), F.sum(outcome).alias("ys")
        ).collect()
        summary = _summary({r[group]: (int(r["n"]), float(r["ys"])) for r in rows}, reference_group)
    else:
        res, passes = b._run_mean(passes)
        summary = _summary({lv: (s.n, s.ysum) for lv, s in passes.by_level.items()}, reference_group)

    total = res.total_gap
    explained = res.two_fold.explained.estimate
    unexplained = res.two_fold.unexplained.estimate
    return DecompositionResult(
        total_gap=total,
        explained_gap=explained,
        unexplained_gap=unexplained,
        explained_percentage=(explained / total) * 100.0 if total else math.nan,
        unexplained_percentage=(unexplained / total) * 100.0 if total else math.nan,
        data_summary=summary,
        detailed_explained=list(res.two_fold.detailed_explained),
        detailed_unexplained=list(res.two_fold.detailed_unexplained),
        unexplained_standard_error=res.two_fold.unexplained.std_err,
        n_failed_reps=res.n_failed_reps,
    )


# ---------------------------------------------------------------------------
# M19: optimizer
# ---------------------------------------------------------------------------

def _payable():
    """A row the allocation pays: eligible, with a positive gap to its target."""
    return F.col("__eligible") & (F.col("__diff") > 0)


# The scoring of the efficient frontier (analysis.rs:871-1153), and the
# one whose greedy schedule a reused ``ReviewStats`` keeps
DEFAULT_SCORING = {
    "target": "reference", "range_target": "midpoint", "confidence_level": 0.95,
    "min_gap_pct": 0.0, "forensic_mode": False, "adjust_both_groups": False,
}


@dataclass
class _Prepared:
    """One request's single stats pass, per raw group level and split
    reference/target, and whether its in-scope rows fit on the driver
    (``local``: at most ``COLLECT_LIMIT`` of them, counted by the stats).
    ``design`` builds the cleaned rows with their design columns on first
    use; off the driver path they are cached, as the scan reads them more
    than once, and the caller unpersists them."""

    source: DataFrame
    xcols: list[str]
    by_level: dict
    stats_ref: GroupStats
    stats_tgt: GroupStats
    local: bool
    review: ReviewStats | None
    id_col: str | None
    build: Callable[[], DataFrame]

    @cached_property
    def design(self) -> DataFrame:
        return self.build()


def _prepare(
    df: DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None,
    id_col: str | None,
    with_ref: bool,
) -> _Prepared:
    """``with_ref``: the reference rows are in scope too."""
    review = _review(df, outcome, group, reference_group, predictors, categorical_predictors)
    df, passes, is_ref = _point_stats(
        df, outcome, group, reference_group, predictors, categorical_predictors, review
    )
    by_level = passes.by_level
    ref = [by_level[lv] for lv, flag in is_ref.items() if flag is True]
    tgt = [by_level[lv] for lv, flag in is_ref.items() if flag is False]
    if not ref or not tgt:
        raise OaxacaError("One group has no data")
    stats_ref, stats_tgt = _sum_stats(ref), _sum_stats(tgt)
    local = stats_tgt.n + (stats_ref.n if with_ref else 0) <= COLLECT_LIMIT

    def build() -> DataFrame:
        clean = _complete(with_row_id(df, id_col, ROW_ID), outcome, group, predictors, categorical_predictors)
        design = _design(clean, predictors, passes.levels)[0]
        return design if local else design.cache()

    xcols = _design_names(predictors, passes.levels)
    return _Prepared(df, xcols, by_level, stats_ref, stats_tgt, local, review, id_col, build)


def _original_gap(
    prep: _Prepared,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None,
) -> float:
    """The library's pooled-decomposition gap (analysis.rs:349-363) from the
    per-level stats ``_prepare`` collected: the builder's level choice (B =
    reference, A = first sorted level that is not B) and its from-stats
    path, so the value and the errors are those of
    ``OaxacaBuilder(...).run().total_gap``."""
    stats = prep.by_level
    levels = sorted(g for g in stats if g is not None)
    if len(levels) < 2:
        raise InvalidGroupVariable("Not enough groups for comparison")
    group_a = levels[0] if levels[0] != reference_group else levels[1]
    if group_a not in stats or reference_group not in stats:
        raise InvalidGroupVariable("One group has no data")
    builder = (
        OaxacaBuilder(prep.source, outcome, group, reference_group)
        .predictors(predictors)
        .categorical_predictors(categorical_predictors or [])
        .reference_coefficients("pooled")
    )
    point = builder._decompose_from_stats(
        stats[group_a], stats[reference_group], {}, {}, len(predictors)
    )
    return point.total_gap


def _fair_beta(prep: _Prepared, target: str) -> np.ndarray:
    """Fair-wage coefficients from the stats pass (analysis.rs:389-460)."""
    stats_ref, stats_tgt = prep.stats_ref, prep.stats_tgt
    if target == "pooled":
        return _lstsq_beta(stats_ref.xtx + stats_tgt.xtx, stats_ref.xty + stats_tgt.xty)
    return _lstsq_beta(stats_ref.xtx, stats_ref.xty)


def _score(
    prep: _Prepared,
    outcome: str,
    group: str,
    reference_group: str,
    beta_fair: np.ndarray,
    scoring: dict,
) -> tuple[DataFrame, DataFrame]:
    """Every row scored against the fair-wage model under ``scoring``
    (``__diff``; design columns kept for the frontier and the
    contributions) and the in-scope rows with ``__eligible``."""
    stats_ref = prep.stats_ref
    xcols = prep.xcols
    # sigma^2 from reference-group residuals (analysis.rs:477-490)
    rss = float(stats_ref.yty - 2 * beta_fair @ stats_ref.xty + beta_fair @ stats_ref.xtx @ beta_fair)
    dof = stats_ref.n - len(xcols)
    sigma2 = rss / dof if dof > 0 else 0.0
    try:
        cov = np.linalg.inv(stats_ref.xtx)
    except np.linalg.LinAlgError as e:
        raise OaxacaError(
            "Covariance matrix is singular, likely due to perfect multicollinearity."
        ) from e

    confidence = min(max(scoring["confidence_level"], 0.50), 0.999)
    z = norm_ppf_scalar(1.0 - (1.0 - confidence) / 2.0)

    fair = _xb_expr(beta_fair, xcols)
    if sigma2 <= 1e-9:
        lower, upper = fair, fair
    else:
        se = F.sqrt(F.lit(sigma2) * (F.lit(1.0) + _leverage_expr(cov, xcols)))
        lower = fair - F.lit(z) * se
        upper = fair + F.lit(z) * se
    target_wage = {"midpoint": fair, "lowerbound": lower, "upperbound": upper}[scoring["range_target"]]
    diff = target_wage - F.col(outcome)
    gap_pct = F.when(F.abs(F.col(outcome)) > 1e-6, diff / F.col(outcome)).otherwise(F.lit(0.0))

    scored = prep.design.select(
        ROW_ID,
        F.col(outcome).alias("__wage"),
        (F.col(group) == F.lit(reference_group)).alias("__is_ref"),
        fair.alias("fair_wage"),
        lower.alias("fair_wage_lower_bound"),
        upper.alias("fair_wage_upper_bound"),
        diff.alias("__diff"),
        gap_pct.alias("__gap_pct"),
        F.map_from_arrays(
            F.array(*[F.lit(n) for n in xcols]),
            F.array(*[(F.col(c) * F.lit(float(b))).alias(c) for c, b in zip(xcols, beta_fair)]),
        ).alias("contributions"),
        *xcols,
    )
    both = scoring["adjust_both_groups"]
    in_scope = (~F.col("__is_ref")) | F.lit(both or scoring["forensic_mode"])
    eligible = (
        (F.col("__diff") > 1e-6)
        & (F.col("__gap_pct") >= F.lit(scoring["min_gap_pct"]))
        & ((~F.col("__is_ref")) | F.lit(both))
    )
    return scored, scored.filter(in_scope).withColumn("__eligible", eligible)


class _Columns:
    """``np.minimum`` and ``np.maximum`` over Spark columns, for ``_paid``."""

    minimum = staticmethod(lambda a, b: F.least(F.lit(a), F.lit(b)))
    maximum = staticmethod(lambda a, b: F.greatest(F.lit(a), F.lit(b)))


def _paid(budget, cum_prev, gap, xp=np):
    """A payable row's greedy payment at ``budget``, given the gaps paid
    before it: clip(budget - cum_prev, 0, gap), the sequential loop's
    payment in closed form. NumPy arrays by default; ``xp=_Columns`` for
    Spark columns."""
    return xp.minimum(gap, xp.maximum(budget - cum_prev, 0.0))


@dataclass
class _Schedule:
    """The rows a remediation lists, as driver arrays in one order: the
    ``n_pay`` payable rows first, in greedy order (gap descending, row id
    ascending), then the rest (forensic mode's unpayable rows, paid 0).
    ``x`` holds their design columns (``_Prepared.xcols``); ``cum_prev`` is
    each payable row's exclusive running total of the gaps before it and
    ``total`` the budget that pays every one of them in full. ``target_net``
    is the sum of ``__diff`` over every target-group row."""

    ids: np.ndarray
    gap: np.ndarray
    wage: np.ndarray
    fair: np.ndarray
    lower: np.ndarray
    upper: np.ndarray
    x: np.ndarray
    n_pay: int
    cum_prev: np.ndarray
    total: float
    target_net: float


_SCOPE_COLUMNS = [ROW_ID, "__wage", "fair_wage", "fair_wage_lower_bound", "fair_wage_upper_bound", "__diff"]


def _collect_schedule(scope: DataFrame, xcols: list[str], forensic_mode: bool) -> _Schedule:
    """The ``_Schedule`` of ``_score``'s in-scope rows, from ONE collect."""
    pdf = scope.select(*_SCOPE_COLUMNS, "__is_ref", "__eligible", *xcols).toPandas()
    ids, wage, fair, lower, upper, gap = (pdf[c].to_numpy() for c in _SCOPE_COLUMNS)
    eligible = pdf["__eligible"].to_numpy(bool)
    payable = eligible & (gap > 0)
    listed = np.ones_like(eligible) if forensic_mode else eligible
    pay = np.flatnonzero(payable)
    pay = pay[np.lexsort((ids[pay], -gap[pay]))]
    rest = np.flatnonzero(listed & ~payable)
    order = np.concatenate([pay, rest])
    cum = np.cumsum(gap[pay])
    return _Schedule(
        ids[order].astype(np.int64), gap[order], wage[order], fair[order], lower[order], upper[order],
        pdf[xcols].to_numpy(float)[order], len(pay), np.concatenate(([0.0], cum))[:-1],
        float(cum[-1]) if len(cum) else 0.0, float(np.sum(gap[~pdf["__is_ref"].to_numpy(bool)])),
    )


def _scheduled(
    prep: _Prepared, outcome: str, group: str, reference_group: str, beta_fair: np.ndarray, scoring: dict
) -> _Schedule:
    """The driver schedule of ``scoring``: a reused ``ReviewStats``'s when
    it holds the default scoring's for this row-id column, else one collect
    (kept there when the scoring is the default)."""
    keep = prep.review is not None and scoring == DEFAULT_SCORING
    held = prep.review.schedule if keep else None
    if held is not None and held[0] == prep.id_col:
        return held[1]
    _, scope = _score(prep, outcome, group, reference_group, beta_fair, scoring)
    schedule = _collect_schedule(scope, prep.xcols, scoring["forensic_mode"])
    if keep:
        prep.review.schedule = (prep.id_col, schedule)
    return schedule


def _allocate(s: _Schedule, strategy: str, budget: float) -> tuple[np.ndarray, float, float]:
    """Each listed row's adjustment, the required budget and the budget
    spent against (``budget``, or 1.00001 x the need when it is 0)."""
    gap = s.gap[:s.n_pay]
    adjustment = np.zeros(len(s.ids))
    if strategy == "equitable":
        need = float(np.sum(gap))
        effective = budget if budget > 0.0 else need * 1.00001
        adjustment[:s.n_pay] = gap * (min(effective / need, 1.0) if need > 0 else 0.0)
    else:
        need = s.total
        effective = budget if budget > 0.0 else need * 1.00001
        adjustment[:s.n_pay] = _paid(effective, s.cum_prev, gap)
    return adjustment, need, effective


def _adjustments_local(spark, s: _Schedule, adjustment: np.ndarray, beta_fair, xcols):
    """The driver path's ``adjustments`` list and ``adjustments_df`` (a
    ``local_table``), both in row-id order. A contribution is x_j * beta_j,
    the product the Catalyst plan computes."""
    import pyarrow as pa

    at = np.argsort(s.ids, kind="stable")
    cols = {
        "index": s.ids[at], "adjustment": adjustment[at], "current_wage": s.wage[at],
        "new_wage": s.wage[at] + adjustment[at], "fair_wage": s.fair[at],
        "fair_wage_lower_bound": s.lower[at], "fair_wage_upper_bound": s.upper[at],
    }
    contributions = s.x[at] * np.asarray(beta_fair)

    def listed() -> list[Adjustment]:
        names = list(cols)
        return [
            Adjustment(*row, contributions=[Contribution(n, v) for n, v in zip(xcols, c)])
            for *row, c in zip(*(cols[n].tolist() for n in names), contributions.tolist())
        ]

    def table() -> DataFrame:
        n, k = contributions.shape
        offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
        keys = pa.array(np.tile(np.asarray(xcols, dtype=object), n), pa.string())
        return local_table(spark, {
            **{name: ("long" if name == "index" else "double", v) for name, v in cols.items()},
            "contributions": (
                "map<string,double>", pa.MapArray.from_arrays(offsets, keys, pa.array(contributions.ravel()))
            ),
        })

    return listed, table


def _greedy_scan(payable: DataFrame) -> DataFrame:
    """Above ``COLLECT_LIMIT``: ``__cum_prev`` = the gaps paid before each
    row under greedy order (largest gap first, row id breaking ties), by
    one distributed prefix scan; ``._scan_total`` = the budget that pays
    every row in full. ``scan.release`` drops its checkpoint."""
    return ordered_prev_cumsum(
        payable, [F.col("__diff").desc(), F.col(ROW_ID).asc()], F.col("__diff"), "__cum_prev"
    )


def optimize(
    df: DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    *,
    budget: float = 0.0,
    strategy: str = "greedy",
    target: str = "reference",
    range_target: str = "midpoint",
    confidence_level: float = 0.95,
    min_gap_pct: float = 0.0,
    forensic_mode: bool = False,
    adjust_both_groups: bool = False,
    id_col: str | None = None,
) -> OptimizationResult:
    """Remediation-budget optimizer (analysis.rs:309-869).

    One strict cast and one stats pass; the original gap and the
    target-group summary come from them on the driver. With at most
    ``COLLECT_LIMIT`` in-scope rows, which the stats count, ONE collect of
    the scored rows gives the rest on the driver (``_Schedule``): the
    greedy order, the payments, the required budget, the adjustments and
    ``adjustments_df``. A reused ``ReviewStats`` that holds the default
    scoring's schedule saves even that collect. Above the limit the greedy
    order is one distributed prefix scan and the result owns the cached
    input and the scan's checkpoint: call ``release()`` when done with it
    (a no-op on the driver path)."""
    scoring = {
        "target": "pooled" if target == "pooled" else "reference",
        "range_target": range_target.replace("_", "").lower(),
        "confidence_level": float(confidence_level),
        "min_gap_pct": float(min_gap_pct),
        "forensic_mode": bool(forensic_mode),
        "adjust_both_groups": bool(adjust_both_groups),
    }
    equitable = strategy.lower() == "equitable"
    prep = _prepare(
        df, outcome, group, reference_group, predictors, categorical_predictors, id_col,
        with_ref=adjust_both_groups or forensic_mode,
    )
    beta_fair = _fair_beta(prep, scoring["target"])
    model_coefficients = [Contribution(n, float(b)) for n, b in zip(prep.xcols, beta_fair)]
    if prep.local:
        schedule = _scheduled(prep, outcome, group, reference_group, beta_fair, scoring)
        adjustment, total_need, effective_budget = _allocate(
            schedule, "equitable" if equitable else "greedy", budget
        )
        adjustments_fn, adjustments_df_fn = _adjustments_local(
            prep.source.sparkSession, schedule, adjustment, beta_fair, prep.xcols
        )
        release_fn = None

        def target_net_fn() -> float:
            return schedule.target_net
    else:
        scanned = None

        def release_fn() -> None:
            prep.design.unpersist()
            if scanned is not None:
                release(scanned)

        try:
            scored, scope = _score(prep, outcome, group, reference_group, beta_fair, scoring)
            pot = scope if forensic_mode else scope.filter(F.col("__eligible"))
            keep = [ROW_ID, "__wage", "fair_wage", "fair_wage_lower_bound",
                    "fair_wage_upper_bound", "__diff", "contributions"]
            if equitable:
                total_need = float(
                    pot.filter(_payable()).agg(F.sum("__diff")).collect()[0][0] or 0.0
                )
                effective_budget = budget if budget > 0.0 else total_need * 1.00001
                coverage = min(effective_budget / total_need, 1.0) if total_need > 0 else 0.0
                alloc = pot.withColumn(
                    "adjustment",
                    F.when(_payable(), F.col("__diff") * F.lit(coverage)).otherwise(F.lit(0.0)),
                ).select(*keep, "adjustment")
            else:
                scanned = _greedy_scan(pot.filter(_payable()).select(*keep))
                total_need = scanned._scan_total
                effective_budget = budget if budget > 0.0 else total_need * 1.00001
                paid = scanned.withColumn(
                    "adjustment",
                    _paid(effective_budget, F.col("__cum_prev"), F.col("__diff"), _Columns),
                ).drop("__cum_prev")
                rest = pot.filter(~_payable()).select(*keep).withColumn("adjustment", F.lit(0.0))
                alloc = paid.unionByName(rest)

            adjustments_df = alloc.withColumn("new_wage", F.col("__wage") + F.col("adjustment")).select(
                F.col(ROW_ID).alias("index"),
                "adjustment",
                F.col("__wage").alias("current_wage"),
                "new_wage",
                "fair_wage",
                "fair_wage_lower_bound",
                "fair_wage_upper_bound",
                "contributions",
            )
        except BaseException:
            release_fn()
            raise

        def target_net_fn() -> float:
            row = scored.filter(~F.col("__is_ref")).agg(F.sum("__diff")).collect()[0]
            return float(row[0] or 0.0)

        def adjustments_fn() -> list[Adjustment]:
            if adjustments_df.count() > COLLECT_LIMIT:
                return []
            return [
                Adjustment(
                    index=int(r["index"]),
                    adjustment=float(r["adjustment"]),
                    current_wage=float(r["current_wage"]),
                    new_wage=float(r["new_wage"]),
                    fair_wage=float(r["fair_wage"]),
                    fair_wage_lower_bound=float(r["fair_wage_lower_bound"]),
                    fair_wage_upper_bound=float(r["fair_wage_upper_bound"]),
                    contributions=[Contribution(n, float(v)) for n, v in r["contributions"].items()],
                )
                for r in sorted(adjustments_df.collect(), key=lambda r: r["index"])
            ]

        def adjustments_df_fn() -> DataFrame:
            return adjustments_df

    def target_stats_fn() -> tuple[float, float]:
        tgt = prep.stats_tgt
        if scoring["range_target"] == "midpoint":
            # sum over target rows of (x'beta - y): linear, so from the stats
            return float(tgt.n), float(beta_fair @ tgt.xsum - tgt.ysum)
        return float(tgt.n), target_net_fn()

    return OptimizationResult(
        required_budget_fn=lambda: total_need,
        # both strategies spend min(budget, need): greedy pays in gap order
        # until the budget runs out, equitable pays need x min(budget/need, 1)
        total_cost_fn=lambda: min(effective_budget, total_need),
        original_gap_fn=lambda: _original_gap(
            prep, outcome, group, reference_group, predictors, categorical_predictors
        ),
        target_stats_fn=target_stats_fn,
        adjustments_fn=adjustments_fn,
        adjustments_df_fn=adjustments_df_fn,
        model_coefficients=model_coefficients,
        release_fn=release_fn,
    )


# ---------------------------------------------------------------------------
# M20: verify adjustments
# ---------------------------------------------------------------------------

def verify_adjustments(
    df: DataFrame,
    adjustments: list[tuple[int, float]] | DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    bootstrap_reps: int = 100,
    id_col: str | None = None,
) -> DecompositionResult:
    """analysis.rs:40-96: apply wage deltas at row ids, re-run decomposition.

    With a reused ``ReviewStats`` that holds this bootstrap's Catalyst
    Poisson replicates, the adjusted data's stats are derived instead
    (``_adjusted_passes``); the decomposition is the same either way."""
    review = _review(df, outcome, group, reference_group, predictors, categorical_predictors)
    df = with_row_id(_cast(df, [outcome] + list(predictors), review), id_col, ROW_ID)
    adj = _adjustment_table(df, adjustments)
    mutated = df.join(F.broadcast(adj), on=ROW_ID, how="left").withColumn(
        outcome, F.col(outcome) + F.coalesce(F.col("__delta"), F.lit(0.0))
    ).drop("__delta")
    point = review.point if review is not None else None
    passes = None
    # a NaN delta makes its row a null the decomposition drops: not a shift
    if point is not None and id_col is not None and not isinstance(adjustments, DataFrame) and all(
        math.isfinite(v) for v in _summed(adjustments).values()
    ):
        passes = _adjusted_passes(
            df, adj, point[0], outcome, group, predictors, categorical_predictors, bootstrap_reps
        )
    return _decompose(
        mutated, outcome, group, reference_group, predictors, categorical_predictors,
        bootstrap_reps, id_col=id_col, passes=passes,
    )


def _adjusted_passes(
    df: DataFrame,
    adj: DataFrame,
    passes: MeanPasses,
    outcome: str,
    group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None,
    reps: int,
) -> MeanPasses | None:
    """The builder's passes over the adjusted data, from ``passes`` of the
    original data and ONE aggregation over the adjusted rows.

    An adjustment changes only y, and a Catalyst Poisson replicate weighs
    row i by c_i = poisson(hash(row id, rep, seed)) whatever y is. So every
    replicate's (and, with c = 1, the point estimate's) stats move by exact
    sums over the adjusted rows: X'X, n and the x sums stay,
    X'y += sum c x delta, sum y += sum c delta, y'y += sum c (2 y delta + delta^2).
    ``None`` when ``passes`` hold no Catalyst Poisson bootstrap of ``reps``
    replicates (drawn with the builder's default seed)."""
    boot = passes.boot
    if reps > 0 and (boot is None or boot[:2] != (reps, "poisson")):
        return None
    design, xcols = _design(
        _complete(df, outcome, group, predictors, categorical_predictors), predictors, passes.levels
    )
    rows = design.join(F.broadcast(adj), on=ROW_ID).withColumn(
        "__rep", F.explode(F.sequence(F.lit(-1), F.lit(reps - 1)))
    )
    # rep -1 is the point estimate
    count = F.when(F.col("__rep") < 0, F.lit(1.0)).otherwise(
        poisson_replicate_count(F.col(ROW_ID), F.col("__rep"), SEED)
    )
    cd = count * F.col("__delta")
    deltas = {
        (int(r["__rep"]), r[group]): r
        for r in rows.groupBy("__rep", group).agg(
            *[F.sum(cd * F.col(c)).alias(f"__dxy_{j}") for j, c in enumerate(xcols)],
            F.sum(cd).alias("__dys"),
            F.sum(cd * (F.lit(2.0) * F.col(outcome) + F.col("__delta"))).alias("__dyty"),
        ).collect()
    }

    def shifted(rep: int, lv, s: GroupStats) -> GroupStats:
        r = deltas.get((rep, lv))
        if r is None:
            return s
        return replace(
            s,
            xty=s.xty + np.array([float(r[f"__dxy_{j}"]) for j in range(len(xcols))]),
            ysum=s.ysum + float(r["__dys"]),
            yty=s.yty + float(r["__dyty"]),
        )

    out = MeanPasses(passes.levels, {lv: shifted(-1, lv, s) for lv, s in passes.by_level.items()})
    if reps > 0:
        out.boot = (reps, "poisson", {
            rep: {lv: shifted(rep, lv, s) for lv, s in per_level.items()}
            for rep, per_level in boot[2].items()
        })
    return out


# ---------------------------------------------------------------------------
# M21: efficient frontier
# ---------------------------------------------------------------------------

# rows x steps cells of the payment matrix one block of ``_step_deltas`` holds
_DELTA_BLOCK_CELLS = 1 << 22


def _step_deltas(s: _Schedule, budgets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each budget's X'y and y'y deltas (rows of the two results) from the
    payments of ``s``'s payable rows on the pooled design, whose group
    dummy is 1 on every one of them (the default scoring pays target
    rows only): (payments @ X, sum of 2 y paid + paid^2), in blocks of
    budgets of at most ``_DELTA_BLOCK_CELLS`` payments."""
    m = s.n_pay
    x = np.insert(s.x[:m], 1, 1.0, axis=1)
    gap, y2 = s.gap[:m], 2.0 * s.wage[:m]
    dxy, dyty = np.empty((len(budgets), x.shape[1])), np.empty(len(budgets))
    block = max(1, _DELTA_BLOCK_CELLS // max(m, 1))
    for lo in range(0, len(budgets), block):
        paid = _paid(budgets[lo:lo + block, None], s.cum_prev, gap)
        dxy[lo:lo + block] = paid @ x
        dyty[lo:lo + block] = (y2 * paid + paid * paid).sum(axis=1)
    return dxy, dyty


def efficient_frontier(
    df: DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    *,
    steps: int = 50,
    max_budget: float | None = None,
    id_col: str | None = None,
) -> list[FrontierPoint]:
    """analysis.rs:871-1153: t-stat of the group dummy as budget grows.

    Reuses ``optimize``'s work rather than repeating it: one strict cast,
    one stats pass per group level and the greedy schedule of
    ``DEFAULT_SCORING``, all on the null-dropped rows the optimizer pays.
    The pooled Gram state with the group dummy at position 1 is assembled
    on the driver from the per-group stats (``linalg.pooled_stats``). Under
    greedy allocation a row's payment at budget b is ``_paid`` =
    clip(b - cum_prev, 0, gap), and payments are totals from the baseline,
    so each step's deltas against the baseline Gram state are plain sums:

      X'y(b) = X'y + sum_i x_i paid_i(b)
      y'y(b) = y'y + sum_i (2 y_i paid_i(b) + paid_i(b)^2)

    With at most ``COLLECT_LIMIT`` target rows the schedule is driver
    arrays (``_scheduled``: a reused ``ReviewStats``'s, as a remediation of
    the default scoring left it, or one collect) and the deltas of every
    step one steps x n matrix product. Above the limit the schedule is a
    distributed prefix scan and the deltas one aggregation over schedule x
    steps. The t-statistics are k x k driver work either way (vs
    analysis.rs:1107-1150's per-step sequential payment loop).
    """
    prep = _prepare(df, outcome, group, reference_group, predictors, categorical_predictors, id_col, with_ref=False)
    # pooled design [intercept, group_dummy(=1 for non-reference), features...]
    pooled = pooled_stats(prep.stats_tgt, prep.stats_ref, "__gd", indicator_pos=1)
    try:
        xtx_inv = np.linalg.inv(pooled.xtx)
    except np.linalg.LinAlgError as e:
        raise OaxacaError("Singular matrix in Pooled OLS") from e
    xcols = pooled.names
    dof = pooled.n - len(xcols)
    beta_fair = _fair_beta(prep, DEFAULT_SCORING["target"])

    def step_size_for(total_need: float) -> float:
        mb = max_budget if max_budget is not None else total_need * 1.1
        return (mb if mb >= 1e-9 else 1000.0) / steps

    if prep.local:
        schedule = _scheduled(prep, outcome, group, reference_group, beta_fair, DEFAULT_SCORING)
        step_size = step_size_for(schedule.total)
        deltas = dict(enumerate(zip(*_step_deltas(schedule, np.arange(1, steps + 1) * step_size)), start=1))
    else:
        scanned = None
        try:
            _, scope = _score(prep, outcome, group, reference_group, beta_fair, DEFAULT_SCORING)
            scanned = _greedy_scan(
                scope.filter(_payable()).select(
                    ROW_ID, "__diff", "__wage",
                    *[(~F.col("__is_ref")).cast("double").alias(c) if c == "__gd" else F.col(c)
                      for c in xcols],
                )
            )
            step_size = step_size_for(scanned._scan_total)
            # each scheduled row exploded over the steps, one groupBy: every
            # step's deltas in a single job
            per_step = (
                scanned.withColumn("__step", F.explode(F.sequence(F.lit(1), F.lit(steps))))
                .withColumn("__paid", _paid(
                    F.col("__step").cast("double") * F.lit(step_size), F.col("__cum_prev"), F.col("__diff"),
                    _Columns,
                ))
                .filter(F.col("__paid") > 0)
                .groupBy("__step")
                .agg(
                    *[F.sum(F.col(c) * F.col("__paid")).alias(f"__dxy_{j}") for j, c in enumerate(xcols)],
                    F.sum(
                        F.lit(2.0) * F.col("__wage") * F.col("__paid") + F.col("__paid") * F.col("__paid")
                    ).alias("__dyty"),
                )
                .collect()
            )
        finally:
            prep.design.unpersist()
            if scanned is not None:
                release(scanned)
        deltas = {
            int(r["__step"]): (
                np.array([float(r[f"__dxy_{j}"] or 0.0) for j in range(len(xcols))]),
                float(r["__dyty"] or 0.0),
            )
            for r in per_step
        }

    def t_stat(xty_t: np.ndarray, yty_t: float):
        beta = xtx_inv @ xty_t
        rss = max(yty_t - 2 * beta @ xty_t + beta @ pooled.xtx @ beta, 0.0)
        if dof <= 0:
            return (0.0, 1.0, False)
        sigma2 = rss / dof
        se = math.sqrt(sigma2 * xtx_inv[1, 1])
        t = beta[1] / se if se > 0 else 0.0
        p = 2.0 * norm_cdf_scalar(-abs(t))
        return t, p, p < 0.05

    points = [FrontierPoint(0.0, *t_stat(pooled.xty, pooled.yty))]
    zero_k = np.zeros(len(xcols))
    for step in range(1, steps + 1):
        dxy, dyty = deltas.get(step, (zero_k, 0.0))
        points.append(FrontierPoint(step * step_size, *t_stat(pooled.xty + dxy, pooled.yty + dyty)))
    return points


# ---------------------------------------------------------------------------
# M22: defensibility
# ---------------------------------------------------------------------------

def _override_delta(rows, overrides, outcome, predictors, keep, levels, xcols) -> GroupStats:
    """Stats of the overridden rows after their overrides minus before, each
    side counted only where the row is complete (``dropna`` over ``keep``),
    from those rows on the driver."""
    k = len(xcols)
    delta = GroupStats(list(xcols), 0, 0.0, np.zeros((k, k)), np.zeros(k), np.zeros(k), 0.0, 0.0)
    for r in rows:
        before = r.asDict()
        after = dict(before)
        for p, v in overrides[before[ROW_ID]].items():
            if p in predictors and not math.isnan(float(v)):
                after[p] = float(v)
        for sign, vals in ((-1.0, before), (1.0, after)):
            if any(vals[c] is None or (isinstance(vals[c], float) and math.isnan(vals[c])) for c in keep):
                continue
            x = np.array(
                [1.0] + [vals[p] for p in predictors]
                + [float(vals[var] == lv) for var, lvs in levels.items() for lv in lvs[1:]]
            )
            y = vals[outcome]
            delta.n += int(sign)
            delta.wsum += sign
            delta.xtx = delta.xtx + sign * np.outer(x, x)
            delta.xty = delta.xty + sign * y * x
            delta.xsum = delta.xsum + sign * x
            delta.yty += sign * y * y
            delta.ysum += sign * y
    return delta


def check_defensibility(
    df: DataFrame,
    adjustments: list[tuple[int, float]] | DataFrame,
    outcome: str,
    group: str,
    reference_group: str,
    predictors: list[str],
    categorical_predictors: list[str] | None = None,
    *,
    overrides: dict[int, dict[str, float]] | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """defensibility.rs:9-388: adjustment defensible iff
    new_wage >= fair-wage 95% lower bound - 1.0 (reference-group SVD fit on
    the null-dropped rows), with per-row predictor overrides applied before
    the fit and the prediction.

    The reference Gram is the per-level stats pass's (``_point_stats``,
    taken from a reused ``ReviewStats`` when it holds them), moved by the
    change of the overridden reference rows, which one filter on their row
    ids collects."""
    review = _review(df, outcome, group, reference_group, predictors, categorical_predictors)
    df, passes, ref_flags = _point_stats(
        df, outcome, group, reference_group, predictors, categorical_predictors, review
    )
    dfc = with_row_id(df, id_col, ROW_ID)
    ref = [passes.by_level[lv] for lv, flag in ref_flags.items() if flag is True]
    if not ref:  # no reference rows: the fit below has no Gram to invert
        raise OaxacaError("Covariance matrix is singular")
    stats_ref = _sum_stats(ref)
    if overrides:
        ov = {int(i): o for i, o in overrides.items()}
        keep = _fit_columns(outcome, group, predictors, categorical_predictors)
        touched = dfc.filter(
            (F.col(group) == F.lit(reference_group)) & F.col(ROW_ID).isin(list(ov))
        ).select(ROW_ID, *keep).collect()
        stats_ref = _sum_stats([
            stats_ref, _override_delta(touched, ov, outcome, predictors, keep, passes.levels, stats_ref.names)
        ])

    rows = dfc.join(F.broadcast(_adjustment_table(dfc, adjustments, overrides, predictors)), on=ROW_ID)
    design, xcols = _design(_with_overrides(rows, predictors) if overrides else rows, predictors, passes.levels)
    beta_fair = _lstsq_beta(stats_ref.xtx, stats_ref.xty)
    rss = float(stats_ref.yty - 2 * beta_fair @ stats_ref.xty + beta_fair @ stats_ref.xtx @ beta_fair)
    dof = stats_ref.n - len(xcols)
    sigma2 = rss / dof if dof > 0 else 0.0
    try:
        cov = np.linalg.inv(stats_ref.xtx)
    except np.linalg.LinAlgError as e:
        raise OaxacaError("Covariance matrix is singular") from e
    z = norm_ppf_scalar(0.975)

    fair = _xb_expr(beta_fair, xcols)
    if sigma2 <= 1e-9:
        lower = fair
    else:
        lower = fair - F.lit(z) * F.sqrt(F.lit(sigma2) * (F.lit(1.0) + _leverage_expr(cov, xcols)))

    out = design.select(
        F.col(ROW_ID).alias("index"),
        F.col("__delta").alias("adjustment"),
        F.col(outcome).alias("current_wage"),
        (F.col(outcome) + F.col("__delta")).alias("new_wage"),
        fair.alias("fair_wage"),
        lower.alias("fair_wage_lower_bound"),
    )
    shortfall = F.col("fair_wage_lower_bound") - F.col("new_wage")
    return out.withColumn(
        "is_defensible", F.col("new_wage") >= F.col("fair_wage_lower_bound") - F.lit(1.0)
    ).withColumn(
        "defensibility_message",
        F.when(
            F.col("is_defensible"), F.lit("Adjustment within the defensible fair-wage range.")
        ).otherwise(
            F.concat(
                F.lit("New wage falls "),
                F.round(shortfall, 2).cast("string"),
                F.lit(" below the fair-wage lower bound."),
            )
        ),
    )
