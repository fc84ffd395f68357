"""Sufficient-statistics linear algebra: the scale backbone of the engine.

The reference materializes dense design matrices and runs nalgebra solves
(/root/reference/oaxaca_blinder/src/math/ols.rs:44-144). On Spark we instead
aggregate the k x k Gram matrix X'WX and the k-vector X'Wy **inside the JVM**
(one whole-stage-codegen'd aggregation, one shuffle of a few hundred doubles)
and solve the tiny system on the driver with NumPy. n can be 100 TB; k is
dozens. Nothing but O(k^2) floats ever reaches the driver.

All group statistics for an Oaxaca run (both groups' Gram matrices, means,
counts, weighted outcome sums) come from a SINGLE ``groupBy(group)``
aggregation pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import InsufficientData, SingularMatrix

__all__ = [
    "GroupStats",
    "OlsFit",
    "gram_agg_exprs",
    "collect_group_stats",
    "ols_from_stats",
    "pooled_stats",
    "stats_from_row",
]


@dataclass
class GroupStats:
    """Sufficient statistics of (X, y, w) for one group.

    xtx = X'WX, xty = X'Wy, xsum = X'w (column sums, weighted),
    yty = y'Wy, ysum = w'y, wsum = sum of weights (== n when unweighted),
    n = raw row count.
    """

    names: list[str]
    n: int
    wsum: float
    xtx: np.ndarray
    xty: np.ndarray
    xsum: np.ndarray
    yty: float
    ysum: float

    @property
    def k(self) -> int:
        return len(self.names)

    @property
    def x_mean(self) -> np.ndarray:
        """Weighted column means (estimation.rs:56-68)."""
        return self.xsum / self.wsum

    @property
    def y_mean(self) -> float:
        return self.ysum / self.wsum


@dataclass
class OlsFit:
    """Mirror of OlsResult (math/ols.rs:20-38): beta, vcov, sigma^2.

    Residuals stay distributed — see ``residual_expr``.
    """

    names: list[str]
    beta: np.ndarray
    vcov: np.ndarray
    sigma2: float
    n: int
    stats: GroupStats = field(repr=False, default=None)

    def residual_expr(self, ycol: str, xcols: list[str]) -> Column:
        """Residual y - X beta as a JVM-side column expression."""
        pred = None
        for b, c in zip(self.beta, xcols):
            term = F.col(c) * F.lit(float(b))
            pred = term if pred is None else pred + term
        return F.col(ycol) - pred


def _w(wcol: str | None) -> Column:
    return F.col(wcol) if wcol is not None else F.lit(1.0)


def gram_agg_exprs(
    xcols: list[str],
    ycol: str | None,
    wcol: str | None = None,
    count_expr: Column | None = None,
) -> list[Column]:
    """Aggregate expressions for the upper triangle of X'WX plus X'Wy etc.

    Column count is k(k+1)/2 + 2k + 4 — tiny for k<=dozens, and every product
    stays inside whole-stage codegen. ``count_expr`` overrides the raw-row
    count (used by the bootstrap, where a base row stands for `cnt` resampled
    rows).
    """
    w = _w(wcol)
    k = len(xcols)
    aggs: list[Column] = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(w * F.col(xcols[i]) * F.col(xcols[j])).alias(f"__xx_{i}_{j}"))
    for i in range(k):
        aggs.append(F.sum(w * F.col(xcols[i])).alias(f"__xs_{i}"))
    if ycol is not None:
        for i in range(k):
            aggs.append(F.sum(w * F.col(xcols[i]) * F.col(ycol)).alias(f"__xy_{i}"))
        aggs.append(F.sum(w * F.col(ycol) * F.col(ycol)).alias("__yty"))
        aggs.append(F.sum(w * F.col(ycol)).alias("__ys"))
    aggs.append(F.sum(w).alias("__wsum"))
    if count_expr is not None:
        aggs.append(F.sum(count_expr).cast("long").alias("__n"))
    else:
        aggs.append(F.count(F.lit(1)).alias("__n"))
    return aggs


def stats_from_row(row, xcols: list[str], has_y: bool = True) -> GroupStats:
    """Rebuild a GroupStats from one aggregated Row (by alias)."""
    k = len(xcols)
    xtx = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            v = row[f"__xx_{i}_{j}"]
            xtx[i, j] = xtx[j, i] = 0.0 if v is None else float(v)
    xsum = np.array([float(row[f"__xs_{i}"] or 0.0) for i in range(k)])
    if has_y:
        xty = np.array([float(row[f"__xy_{i}"] or 0.0) for i in range(k)])
        yty = float(row["__yty"] or 0.0)
        ysum = float(row["__ys"] or 0.0)
    else:
        xty = np.zeros(k)
        yty = 0.0
        ysum = 0.0
    return GroupStats(
        names=list(xcols),
        n=int(row["__n"] or 0),
        wsum=float(row["__wsum"] or 0.0),
        xtx=xtx,
        xty=xty,
        xsum=xsum,
        yty=yty,
        ysum=ysum,
    )


def collect_group_stats(
    df: DataFrame,
    xcols: list[str],
    ycol: str | None,
    group: str | None = None,
    wcol: str | None = None,
    engine: str = "expr",
) -> dict[str, GroupStats] | GroupStats:
    """One aggregation pass -> sufficient stats (optionally per group).

    This is the engine's single shuffle for a full Oaxaca point estimate.

    engine='expr' (default): pure Catalyst aggregate — stays in whole-stage
    codegen, O(k^2) shuffle state, the right plan on a 1000-executor cluster.
    engine='pandas': Arrow-batched mapInPandas + per-partition BLAS GEMM —
    ~3x lower latency on local/small data (the k^2 expression count makes
    codegen-compile, not compute, the bottleneck there). Same results.
    """
    if engine == "pandas" and ycol is not None:
        return _collect_group_stats_pandas(df, xcols, ycol, group, wcol)
    aggs = gram_agg_exprs(xcols, ycol, wcol)
    if group is None:
        row = df.agg(*aggs).collect()[0]
        return stats_from_row(row, xcols, has_y=ycol is not None)
    rows = df.groupBy(group).agg(*aggs).collect()
    return {r[group]: stats_from_row(r, xcols, has_y=ycol is not None) for r in rows}


def _collect_group_stats_pandas(
    df: DataFrame,
    xcols: list[str],
    ycol: str,
    group: str | None,
    wcol: str | None,
) -> dict[str, GroupStats] | GroupStats:
    import pandas as pd

    k = len(xcols)
    cols = ([group] if group else []) + [ycol] + xcols + ([wcol] if wcol else [])
    proj = df.select(*cols)

    def compute(iterator):
        acc: dict = {}
        for pdf in iterator:
            groups = pdf.groupby(group, sort=False) if group else [(None, pdf)]
            for gval, sub in groups:
                Xy = sub[[ycol] + xcols].to_numpy(dtype=np.float64)
                w = sub[wcol].to_numpy(dtype=np.float64) if wcol else None
                if w is None:
                    G = Xy.T @ Xy
                    s = Xy.sum(axis=0)
                    wsum = float(len(sub))
                else:
                    G = (Xy * w[:, None]).T @ Xy
                    s = (Xy * w[:, None]).sum(axis=0)
                    wsum = float(w.sum())
                v = np.concatenate([G.ravel(), s, [wsum, float(len(sub))]])
                key = gval if gval is not None else "__all__"
                if key in acc:
                    acc[key] += v
                else:
                    acc[key] = v
        yield pd.DataFrame(
            [(kk, vv.tolist()) for kk, vv in acc.items()], columns=["grp", "stats"]
        )

    pdf_all = proj.mapInPandas(compute, schema="grp string, stats array<double>").toPandas()
    merged: dict[str, np.ndarray] = {}
    for gval, stats in zip(pdf_all["grp"], pdf_all["stats"]):
        arr = np.asarray(stats, dtype=np.float64)
        if gval in merged:
            merged[gval] += arr
        else:
            merged[gval] = arr.copy()

    out: dict[str, GroupStats] = {}
    kk1 = k + 1
    for gval, v in merged.items():
        G = v[: kk1 * kk1].reshape(kk1, kk1)
        s = v[kk1 * kk1: kk1 * kk1 + kk1]
        wsum = float(v[-2])
        n = int(round(v[-1]))
        out[gval] = GroupStats(
            names=list(xcols),
            n=n,
            wsum=wsum,
            xtx=G[1:, 1:].copy(),
            xty=G[1:, 0].copy(),
            xsum=s[1:].copy(),
            yty=float(G[0, 0]),
            ysum=float(s[0]),
        )
    if group is None:
        return out["__all__"]
    return out


def ols_from_stats(stats: GroupStats, *, weighted: bool = False) -> OlsFit:
    """Solve the normal equations exactly as math/ols.rs:94-144 does.

    - n_obs <= k  -> InsufficientData (ols.rs:98-105)
    - Cholesky failure -> SingularMatrix (ols.rs:107-111)
    - sigma^2 = SSE/(n-k) with weighted SSE = sum w_i e_i^2 (ols.rs:120-135);
      computed here in closed form: SSE = y'Wy - 2 b'X'Wy + b'X'WX b.
    - vcov = sigma^2 (X'WX)^{-1}.

    Note the divisor n-k uses the RAW row count n, not sum(w) — matching
    ols.rs:83-92 where n = x.nrows().
    """
    k = stats.k
    n = stats.n
    if n <= k:
        raise InsufficientData(
            f"Insufficient data for OLS calculation: n_obs ({n}) must be strictly greater than k ({k})"
        )
    try:
        L = np.linalg.cholesky(stats.xtx)
    except np.linalg.LinAlgError as e:
        raise SingularMatrix() from e
    beta = _chol_solve(L, stats.xty)
    sse = float(stats.yty - 2.0 * beta @ stats.xty + beta @ stats.xtx @ beta)
    sse = max(sse, 0.0)
    sigma2 = sse / (n - k)
    xtx_inv = _chol_inverse(L)
    vcov = xtx_inv * sigma2
    fit = OlsFit(names=list(stats.names), beta=beta, vcov=vcov, sigma2=sigma2, n=n, stats=stats)
    return fit


def _chol_solve(L: np.ndarray, b: np.ndarray) -> np.ndarray:
    z = np.linalg.solve(L, b)
    return np.linalg.solve(L.T, z)


def _chol_inverse(L: np.ndarray) -> np.ndarray:
    k = L.shape[0]
    return _chol_solve_mat(L, np.eye(k))


def _chol_solve_mat(L: np.ndarray, B: np.ndarray) -> np.ndarray:
    z = np.linalg.solve(L, B)
    return np.linalg.solve(L.T, z)


def pooled_stats(
    stats_a: GroupStats,
    stats_b: GroupStats,
    indicator_name: str = "__ob_group_indicator__",
    indicator_pos: int | None = None,
) -> GroupStats:
    """Sufficient stats for the POOLED regression with a group-A indicator.

    The reference vstacks the two frames and appends an indicator column
    (builder.rs:547-566). Because the indicator is 1 exactly on group A, the
    pooled Gram matrix is reconstructible from per-group stats with ZERO
    additional Spark work:

      X'X_pool          = X'X_A + X'X_B
      (X'X_pool)[ind,j] = sum_A w x_j      (= stats_a.xsum)
      (X'X_pool)[ind,ind] = sum_A w        (= stats_a.wsum)
      (X'y_pool)[ind]   = sum_A w y        (= stats_a.ysum)

    ``indicator_pos`` controls where the indicator lands in the coefficient
    vector (prepare_data appends extra predictors after the continuous
    predictors, before dummies — builder.rs:330-346); default appends last
    then the caller permutes. We insert at the exact position to match.
    """
    k = stats_a.k
    if indicator_pos is None:
        indicator_pos = k
    names = list(stats_a.names)
    names.insert(indicator_pos, indicator_name)
    kk = k + 1
    # index map: old index -> new index
    old2new = []
    for i in range(k):
        old2new.append(i if i < indicator_pos else i + 1)
    xtx = np.zeros((kk, kk))
    xty = np.zeros(kk)
    xsum = np.zeros(kk)
    pool_xtx = stats_a.xtx + stats_b.xtx
    pool_xty = stats_a.xty + stats_b.xty
    pool_xsum = stats_a.xsum + stats_b.xsum
    for i in range(k):
        xty[old2new[i]] = pool_xty[i]
        xsum[old2new[i]] = pool_xsum[i]
        for j in range(k):
            xtx[old2new[i], old2new[j]] = pool_xtx[i, j]
    p = indicator_pos
    for i in range(k):
        xtx[p, old2new[i]] = xtx[old2new[i], p] = stats_a.xsum[i]
    xtx[p, p] = stats_a.wsum
    xty[p] = stats_a.ysum
    xsum[p] = stats_a.wsum
    return GroupStats(
        names=names,
        n=stats_a.n + stats_b.n,
        wsum=stats_a.wsum + stats_b.wsum,
        xtx=xtx,
        xty=xty,
        xsum=xsum,
        yty=stats_a.yty + stats_b.yty,
        ysum=stats_a.ysum + stats_b.ysum,
    )
