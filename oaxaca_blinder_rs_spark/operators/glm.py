"""GLM kernels: logit (M2) and probit (M3) as iterated Gram aggregations.

Reference: /root/reference/oaxaca_blinder/src/math/logit.rs:31-118 (Newton-
Raphson, clamp [1e-10, 1-1e-10], ||step|| < tol), math/probit.rs:25-172
(Fisher scoring, -1e-9 diagonal regularization, Cholesky with LU fallback),
matching/logistic.rs (same logit but ridge 1e-6 on the Hessian).

Spark-first design — **multi-model IRLS**: `fit_many` fits one GLM per
distinct key (e.g. per group, or per (bootstrap_rep, group)) simultaneously.
Each Newton iteration is ONE distributed aggregation:

    per-row weight/score expressions (from each model's current beta)
      -> groupBy(keys).agg(X'WX upper triangle, X'score)   [one shuffle]
      -> driver updates every model's k-vector, tracks convergence

Current betas reach the executors either as CASE literals (few models) or a
broadcast-joined beta table (many models — the bootstrap path), so 500
bootstrap probits cost the same number of Spark jobs as one probit.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import ConvergenceError, SingularMatrix
from ..functions.mathx import clamp, norm_cdf, norm_pdf, sigmoid
from .scan import local_table

__all__ = ["GlmFit", "logit", "probit", "fit_many", "fit_many_resampled", "xb_expr"]

_CASE_LITERAL_LIMIT = 8


@dataclass
class GlmFit:
    """Mirror of LogitResult / ProbitResult."""

    names: list[str]
    beta: np.ndarray
    converged: bool
    iterations: int
    vcov: np.ndarray | None = field(default=None, repr=False)

    def prob_expr(self, xcols: list[str], family: str = "logit") -> Column:
        """Predicted probability as a Catalyst expression (for huge frames)."""
        xb = xb_expr(self.beta, xcols)
        if family == "logit":
            return clamp(sigmoid(xb), 1e-10, 1.0 - 1e-10)
        return clamp(norm_cdf(xb), 1e-10, 1.0 - 1e-10)


def xb_expr(beta, xcols: list[str]) -> Column:
    e = F.lit(0.0)
    for b, c in zip(beta, xcols):
        e = e + F.col(c) * F.lit(float(b))
    return e


# Per-row IRLS (weight, score) per family, staged inside fit_many:
#   logit:  w = p(1-p),                 score = y - p         (logit.rs:46-66)
#   probit: w = phi^2/(Phi(1-Phi)),     score = lambda        (probit.rs:60-81)
#           lambda = phi/Phi if y=1 else -phi/(1-Phi)


def _beta_column(df: DataFrame, betas: dict, key_cols: list[str], k: int) -> tuple[DataFrame, Column]:
    """Materialize each row's current beta as an array column."""
    if len(betas) <= _CASE_LITERAL_LIMIT:
        expr = None
        for key, beta in betas.items():
            cond = None
            for c, v in zip(key_cols, key):
                this = F.col(c) == F.lit(v)
                cond = this if cond is None else (cond & this)
            arr = F.array(*[F.lit(float(b)) for b in beta])
            expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
        return df, expr
    dtypes = dict(df.dtypes)
    beta_df = local_table(df.sparkSession, {
        **{c: (dtypes.get(c, "string"), [key[i] for key in betas]) for i, c in enumerate(key_cols)},
        "__beta": ("array<double>", [[float(b) for b in beta] for beta in betas.values()]),
    })
    joined = df.join(F.broadcast(beta_df), on=key_cols, how="inner")
    return joined, F.col("__beta")


GLM_CELL_COLLECT_LIMIT = 200_000


def fit_many(
    df: DataFrame,
    xcols: list[str],
    ycol: str,
    family: str = "logit",
    key_cols: list[str] | None = None,
    max_iter: int = 100,
    tol: float = 1e-6,
    ridge: float = 0.0,
    diag_reg: float | None = None,
    wcol: str | None = None,
    compress_cells: bool = False,
) -> dict[tuple, GlmFit]:
    """Fit one GLM per distinct key in one aggregation per iteration.

    ``wcol`` multiplies both the information matrix and the score — it carries
    frequency weights (e.g. Poisson-bootstrap counts).
    Returns {key_tuple: GlmFit}. Keyless fit => {(): GlmFit}.

    ``compress_cells`` (r14 OPT, guide §1.2): every per-iteration quantity is
    a sum over rows of terms depending ONLY on (key, x, y) times the
    frequency weight, so rows collapse losslessly to distinct
    (key, x, y) cells with summed weights — the weighted likelihood is
    identical. When the support is small (categorical/low-cardinality
    designs: the DFL group logit, the Heckman selection probit) the cell
    table is pulled to the driver ONCE (guarded by GLM_CELL_COLLECT_LIMIT,
    the akm.py limit+1-probe convention) and Newton runs in NumPy with the
    IDENTICAL link/step/convergence arithmetic — zero Spark jobs per
    iteration instead of one scan each. Cells above the limit, or any NULL
    in the collected design (whose per-term null semantics the driver path
    does not replicate), fall back to the distributed loop unchanged.
    """
    key_cols = key_cols or []
    k = len(xcols)
    if diag_reg is None:
        diag_reg = 1e-9 if family == "probit" else 0.0

    if compress_cells:
        freq0 = F.col(wcol) if wcol else F.lit(1.0)
        cells = df.groupBy(
            *key_cols, *[F.col(c).cast("double").alias(c) for c in xcols],
            F.col(ycol).cast("double").alias(ycol),
        ).agg(F.sum(freq0.cast("double")).alias("__cw"))
        pdf = cells.limit(GLM_CELL_COLLECT_LIMIT + 1).toPandas()
        if len(pdf) <= GLM_CELL_COLLECT_LIMIT and not pdf.isnull().any().any():
            return _fit_many_driver(
                pdf, xcols, ycol, key_cols, family, max_iter, tol, ridge, diag_reg
            )
        # support too large (or null-bearing design): distributed loop below

    # discover keys + initialize beta = 0 (logit.rs:41, probit.rs:40)
    if key_cols:
        keys = [tuple(r) for r in df.select(*key_cols).distinct().collect()]
    else:
        keys = [()]
    betas = {key: np.zeros(k) for key in keys}
    done: dict[tuple, GlmFit] = {}
    infos: dict[tuple, np.ndarray] = {}

    freq = F.col(wcol) if wcol else F.lit(1.0)
    tri = [(i, j) for i in range(k) for j in range(i, k)]

    it = 0
    while it < max_iter and len(done) < len(keys):
        it += 1
        active = {key: b for key, b in betas.items() if key not in done}
        work = df
        if key_cols and len(done) > 0 and len(active) < len(keys):
            # stop scanning rows whose models already converged
            conds = None
            for key in active:
                cond = None
                for c, v in zip(key_cols, key):
                    this = F.col(c) == F.lit(v)
                    cond = this if cond is None else (cond & this)
                conds = cond if conds is None else (conds | cond)
            work = df.filter(conds)

        if key_cols:
            work, beta_col = _beta_column(work, active, key_cols, k)
            xb = F.lit(0.0)
            for j, c in enumerate(xcols):
                xb = xb + F.col(c) * F.element_at(beta_col, j + 1)
        else:
            xb = xb_expr(betas[()], xcols)

        # stage the link-function pipeline as chained narrow projections
        # (xb -> phi/Phi -> w/score). Catalyst fuses them into one codegen
        # stage, but keeping each erf/sigmoid tree a single occurrence over a
        # leaf column keeps the analyzed plan small — inlining xb into the
        # 4 probit sub-expressions made driver-side analysis the bottleneck.
        work = work.select(
            *key_cols, *xcols,
            F.col(ycol).alias("__y"), freq.alias("__fq"), xb.alias("__xb"),
        )
        if family == "probit":
            work = work.withColumn("__phi", norm_pdf(F.col("__xb"))).withColumn(
                "__bigphi", clamp(norm_cdf(F.col("__xb")), 1e-10, 1.0 - 1e-10)
            )
            phi, big_phi, y = F.col("__phi"), F.col("__bigphi"), F.col("__y")
            w_expr = (phi * phi) / (big_phi * (F.lit(1.0) - big_phi))
            score_expr = F.when(y > 0.5, phi / big_phi).otherwise(
                -phi / (F.lit(1.0) - big_phi)
            )
        elif family == "logit":
            work = work.withColumn(
                "__p", clamp(sigmoid(F.col("__xb")), 1e-10, 1.0 - 1e-10)
            )
            p = F.col("__p")
            w_expr = p * (F.lit(1.0) - p)
            score_expr = F.col("__y") - p
        else:
            raise ValueError(f"unknown family: {family}")
        work = work.select(
            *key_cols,
            *xcols,
            (F.col("__fq") * w_expr).alias("__fw"),
            (F.col("__fq") * score_expr).alias("__fs"),
        )
        aggs = []
        for (i, j) in tri:
            aggs.append(F.sum(F.col("__fw") * F.col(xcols[i]) * F.col(xcols[j])).alias(f"__h_{i}_{j}"))
        for i in range(k):
            aggs.append(F.sum(F.col(xcols[i]) * F.col("__fs")).alias(f"__g_{i}"))

        if key_cols:
            rows = work.groupBy(*key_cols).agg(*aggs).collect()
            by_key = {tuple(r[c] for c in key_cols): r for r in rows}
        else:
            by_key = {(): work.agg(*aggs).collect()[0]}

        for key, row in by_key.items():
            info = np.zeros((k, k))
            for (i, j) in tri:
                v = float(row[f"__h_{i}_{j}"] or 0.0)
                info[i, j] = info[j, i] = v
            grad = np.array([float(row[f"__g_{i}"] or 0.0) for i in range(k)])
            step, info = _newton_step(info, grad, k, ridge, diag_reg, family)
            betas[key] = betas[key] + step
            infos[key] = info
            if float(np.linalg.norm(step)) < tol:
                done[key] = GlmFit(names=list(xcols), beta=betas[key], converged=True, iterations=it)

    for key in keys:
        if key not in done:
            done[key] = GlmFit(names=list(xcols), beta=betas[key], converged=False, iterations=max_iter)
        if family == "probit" and key in infos:
            # vcov = (X'WX + reg I)^{-1} (probit.rs:147-165: -H^{-1})
            try:
                done[key].vcov = np.linalg.inv(infos[key])
            except np.linalg.LinAlgError as e:
                raise SingularMatrix("Failed to invert Hessian for VCOV") from e
    return done


def _fit_many_driver(
    pdf, xcols, ycol, key_cols, family, max_iter, tol, ridge, diag_reg
) -> dict[tuple, GlmFit]:
    """NumPy Newton over the collected weighted cell table — the driver leg
    of ``fit_many(compress_cells=True)``. Replicates the distributed loop's
    arithmetic exactly: same link expressions (mathx *_np twins of the SQL
    trees, incl. the 1e-10 clamps), the shared ``_newton_step`` solve, and
    the same per-key freeze-on-||step||<tol convergence bookkeeping."""
    from ..functions.mathx import norm_cdf_np, norm_pdf_np

    k = len(xcols)
    if key_cols:
        grouped = list(pdf.groupby(key_cols, sort=False))
        parts = [
            (tuple(key) if isinstance(key, tuple) else (key,), sub)
            for key, sub in grouped
        ]
    else:
        parts = [((), pdf)]
    out: dict[tuple, GlmFit] = {}
    for key, sub in parts:
        X = sub[xcols].to_numpy(dtype=np.float64)
        y = sub[ycol].to_numpy(dtype=np.float64)
        cw = sub["__cw"].to_numpy(dtype=np.float64)
        beta = np.zeros(k)
        fit = None
        info = None
        it = 0
        while it < max_iter:
            it += 1
            xb = X @ beta
            if family == "probit":
                phi = norm_pdf_np(xb)
                big = np.clip(norm_cdf_np(xb), 1e-10, 1.0 - 1e-10)
                w = (phi * phi) / (big * (1.0 - big))
                s = np.where(y > 0.5, phi / big, -phi / (1.0 - big))
            elif family == "logit":
                p = np.clip(1.0 / (1.0 + np.exp(-xb)), 1e-10, 1.0 - 1e-10)
                w = p * (1.0 - p)
                s = y - p
            else:
                raise ValueError(f"unknown family: {family}")
            fw = cw * w
            fs = cw * s
            info_m = (X * fw[:, None]).T @ X
            grad = X.T @ fs
            step, info = _newton_step(info_m, grad, k, ridge, diag_reg, family)
            beta = beta + step
            if float(np.linalg.norm(step)) < tol:
                fit = GlmFit(names=list(xcols), beta=beta, converged=True, iterations=it)
                break
        if fit is None:
            fit = GlmFit(names=list(xcols), beta=beta, converged=False, iterations=max_iter)
        if family == "probit" and info is not None:
            try:
                fit.vcov = np.linalg.inv(info)
            except np.linalg.LinAlgError as e:
                raise SingularMatrix("Failed to invert Hessian for VCOV") from e
        out[key] = fit
    return out


def _newton_step(info, grad, k, ridge, diag_reg, family):
    """Shared Newton/Fisher solve: Cholesky with the reference's fallbacks
    (probit.rs:131-141 LU on singular; logit.rs raises SingularMatrix)."""
    info = info + (ridge + diag_reg) * np.eye(k)
    try:
        L = np.linalg.cholesky(info)
        z = np.linalg.solve(L, grad)
        return np.linalg.solve(L.T, z), info
    except np.linalg.LinAlgError:
        if family == "probit":
            try:
                return np.linalg.solve(info, grad), info
            except np.linalg.LinAlgError as e:
                raise SingularMatrix("Failed to solve Hessian system in Probit") from e
        raise SingularMatrix(
            "Failed to solve Information Matrix in Logit. Perfect separation?"
        ) from None


def fit_many_resampled(
    df: DataFrame,
    xcols: list[str],
    ycol: str,
    group: str,
    reps: int,
    seed: int,
    family: str = "probit",
    id_col: str = "__ob_row_id__",
    max_iter: int = 100,
    tol: float = 1e-6,
    ridge: float = 0.0,
    diag_reg: float | None = None,
    include_identity: bool = True,
) -> dict[tuple, GlmFit]:
    """One GLM per (bootstrap replicate, group) — the Arrow/BLAS engine.

    ``fit_many`` over a replicate-exploded frame evaluates the Catalyst link
    pipeline on (B+1) x n rows per Fisher iteration. This engine never
    explodes: each iteration is ONE ``mapInPandas`` pass over the unexploded
    projection. Every partition regenerates the deterministic Poisson count
    matrix C (n_p x R) via ``bootstrap.poisson_counts_np`` (splitmix64,
    partition-independent — the same stream as the ``poisson_fast`` OLS
    bootstrap) and reduces ALL replicates' information and score partials
    with two BLAS GEMMs:

        info[:, r] = Ptri' (C_r * w_irls_r)    grad[:, r] = X' (C_r * s_r)

    so per-iteration cost is one Arrow transfer of the n x (k+3) projection
    plus O(n R k^2 / cores) BLAS flops; driver work is R k x k solves.
    Converged (rep, group) models drop out of the broadcast beta table, so
    late iterations only compute the stragglers.

    rep = -1 (``include_identity``) carries unit counts — the point
    estimate. NOTE: the replicate draws are the splitmix64 stream, not the
    exploded path's xxhash64 stream; the two engines produce
    different-but-equally-valid bootstrap resamples, while the rep = -1
    point estimates agree to solver tolerance.

    Mirrors math/probit.rs:25-172 / math/logit.rs:31-118 semantics exactly
    (beta0 = 0, clamp [1e-10, 1-1e-10], ||step|| < tol, probit -1e-9 diag
    regularization, vcov = info^{-1}).
    """
    import pandas as pd

    from ..functions.mathx import norm_cdf_np, norm_pdf_np
    from .bootstrap import poisson_counts_np

    k = len(xcols)
    if diag_reg is None:
        diag_reg = 1e-9 if family == "probit" else 0.0
    if family not in ("probit", "logit"):
        raise ValueError(f"unknown family: {family}")
    tri = [(i, j) for i in range(k) for j in range(i, k)]
    L = len(tri)

    proj = df.select(group, id_col, ycol, *xcols)
    groups = [r[0] for r in df.select(group).distinct().collect()]
    rep_list = ([-1] if include_identity else []) + list(range(reps))
    keys = [(r, g) for g in groups for r in rep_list]
    betas = {key: np.zeros(k) for key in keys}
    done: dict[tuple, GlmFit] = {}
    infos: dict[tuple, np.ndarray] = {}
    out_schema = "rep long, grp string, stats array<double>"

    it = 0
    while it < max_iter and len(done) < len(keys):
        it += 1
        active: dict = {}
        for g in groups:
            rs = [r for r in rep_list if (r, g) not in done]
            if rs:
                active[g] = (
                    np.array(rs, dtype=np.int64),
                    np.array([betas[(r, g)] for r in rs], dtype=np.float64),
                )

        def compute(iterator, active=active):
            by_group: dict = {}
            for pdf in iterator:
                for gval, sub in pdf.groupby(group, sort=False):
                    if gval in active:
                        by_group.setdefault(gval, []).append(sub)
            rows_out = []
            for gval, parts in by_group.items():
                rep_ids, bmat = active[gval]
                sub = pd.concat(parts, ignore_index=True)
                n_g = len(sub)
                X = sub[xcols].to_numpy(dtype=np.float64)
                y = sub[ycol].to_numpy(dtype=np.float64)
                rid = sub[id_col].to_numpy(dtype=np.int64)
                C = poisson_counts_np(rid, rep_ids, seed)
                xb = X @ bmat.T  # (n_g x R_active)
                if family == "probit":
                    phi = norm_pdf_np(xb)
                    big = np.clip(norm_cdf_np(xb), 1e-10, 1.0 - 1e-10)
                    W = phi * phi / (big * (1.0 - big))
                    S = np.where(y[:, None] > 0.5, phi / big, -phi / (1.0 - big))
                else:
                    with np.errstate(over="ignore"):
                        p = np.clip(1.0 / (1.0 + np.exp(-xb)), 1e-10, 1.0 - 1e-10)
                    W = p * (1.0 - p)
                    S = y[:, None] - p
                P = np.empty((n_g, L), dtype=np.float64)
                for c0, (i, j) in enumerate(tri):
                    P[:, c0] = X[:, i] * X[:, j]
                # last row = total resample count per replicate, so the driver
                # can flag degenerate all-zero Poisson draws instead of
                # accepting a beta=0 "converged" fit
                stat = np.concatenate(
                    [P.T @ (C * W), X.T @ (C * S), C.sum(axis=0, keepdims=True)], axis=0
                )
                for idx, r in enumerate(rep_ids):
                    rows_out.append((int(r), gval, stat[:, idx].tolist()))
            yield pd.DataFrame(rows_out, columns=["rep", "grp", "stats"])

        pdf_all = proj.mapInPandas(compute, schema=out_schema).toPandas()
        acc: dict[tuple, np.ndarray] = {}
        for rep, gval, stats in zip(pdf_all["rep"], pdf_all["grp"], pdf_all["stats"]):
            key = (int(rep), gval)
            arr = np.asarray(stats, dtype=np.float64)
            if key in acc:
                acc[key] += arr
            else:
                acc[key] = arr.copy()

        for key, v in acc.items():
            if v[-1] <= 0.0:
                # replicate resampled zero rows: info = reg*I, grad = 0 would
                # "converge" at beta = 0 — mark degenerate instead
                done[key] = GlmFit(
                    names=list(xcols), beta=betas[key], converged=False, iterations=it
                )
                continue
            info = np.zeros((k, k))
            for idx, (i, j) in enumerate(tri):
                info[i, j] = info[j, i] = v[idx]
            step, info = _newton_step(info, v[L : L + k], k, ridge, diag_reg, family)
            betas[key] = betas[key] + step
            infos[key] = info
            if float(np.linalg.norm(step)) < tol:
                done[key] = GlmFit(names=list(xcols), beta=betas[key], converged=True, iterations=it)

    for key in keys:
        if key not in done:
            done[key] = GlmFit(names=list(xcols), beta=betas[key], converged=False, iterations=max_iter)
        if family == "probit" and key in infos:
            try:
                done[key].vcov = np.linalg.inv(infos[key])
            except np.linalg.LinAlgError as e:
                raise SingularMatrix("Failed to invert Hessian for VCOV") from e
    return done


def logit(
    df: DataFrame,
    xcols: list[str],
    ycol: str,
    max_iter: int = 100,
    tol: float = 1e-6,
    ridge: float = 0.0,
    wcol: str | None = None,
    compress_cells: bool = False,
) -> GlmFit:
    """Newton-Raphson logistic regression (math/logit.rs:31-118).

    ``ridge=1e-6`` reproduces the matching engine's variant
    (matching/logistic.rs:87-91) — the two reference logits differ only here.
    """
    return fit_many(
        df, xcols, ycol, family="logit", max_iter=max_iter, tol=tol,
        ridge=ridge, wcol=wcol, compress_cells=compress_cells,
    )[()]


def probit(
    df: DataFrame,
    xcols: list[str],
    ycol: str,
    max_iter: int = 100,
    tol: float = 1e-6,
    wcol: str | None = None,
) -> GlmFit:
    """Fisher-scoring probit (math/probit.rs:25-172)."""
    return fit_many(df, xcols, ycol, family="probit", max_iter=max_iter, tol=tol, wcol=wcol)[()]
