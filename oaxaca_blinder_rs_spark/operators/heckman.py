"""Heckman two-step selection correction wired into the Oaxaca pipeline
(SURVEY M12).

Reference: /root/reference/oaxaca_blinder/src/heckman.rs:38-108 (probit ->
IMR -> augmented OLS) and estimation.rs:114-269 (HeckmanEstimator).

Spark plan (point estimate AND bootstrap in the same machinery):
  1. explode a replicate dimension (rep = -1 is the point estimate with unit
     counts; rep >= 0 are Poisson-bootstrap resamples) — SURVEY M11 pattern;
  2. probit of selection per (rep, group) via glm.fit_many — each Fisher
     iteration is ONE aggregation for every replicate simultaneously;
  3. IMR as a column expression (gamma arrives via a broadcast beta table);
  4. ONE aggregation per frame: augmented-OLS Gram stats + means + IMR delta
     on selected rows, selection-predictor means on all rows;
  5. driver: k+1-dim solves + decomposition per replicate.

Deliberate divergence from the reference: the reference's null-drop includes
the outcome column, which silently removes all unselected rows before the
probit (builder.rs:786-791 + heckman_test.rs's None outcomes), making the
selection equation degenerate. We KEEP unselected rows (outcome excluded from
the null-drop) so the two-step is the textbook estimator. The reference's own
test assertions (IMR component present, summary renders) hold either way.

Pooled beta* is rejected: the pooled fit has no IMR regressor, so its beta*
is dimension-incompatible with the IMR-augmented means (the reference would
panic on the same path).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from ..errors import InvalidGroupVariable, NonNumericData, OaxacaError, warn
from ..functions.linalg import GroupStats, ols_from_stats
from ..functions.mathx import norm_cdf, norm_pdf
from .bootstrap import bootstrap_stats, poisson_replicate_count
from . import decomposition as dec
from .scan import local_table, with_row_id

IMR_NAME = "IMR"


def heckman_two_step(
    df,
    selection_outcome: str,
    selection_predictors: list[str],
    outcome: str,
    outcome_predictors: list[str],
):
    """Standalone Heckman two-step (heckman.rs:38-108 free function).

    Probit of selection on [1, Z] over all rows; IMR = phi/Phi of the linear
    predictor on selected rows (0 where Phi < 1e-10); OLS of y on
    [1, X, IMR] over selected rows. Returns a dict mirroring HeckmanResult:
    selection_coeffs, outcome_coeffs, imr_coeff, imr_mean, imr_delta.
    """
    from pyspark.sql import functions as FF

    from ..functions.linalg import gram_agg_exprs, ols_from_stats, stats_from_row
    from ..functions.mathx import norm_cdf, norm_pdf
    from .glm import fit_many, xb_expr

    d = df
    for c in [selection_outcome, outcome] + list(selection_predictors) + list(outcome_predictors):
        d = d.withColumn(c, FF.col(c).cast("double"))
    d = d.withColumn("__hk_i", FF.lit(1.0))
    sel_cols = ["__hk_i"] + list(selection_predictors)
    gamma = fit_many(
        d.dropna(subset=[selection_outcome] + list(selection_predictors)),
        sel_cols, selection_outcome, family="probit", max_iter=100, tol=1e-6,
        compress_cells=True,  # r14: low-support selection design, see run_heckman_oaxaca
    )[()].beta

    # stage zg -> Phi -> IMR as chained projections (one erf tree per plan;
    # codegen fuses the selects, see glm.fit_many for rationale)
    selected = (
        d.filter(FF.col(selection_outcome) == 1.0)
        .dropna(subset=[outcome] + list(outcome_predictors))
        .withColumn("__zg", xb_expr(gamma, sel_cols))
        .withColumn("__bigphi", norm_cdf(FF.col("__zg")))
        .withColumn(
            "__imr",
            FF.when(FF.col("__bigphi") < 1e-10, FF.lit(0.0)).otherwise(
                norm_pdf(FF.col("__zg")) / FF.col("__bigphi")
            ),
        )
    )
    xaug = ["__hk_i"] + list(outcome_predictors) + ["__imr"]
    aggs = gram_agg_exprs(xaug, outcome)
    aggs.append(FF.avg(-FF.col("__imr") * (FF.col("__imr") + FF.col("__zg"))).alias("__delta"))
    aggs.append(FF.avg("__imr").alias("__imr_mean"))
    row = selected.agg(*aggs).collect()[0]
    stats = stats_from_row(row, xaug, has_y=True)
    fit = ols_from_stats(stats)
    return {
        "selection_coeffs": gamma,
        "outcome_coeffs": fit.beta[:-1],
        "imr_coeff": float(fit.beta[-1]),
        "imr_mean": float(row["__imr_mean"]),
        "imr_delta": float(row["__delta"]),
    }


def _resampled_heckman_stats(
    design,
    xcols: list[str],
    sel_cols: list[str],
    outcome: str,
    sel_outcome: str,
    group: str,
    gammas: dict,
    rep_list: list[int],
    seed: int,
    id_col: str,
):
    """Stages 3+4 of the Heckman pipeline for ALL replicates in ONE
    mapInPandas pass over the unexploded design (the Arrow/BLAS engine).

    Only the IMR column of the augmented design varies across replicates
    (gamma_rep differs), so the Gram matrix splits into a rep-independent
    X'CX block (one GEMM against the count matrix) plus IMR cross-terms
    that are elementwise products folded into GEMMs:

        X'CX      = Ptri' C            (Lx x R, products built once)
        X'(C imr) = X' (C * IMR)       (k x R)
        imr'C imr = sum(C * IMR^2)     (R)

    with IMR (n_sel x R) = phi/Phi of ZG = X_sel @ Gamma', vectorized via
    mathx.erf_np. Z-means over ALL rows ride the same pass as X_sel' C.
    Returns (per_key, zmeans) in the exact shapes the driver code consumes.
    """
    import pandas as pd

    from ..functions.mathx import norm_cdf_np, norm_pdf_np
    from .bootstrap import poisson_counts_np

    k = len(xcols)
    k_sel = len(sel_cols)
    tri = [(i, j) for i in range(k) for j in range(i, k)]
    Lx = len(tri)
    rep_arr = np.array(rep_list, dtype=np.int64)
    gmats = {}
    for g in {g for (_, g) in gammas}:
        gmats[g] = np.array([gammas[(r, g)].beta for r in rep_list], dtype=np.float64)

    need = list(dict.fromkeys([group, id_col, outcome, sel_outcome] + xcols + sel_cols))
    proj = design.select(*need)
    out_schema = "rep long, grp string, stats array<double>"
    # stat vector layout (offsets consumed in the driver reduce below):
    # [xtx_tri Lx | x_imr k | imr2 1 | xy k | imr_y 1 | xsum k | imrsum 1 |
    #  yty 1 | ysum 1 | wsum 1 | zsum k_sel | csum_all 1 | delta_sum 1]

    def compute(iterator):
        by_group: dict = {}
        for pdf in iterator:
            for gval, sub in pdf.groupby(group, sort=False):
                if gval in gmats:
                    by_group.setdefault(gval, []).append(sub)
        rows_out = []
        for gval, parts in by_group.items():
            sub = pd.concat(parts, ignore_index=True)
            rid = sub[id_col].to_numpy(dtype=np.int64)
            C = poisson_counts_np(rid, rep_arr, seed)
            Z_all = sub[sel_cols].to_numpy(dtype=np.float64)
            zsum = Z_all.T @ C  # (k_sel x R)
            csum_all = C.sum(axis=0)  # (R)

            y_raw = sub[outcome].to_numpy(dtype=np.float64)
            mask = (sub[sel_outcome].to_numpy(dtype=np.float64) == 1.0) & ~np.isnan(y_raw)
            Xs = sub[xcols].to_numpy(dtype=np.float64)[mask]
            Zs = Z_all[mask]
            ys = y_raw[mask]
            Cs = C[mask]
            n_s = len(ys)

            ZG = Zs @ gmats[gval].T  # (n_s x R)
            big = norm_cdf_np(ZG)
            small = big < 1e-10
            IMR = np.where(small, 0.0, norm_pdf_np(ZG) / np.where(small, 1.0, big))
            CI = Cs * IMR

            P = np.empty((n_s, Lx), dtype=np.float64)
            for c0, (i, j) in enumerate(tri):
                P[:, c0] = Xs[:, i] * Xs[:, j]
            stat = np.concatenate(
                [
                    P.T @ Cs,  # xtx_tri
                    Xs.T @ CI,  # x_imr
                    (CI * IMR).sum(axis=0)[None, :],  # imr2
                    (Xs * ys[:, None]).T @ Cs,  # xy
                    (CI * ys[:, None]).sum(axis=0)[None, :],  # imr_y
                    Xs.T @ Cs,  # xsum
                    CI.sum(axis=0)[None, :],  # imrsum
                    (Cs * (ys * ys)[:, None]).sum(axis=0)[None, :],  # yty
                    (Cs * ys[:, None]).sum(axis=0)[None, :],  # ysum
                    Cs.sum(axis=0)[None, :],  # wsum
                    zsum,
                    csum_all[None, :],
                    -(CI * (IMR + ZG)).sum(axis=0)[None, :],  # delta_sum
                ],
                axis=0,
            )
            for idx, r in enumerate(rep_arr):
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

    names_aug = list(xcols) + ["__imr"]
    per_key: dict[tuple, tuple[GroupStats, float]] = {}
    zmeans: dict[tuple, np.ndarray] = {}
    o_ximr = Lx
    o_imr2 = o_ximr + k
    o_xy = o_imr2 + 1
    o_imry = o_xy + k
    o_xsum = o_imry + 1
    o_imrsum = o_xsum + k
    o_yty = o_imrsum + 1
    o_ysum = o_yty + 1
    o_wsum = o_ysum + 1
    o_zsum = o_wsum + 1
    o_csum = o_zsum + k_sel
    o_delta = o_csum + 1
    for key, v in acc.items():
        csum_all = v[o_csum]
        if csum_all > 0:
            zmeans[key] = v[o_zsum:o_csum] / csum_all
        wsum = v[o_wsum]
        if wsum <= 0:
            continue  # no selected rows in this replicate -> discarded later
        xtx = np.zeros((k + 1, k + 1))
        for idx, (i, j) in enumerate(tri):
            xtx[i, j] = xtx[j, i] = v[idx]
        xtx[:k, k] = xtx[k, :k] = v[o_ximr:o_imr2]
        xtx[k, k] = v[o_imr2]
        xty = np.append(v[o_xy:o_imry], v[o_imry])
        xsum = np.append(v[o_xsum:o_imrsum], v[o_imrsum])
        stats = GroupStats(
            names=names_aug,
            n=int(round(wsum)),
            wsum=float(wsum),
            xtx=xtx,
            xty=xty,
            xsum=xsum,
            yty=float(v[o_yty]),
            ysum=float(v[o_ysum]),
        )
        per_key[key] = (stats, float(v[o_delta] / wsum))
    return per_key, zmeans


def run_heckman_oaxaca(builder):
    from ..builder import INTERCEPT, ROW_ID
    from ..results import ComponentResult, DecompositionDetail, OaxacaResults, TwoFoldResults
    from .glm import fit_many

    group = builder._group
    outcome = builder._outcome
    sel_outcome = builder._selection_outcome
    sel_preds = builder._selection_predictors
    reps = builder._bootstrap_reps

    df = builder._clean(builder._df)
    df = with_row_id(df, builder._id_col, ROW_ID)
    dummy_names, category_counts, base_categories = builder._dummy_levels(df)
    group_a, group_b = builder._group_names(df)

    design, xcols = builder._design(df, dummy_names)
    sel_cols = [INTERCEPT] + list(sel_preds)
    for c in sel_preds:
        design = design.withColumn(c, F.col(c).cast("double"))
    design = design.withColumn(sel_outcome, F.col(sel_outcome).cast("double"))
    design = design.filter(F.col(group).isin([group_a, group_b])).cache()

    frame = None
    try:
        # the group sizes' aggregate also counts +-Infinity per checked column
        checked = list(dict.fromkeys([outcome, *builder._predictors, *sel_preds, sel_outcome]))
        count_rows = design.groupBy(group).agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.sum((F.abs(c) == F.lit(math.inf)).cast("long")).alias(f"__inf{i}") for i, c in enumerate(checked)],
        ).collect()
        full_counts = {r[group]: r["__n"] for r in count_rows}
        if group_a not in full_counts or group_b not in full_counts:
            raise InvalidGroupVariable("One group has no data")
        for i, c in enumerate(checked):
            if any(r[f"__inf{i}"] for r in count_rows):
                raise NonNumericData(c, "infinite values")

        if builder._engine == "pandas":
            # Arrow/BLAS engine: probit over all replicates with NO replicate
            # explosion (fit_many_resampled), then stages 3+4 fused into one
            # mapInPandas pass. NOTE: splitmix64 resample stream (the
            # poisson_fast convention) vs the expr path's xxhash64 stream —
            # point estimates agree; bootstrap draws are independent-but-valid.
            from .glm import fit_many_resampled

            gammas = fit_many_resampled(
                design,
                sel_cols,
                sel_outcome,
                group,
                reps,
                builder._seed,
                family="probit",
                id_col=ROW_ID,
                max_iter=100,
                tol=1e-6,
            )
            per_key, zmeans = _resampled_heckman_stats(
                design,
                xcols,
                sel_cols,
                outcome,
                sel_outcome,
                group,
                gammas,
                [-1] + list(range(reps)),
                builder._seed,
                ROW_ID,
            )
        else:
            # replicate dimension: rep -1 = point estimate (count 1)
            frame = design.withColumn("__rep", F.explode(F.sequence(F.lit(-1), F.lit(reps - 1))))
            cnt = F.when(
                F.col("__rep") < 0, F.lit(1.0)
            ).otherwise(
                poisson_replicate_count(F.col(ROW_ID), F.col("__rep"), builder._seed)
            )
            frame = frame.withColumn("__cnt", cnt).filter(F.col("__cnt") > 0)
            frame = frame.cache()

            # 1. probit of selection per (rep, group) — heckman.rs:46-47.
            # compress_cells: the selection design is typically
            # low-support ([1, Z] categorical/discrete), so the per-(rep,
            # group) Fisher iterations run on the driver over the weighted
            # cell table instead of scanning the exploded frame per
            # iteration; guarded fallback in glm.fit_many
            gammas = fit_many(
                frame,
                sel_cols,
                sel_outcome,
                family="probit",
                key_cols=["__rep", group],
                max_iter=100,
                tol=1e-6,
                wcol="__cnt",
                compress_cells=True,
            )

            # 2. IMR expression; gamma via broadcast table (rep, group) -> array
            gamma_df = local_table(design.sparkSession, {
                "__rep": ("long", [int(rep) for rep, _ in gammas]),
                group: ("string", [gval for _, gval in gammas]),
                "__gamma": ("array<double>", [[float(x) for x in fit.beta] for fit in gammas.values()]),
            })
            joined = frame.join(F.broadcast(gamma_df), on=["__rep", group])
            zg = F.lit(0.0)
            for j, c in enumerate(sel_cols):
                zg = zg + F.col(c) * F.element_at("__gamma", j + 1)
            # stage zg -> Phi -> IMR (one erf tree per plan, see glm.fit_many)
            joined = joined.withColumn("__zg", zg).withColumn(
                "__bigphi", norm_cdf(F.col("__zg"))
            )
            imr = F.when(F.col("__bigphi") < 1e-10, F.lit(0.0)).otherwise(
                norm_pdf(F.col("__zg")) / F.col("__bigphi")
            )
            joined = joined.withColumn("__imr", imr)

            # 3+4 in one pass, so the IMR/erf expression tree is evaluated
            # once: the all-rows z-means and the selected-rows augmented
            # Gram + IMR delta. The selected-rows aggregates weight by
            # __cnt_sel = __cnt when (selected AND outcome present) else
            # 0.0 — excluded rows contribute exact 0.0 terms (or NULLs
            # sum() skips, when the term touches the NULL outcome), so every
            # partial sum is bit-identical to a filtered aggregate's. A
            # (rep, group) with no selected rows has __wsum 0 and stays OUT
            # of per_key.
            zmean_aggs = [
                (F.sum(F.col("__cnt") * F.col(c)) / F.sum("__cnt")).alias(f"__zm_{j}")
                for j, c in enumerate(sel_cols)
            ]
            sel_ind = (F.col(sel_outcome) == 1.0) & F.col(outcome).isNotNull()
            joined = joined.withColumn(
                "__cnt_sel", F.when(sel_ind, F.col("__cnt")).otherwise(F.lit(0.0))
            )
            xaug = xcols + ["__imr"]
            from ..functions.linalg import gram_agg_exprs

            aggs = gram_agg_exprs(xaug, outcome, wcol="__cnt_sel", count_expr=F.col("__cnt_sel"))
            aggs.append(
                (
                    F.sum(F.col("__cnt_sel") * (-F.col("__imr") * (F.col("__imr") + F.col("__zg"))))
                    / F.sum("__cnt_sel")
                ).alias("__delta")
            )
            rows = joined.groupBy("__rep", group).agg(*zmean_aggs, *aggs).collect()
            from ..functions.linalg import stats_from_row

            zmeans = {
                (int(r["__rep"]), r[group]): np.array([float(r[f"__zm_{j}"]) for j in range(len(sel_cols))])
                for r in rows
            }
            per_key = {}
            for r in rows:
                if float(r["__wsum"] or 0.0) > 0.0:
                    key = (int(r["__rep"]), r[group])
                    per_key[key] = (stats_from_row(r, xaug, has_y=True), float(r["__delta"]))

        names = list(xcols) + [IMR_NAME]
        sel_names = [INTERCEPT] + list(sel_preds)

        def single_pass(rep: int):
            ka, kb = (rep, group_a), (rep, group_b)
            if ka not in per_key or kb not in per_key:
                raise OaxacaError("missing group in replicate")
            stats_a, delta_a = per_key[ka]
            stats_b, delta_b = per_key[kb]
            fit_a = ols_from_stats(stats_a)
            fit_b = ols_from_stats(stats_b)
            beta_a, beta_b = fit_a.beta, fit_b.beta
            xa_mean, xb_mean = stats_a.x_mean, stats_b.x_mean

            rc = builder._reference_coeffs
            if rc == dec.ReferenceCoefficients.GROUP_A:
                beta_star = beta_a
            elif rc == dec.ReferenceCoefficients.GROUP_B:
                beta_star = beta_b
            elif rc == dec.ReferenceCoefficients.WEIGHTED:
                n_a, n_b = float(full_counts[group_a]), float(full_counts[group_b])
                w_a = n_a / (n_a + n_b)
                beta_star = beta_a * w_a + beta_b * (1.0 - w_a)
            else:
                raise OaxacaError(
                    "Pooled reference coefficients are not supported with "
                    "Heckman selection (the pooled fit lacks the IMR regressor)"
                )

            three_fold = dec.three_fold_decomposition(xa_mean, xb_mean, beta_a, beta_b)
            two_fold = dec.two_fold_decomposition(xa_mean, xb_mean, beta_a, beta_b, beta_star)
            d_exp, d_unexp = dec.detailed_decomposition(xa_mean, xb_mean, beta_a, beta_b, beta_star, names)

            # detailed selection (builder.rs:478-534): theta_ref * delta_ref *
            # gamma_ref_i * (zbar_A_i - zbar_B_i)
            if rc == dec.ReferenceCoefficients.GROUP_A:
                theta_ref, delta_ref, gamma_ref = beta_a[-1], delta_a, gammas[ka].beta
            else:
                theta_ref, delta_ref, gamma_ref = beta_b[-1], delta_b, gammas[kb].beta
            zm_a, zm_b = zmeans[ka], zmeans[kb]
            d_sel = {
                nm: float(theta_ref * delta_ref * gamma_ref[i] * (zm_a[i] - zm_b[i]))
                for i, nm in enumerate(sel_names)
            }
            total_gap = stats_a.y_mean - stats_b.y_mean
            return {
                "two_fold": two_fold,
                "three_fold": three_fold,
                "d_exp": d_exp,
                "d_unexp": d_unexp,
                "d_sel": d_sel,
                "total_gap": total_gap,
                "beta_star": beta_star,
                "xa_mean": xa_mean,
                "xb_mean": xb_mean,
            }

        point = single_pass(-1)
        reps_results = []
        for rep in range(reps):
            try:
                reps_results.append(single_pass(rep))
            except OaxacaError:
                continue
        if reps and len(reps_results) < reps:
            warn(
                f"{reps - len(reps_results)} out of {reps} bootstrap "
                "replications failed and were discarded. The analysis is based "
                f"on {len(reps_results)} successful replications."
            )

        def component(name, est, estimates):
            se, p, (lo, hi) = bootstrap_stats(estimates, est)
            t = est / se if (se == se and abs(se) > 1e-9) else 0.0
            return ComponentResult(name=name, estimate=est, std_err=se, t_stat=t, p_value=p, ci_lower=lo, ci_upper=hi)

        def detailed(point_d, key):
            out = []
            for nm, est in point_d.items():
                ests = [r[key][nm] for r in reps_results if nm in r[key]]
                disp = "intercept" if nm == INTERCEPT else nm
                out.append(component(disp, est, ests))
            return out

        two_fold_agg = [
            component("explained", point["two_fold"].explained, [r["two_fold"].explained for r in reps_results]),
            component("unexplained", point["two_fold"].unexplained, [r["two_fold"].unexplained for r in reps_results]),
        ]
        three_fold_agg = [
            component("endowments", point["three_fold"].endowments, [r["three_fold"].endowments for r in reps_results]),
            component("coefficients", point["three_fold"].coefficients, [r["three_fold"].coefficients for r in reps_results]),
            component("interaction", point["three_fold"].interaction, [r["three_fold"].interaction for r in reps_results]),
        ]

        results = OaxacaResults(
            total_gap=point["total_gap"],
            two_fold=TwoFoldResults(
                aggregate=two_fold_agg,
                detailed_explained=detailed(point["d_exp"], "d_exp"),
                detailed_unexplained=detailed(point["d_unexp"], "d_unexp"),
                detailed_selection=detailed(point["d_sel"], "d_sel"),
            ),
            three_fold=DecompositionDetail(aggregate=three_fold_agg),
            n_a=int(full_counts[group_a]),
            n_b=int(full_counts[group_b]),
            residuals=[],
            xa_mean=[float(v) for v in point["xa_mean"]],
            xb_mean=[float(v) for v in point["xb_mean"]],
            beta_star=[float(v) for v in point["beta_star"]],
            predictor_names=names,
            n_failed_reps=reps - len(reps_results),
        )
        # residuals are zeroed under Heckman (estimation.rs:150-151)
        zero_df = (
            design.filter((F.col(group) == group_b) & (F.col(sel_outcome) == 1.0))
            .dropna(subset=[outcome])
            .select(F.col(ROW_ID).alias("row_id"), F.lit(0.0).alias("residual"))
        )

        def supplier():
            rows = zero_df.orderBy("row_id").collect()
            return [int(r[0]) for r in rows], [float(r[1]) for r in rows]

        results.attach_residuals(zero_df, supplier)
        return results
    finally:
        design.unpersist()
        if frame is not None:
            frame.unpersist()
