"""Matching engine: k-NN / Mahalanobis / propensity-score matching
(SURVEY J1-J3, M23).

Reference: /root/reference/oaxaca_blinder/src/matching/engine.rs:17-283,
matching/distance.rs (covariance with n-1 denominator, Cholesky-whitening
reduction of Mahalanobis to Euclidean), matching/logistic.rs (logit with
ridge 1e-6).

Spark plan: the control side's covariate matrix is broadcast to executors and
each treated partition computes exact top-k neighbors with vectorized NumPy
(argpartition) inside mapInPandas — the classic broadcast-NN join. Weight
bookkeeping mirrors the reference: treated weight = 1, each matched control
gains 1/k per match. Weights come back as a DataFrame keyed by a stable row
id (the reference uses positional indices — SURVEY §7.5 risk 1).

Scale: exact NN requires the control side in executor memory (fine for
ATT-style matching where controls ~ millions x small k). For larger control
sides, switch to `similarity.lsh_topk`-style bucketed matching (approximate)
— the API accepts `method='lsh'` as the scale path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import InvalidGroupVariable, OaxacaError
from .glm import logit
from .scan import local_table, with_row_id

ROW_ID = "__match_row_id__"


class MatchingEngine:
    """Mirror of MatchingEngine (matching/engine.rs:17-34)."""

    def __init__(self, dataframe: DataFrame, treatment_col: str, outcome_col: str, covariates, id_col: str | None = None):
        self._df = dataframe
        self._treatment = treatment_col
        self._outcome = outcome_col
        self._covariates = list(covariates)
        self._id_col = id_col

    def _control_matrix(self, df: DataFrame) -> tuple[np.ndarray, np.ndarray]:
        rows = (
            df.filter(F.col(self._treatment) == 0)
            .select(ROW_ID, *self._covariates)
            .toPandas()
            .sort_values(ROW_ID)  # id-sorted => stable-sort ties break by id
        )
        if len(rows) == 0:
            raise InvalidGroupVariable("One group is empty")
        ids = rows[ROW_ID].to_numpy(dtype=np.int64)
        X = rows[self._covariates].to_numpy(dtype=np.float64)
        return ids, X

    def _control_covariance(self, df: DataFrame) -> np.ndarray:
        """Covariance of CONTROL covariates, n-1 denominator (distance.rs:30-53)."""
        from ..functions.linalg import collect_group_stats

        ctl = df.filter(F.col(self._treatment) == 0)
        cast = ctl.select(*[F.col(c).cast("double").alias(c) for c in self._covariates])
        stats = collect_group_stats(cast, self._covariates, None)
        n = stats.n
        if n < 2:
            raise OaxacaError("Mahalanobis requires at least 2 control rows")
        mean = stats.xsum / n
        cov = (stats.xtx - n * np.outer(mean, mean)) / (n - 1)
        return cov

    def run_matching(self, k: int, use_mahalanobis: bool = False) -> DataFrame:
        """Weights frame (row_id, weight) — engine.rs:113-229 semantics."""
        # Cache only the columns this pass touches (row id, treatment flag,
        # covariates — the outcome is not consumed here), with the double
        # casts applied BEFORE caching: caching the raw input frame would
        # keep every source column (wide comment strings at 10x the bytes)
        # in storage and re-evaluate the casts on each of the three
        # actions below.
        df = with_row_id(self._df, self._id_col, ROW_ID).select(
            ROW_ID,
            F.col(self._treatment).alias(self._treatment),
            *[F.col(c).cast("double").alias(c) for c in self._covariates],
        ).cache()
        try:
            L = None
            if use_mahalanobis:
                cov = self._control_covariance(df)
                try:
                    inv_cov = np.linalg.inv(cov)
                    L = np.linalg.cholesky(inv_cov)
                except np.linalg.LinAlgError as e:
                    raise OaxacaError("Cholesky decomposition failed") from e

            ctl_ids, ctl_X = self._control_matrix(df)
            if L is not None:
                ctl_X = ctl_X @ L
            n_ctl = len(ctl_ids)
            kk = min(k, n_ctl)
            spark = df.sparkSession
            bc = spark.sparkContext.broadcast((ctl_ids, ctl_X))
            covs = list(self._covariates)
            Lb = L

            def match_part(it):
                import pandas as pd

                c_ids, c_X = bc.value
                c_X_t = np.ascontiguousarray(c_X.T)
                c_sq = np.einsum("ij,ij->i", c_X, c_X)
                c_sq_max = c_sq.max() if len(c_sq) else 0.0
                tol_scale = 16.0 * (c_X.shape[1] + 4) * np.finfo(np.float64).eps
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    T = pdf[covs].to_numpy(dtype=np.float64)
                    if Lb is not None:
                        T = T @ Lb
                    # Two-phase selection (GEMM candidates + exact recheck).
                    # The selection contract is "k smallest EXACT per-pair
                    # distances sum_j (t_j - c_j)^2, exact ties by lowest
                    # control id" (== ORDER BY (dist, id) in the SQL oracle);
                    # computing every pair in that exact form needs a Python
                    # loop per covariate over the full n_t x n_ctl matrix and
                    # cost matching_1nn ~1.8x in r7. Instead: (1) the expanded
                    # form |t|^2 - 2tc + |c|^2 via one BLAS GEMM as a
                    # CANDIDATE metric, (2) a per-row rounding bound widens
                    # the cut so no exact top-k member can be missed, (3) the
                    # exact per-pair form is recomputed only for candidate
                    # pairs (~k + ties per row), whose bitwise tie symmetry
                    # (t-c1 = -(t-c2) gives equal d2) decides the final set.
                    if kk >= n_ctl:
                        counts = np.full(n_ctl, float(len(T)))
                        yield pd.DataFrame({"ctl_idx": np.arange(n_ctl), "cnt": counts})
                        continue
                    t_sq = np.einsum("ij,ij->i", T, T)
                    d2a = t_sq[:, None] - 2.0 * (T @ c_X_t) + c_sq[None, :]
                    # k-th smallest approx value per row, then widen by the
                    # expanded-form rounding bound: each pair's error is
                    # O(eps * (|t|^2 + |c|^2)) — 16*(d+4) covers the GEMM
                    # accumulation and the three-term combination with slack.
                    if kk == 1:
                        kth = d2a.min(axis=1)
                    else:
                        kth = np.partition(d2a, kk - 1, axis=1)[:, kk - 1]
                    tol = tol_scale * (t_sq + c_sq_max) + 1e-300
                    rows_ix, cols_ix = np.where(d2a <= (kth + tol)[:, None])
                    # exact per-pair distances for candidates only, summed in
                    # fixed covariate order (bitwise-stable tie symmetry)
                    d2e = np.zeros(len(rows_ix))
                    for j in range(c_X.shape[1]):
                        dj = T[rows_ix, j] - c_X[cols_ix, j]
                        d2e += dj * dj
                    # per-row top-k under (exact dist, control id): np.where
                    # yields rows_ix ascending with cols_ix ascending within a
                    # row, so a stable lexsort on (d2e) within row groups
                    # preserves id order among exact ties.
                    order = np.lexsort((cols_ix, d2e, rows_ix))
                    sorted_cols = cols_ix[order]
                    cnt_per_row = np.bincount(rows_ix, minlength=len(T))
                    starts = np.concatenate(([0], np.cumsum(cnt_per_row[:-1])))
                    take = starts[:, None] + np.arange(kk)[None, :]
                    nearest = sorted_cols[take]
                    counts = np.bincount(nearest.ravel(), minlength=n_ctl).astype(np.float64)
                    yield pd.DataFrame({"ctl_idx": np.arange(n_ctl), "cnt": counts})

            treated = df.filter(F.col(self._treatment) == 1).select(*covs)
            partials = treated.mapInPandas(match_part, "ctl_idx long, cnt double")
            totals = partials.groupBy("ctl_idx").agg(F.sum("cnt").alias("cnt")).toPandas()

            weights = np.zeros(n_ctl)
            for idx, cnt in zip(totals["ctl_idx"], totals["cnt"]):
                weights[int(idx)] = float(cnt) / float(k)

            ctl_w = local_table(spark, {"row_id": ("long", ctl_ids.tolist()), "weight": ("double", weights.tolist())})
            treated_w = (
                df.filter(F.col(self._treatment) == 1)
                .select(F.col(ROW_ID).alias("row_id"), F.lit(1.0).alias("weight"))
            )
            other_w = (
                df.filter(~F.col(self._treatment).isin([0, 1]))
                .select(F.col(ROW_ID).alias("row_id"), F.lit(0.0).alias("weight"))
            )
            return treated_w.unionByName(ctl_w).unionByName(other_w)
        finally:
            df.unpersist()

    def match_nearest_neighbor(self, k: int, use_mahalanobis: bool = False) -> DataFrame:
        return self.run_matching(k, use_mahalanobis)

    def run_matching_lsh(self, k: int, bits: int = 8, num_tables: int = 4, seed: int = 42) -> DataFrame:
        """Approximate k-NN matching via sign-LSH bucketing — the path for
        control sides too large to broadcast. Same weight bookkeeping;
        neighbors come from similarity.lsh_topk (recall tunable via
        bits/num_tables). Euclidean-on-whitened != cosine in general, so this
        is the scale-approximation documented in the module header.
        """
        from pyspark.sql import functions as FF

        from .similarity import lsh_topk

        df = with_row_id(self._df, self._id_col, ROW_ID)
        vec = FF.array(*[FF.col(c).cast("double") for c in self._covariates])
        base = df.withColumn("__vec_arr", vec)
        treated = base.filter(FF.col(self._treatment) == 1).select(
            FF.col(ROW_ID).alias("vec_id"), FF.col("__vec_arr").alias("embedding")
        )
        control = base.filter(FF.col(self._treatment) == 0).select(
            FF.col(ROW_ID).alias("vec_id"), FF.col("__vec_arr").alias("embedding")
        )
        nn = lsh_topk(
            treated, control, dim=len(self._covariates), k=k,
            bits=bits, num_tables=num_tables, seed=seed, exclude_self=False,
        )
        ctl_w = (
            nn.groupBy("neighbor_id")
            .agg((FF.count(FF.lit(1)) / FF.lit(float(k))).alias("weight"))
            .select(FF.col("neighbor_id").alias("row_id"), "weight")
        )
        ctl_all = control.select(FF.col("vec_id").alias("row_id")).join(ctl_w, "row_id", "left").fillna(
            {"weight": 0.0}
        )
        treated_w = treated.select(FF.col("vec_id").alias("row_id"), FF.lit(1.0).alias("weight"))
        return treated_w.unionByName(ctl_all)

    def match_psm(self, k: int) -> DataFrame:
        """Propensity-score matching (engine.rs:232-283): ridge-1e-6 logit of
        treatment on covariates, then 1-D NN matching on the score."""
        df = with_row_id(self._df, self._id_col, ROW_ID)
        design = df.withColumn("__psm_i", F.lit(1.0))
        for c in self._covariates:
            design = design.withColumn(c, F.col(c).cast("double"))
        design = design.withColumn("__psm_y", F.col(self._treatment).cast("double"))
        design = design.fillna({"__psm_y": 0.0})
        xcols = ["__psm_i"] + self._covariates
        fit = logit(design, xcols, "__psm_y", max_iter=100, tol=1e-6, ridge=1e-6)
        scored = design.withColumn("propensity_score", fit.prob_expr(xcols, "logit"))
        engine = MatchingEngine(scored, self._treatment, self._outcome, ["propensity_score"], id_col=ROW_ID)
        return engine.run_matching(k, use_mahalanobis=False)

    def weights_list(self, weights_df: DataFrame) -> list[float]:
        """Weights ordered by row id — the reference's Vec<f64> view."""
        return [float(r["weight"]) for r in weights_df.orderBy("row_id").collect()]
