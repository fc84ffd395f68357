"""AKM (Abowd-Kramarz-Margolis) two-way fixed effects (SURVEY M16).

Reference: /root/reference/oaxaca_blinder/src/akm.rs:30-621.

Pipeline (mirroring akm.rs):
  1. largest connected set over the worker-firm bipartite graph;
  2. FWL: zig-zag demeaning of y and controls by worker then firm means until
     ||delta||_2 < tol (max 1000 iters, failure = error);
  3. OLS of demeaned y on demeaned controls (no intercept);
  4. alternating projections recover alpha (worker), psi (firm) from
     r = y - X beta;
  5. identification: psi[first firm] = 0 (subtract from psi, add to alpha);
  6. R^2 of the full prediction.

Two execution engines:
- 'pandas': distinct edges -> driver union-find; (worker_idx, firm_idx, y, X)
  pulled once (size-guarded) and the exact reference algorithm runs
  vectorized (np.bincount scatter-gather). Bit-compatible with akm.rs.
- 'dist': label propagation for the connected set (alternating min over the
  bipartite structure) and join-based demeaning — each sweep is two
  groupBy+join shuffles, its frame pinned (``scan.pinned``) to cut lineage
  until the next sweep's is. This is the 100 TB path: state per iteration
  is one column per vector, worker/firm means are shuffles on their natural
  keys; the effects stay distributed, pinned until ``AkmResult.release()``.
'auto' picks 'pandas' under a row guard.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ConvergenceError, InsufficientData, OaxacaError
from .scan import local_table, pinned

__all__ = ["AkmBuilder", "AkmResult"]

PANDAS_ROW_LIMIT = 5_000_000


@dataclass
class AkmResult:
    """akm.rs:38-44."""

    beta: np.ndarray
    worker_effects: DataFrame
    firm_effects: DataFrame
    r2: float
    # unpins the checkpoints the effect frames read ('dist' engine); the
    # frames must not be read afterwards
    release: Callable[[], None] = field(default=lambda: None, repr=False)


class AkmBuilder:
    """Mirror of AkmBuilder (akm.rs:47-111): tolerance 1e-8, max_iters 1000."""

    def __init__(self, dataframe: DataFrame, outcome: str, worker_col: str, firm_col: str):
        self._df = dataframe
        self._outcome = outcome
        self._worker = worker_col
        self._firm = firm_col
        self._controls: list[str] = []
        self._tolerance = 1e-8
        self._max_iters = 1000
        self._engine = "auto"

    def controls(self, cols) -> "AkmBuilder":
        self._controls = list(cols)
        return self

    def tolerance(self, tol: float) -> "AkmBuilder":
        self._tolerance = float(tol)
        return self

    def max_iters(self, iters: int) -> "AkmBuilder":
        self._max_iters = int(iters)
        return self

    def engine(self, engine: str) -> "AkmBuilder":
        if engine not in ("auto", "pandas", "dist"):
            raise ValueError("engine must be 'auto', 'pandas' or 'dist'")
        self._engine = engine
        return self

    # ------------------------------------------------------------------
    def run(self) -> AkmResult:
        df = self._df.select(
            F.col(self._worker).cast("string").alias(self._worker),
            F.col(self._firm).cast("string").alias(self._firm),
            F.col(self._outcome).cast("double").alias(self._outcome),
            *[F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(c) for c in self._controls],
        ).dropna(subset=[self._worker, self._firm, self._outcome])

        engine = self._engine
        if engine == "auto":
            # r14 OPT (guide §2.5/§5): the old fused guard was
            # limit(LIMIT+1).toPandas(), whose CollectLimit funnels the whole
            # upstream plan (usually a join) through ONE task. Persist + a
            # PARALLEL count instead: the join still executes exactly once
            # (into the cache), the guard job spreads over every core, and
            # the pandas path's Arrow collect then reads cached partitions in
            # parallel. The dist path reads df twice (edge distinct + the
            # component semi-join), so the cache pays for itself there too.
            df = df.persist()
            try:
                if df.count() <= PANDAS_ROW_LIMIT:
                    return self._solve_pdf(df.toPandas(), df.sparkSession)
                return self._run_dist(df)
            finally:
                df.unpersist()
        if engine == "pandas":
            # single data pull: connected-set filtering happens in NumPy on
            # the already-collected frame (no extra distinct job)
            return self._solve_pandas(df)
        return self._run_dist(df)

    def _run_dist(self, df: DataFrame) -> AkmResult:
        with pinned() as pin:
            return self._solve_dist(self._largest_connected_set_dist(df, pin), pin)

    # -- connected set (distributed label propagation) --------------------
    def _largest_connected_set_dist(self, df: DataFrame, pin) -> DataFrame:
        """Pure-DataFrame alternating-min label propagation on the bipartite
        graph — the cluster-scale path (no driver edge collection):

          firm_label   = min(worker labels over its edges, own)
          worker_label = min(firm labels over its edges, own)

        repeated until no label changes. Each sweep = two groupBy+join
        shuffles on the natural keys; edges (distinct pairs) are pinned
        once. Converges in O(diameter) sweeps.
        """
        w, f = self._worker, self._firm
        edges = pin(df.select(w, f).distinct())
        # initial labels: the worker key ITSELF (collision-free — an earlier
        # build used xxhash64(worker), where a 64-bit collision across two
        # components would have merged them silently; the label is only ever
        # min'd and compared, so any orderable value works)
        wlab = edges.select(w).distinct().withColumn("__lab", F.col(w))
        for _ in range(10_000):
            fl = (
                edges.join(wlab, on=w)
                .groupBy(f)
                .agg(F.min("__lab").alias("__flab"))
            )
            new_wlab = (
                edges.join(fl, on=f)
                .groupBy(w)
                .agg(F.min("__flab").alias("__lab_new"))
            )
            # the sweep's plan runs once, into the checkpoint; the changed
            # labels are counted from its blocks
            wlab = pin(wlab.join(new_wlab, on=w).select(
                w,
                F.least("__lab", "__lab_new").alias("__lab"),
                (F.col("__lab_new") < F.col("__lab")).alias("__changed"),
            ), wlab)
            if wlab.filter(F.col("__changed")).count() == 0:
                break
        # component sizes counted in NODES (workers + firms), akm.rs:200-212
        fl = edges.join(wlab, on=w).groupBy(f).agg(F.min("__lab").alias("__lab"))
        sizes = (
            wlab.select("__lab").unionAll(fl.select("__lab"))
            .groupBy("__lab").count().orderBy(F.col("count").desc(), F.col("__lab"))
        )
        top = sizes.limit(1).collect()
        if not top:
            raise InsufficientData("No connected set found")
        largest = top[0]["__lab"]
        keep = wlab.filter(F.col("__lab") == largest).select(w)
        return df.join(keep, on=w, how="inner")

    # -- connected set (driver union-find over distinct edges) -------------
    def _largest_connected_set(self, df: DataFrame) -> DataFrame:
        """akm.rs:151-234: union-find over distinct (worker, firm) edges.

        Edges (distinct pairs) are typically orders of magnitude fewer than
        rows; they are collected for a driver union-find. (For edge sets that
        do not fit, run alternating-min label propagation instead — the
        filter/join below is unchanged.)
        """
        epdf = df.select(self._worker, self._firm).distinct().toPandas()
        edges = list(zip(epdf[self._worker], epdf[self._firm]))
        if not edges:
            raise InsufficientData("No connected set found")
        workers = sorted({e[0] for e in edges})
        firms = sorted({e[1] for e in edges})
        widx = {w: i for i, w in enumerate(workers)}
        fidx = {f: i + len(workers) for i, f in enumerate(firms)}

        parent = list(range(len(workers) + len(firms)))
        size = [1] * len(parent)

        def find(i):
            root = i
            while parent[root] != root:
                root = parent[root]
            while parent[i] != root:
                parent[i], i = root, parent[i]
            return root

        def union(i, j):
            ri, rj = find(i), find(j)
            if ri == rj:
                return
            if size[ri] < size[rj]:
                ri, rj = rj, ri
            parent[rj] = ri
            size[ri] += size[rj]

        for w, f in edges:
            union(widx[w], fidx[f])

        comp_sizes: dict[int, int] = {}
        for i in range(len(parent)):
            comp_sizes[find(i)] = comp_sizes.get(find(i), 0) + 1
        largest = max(comp_sizes, key=comp_sizes.get)
        valid_workers = [w for w in workers if find(widx[w]) == largest]
        valid_df = local_table(df.sparkSession, {self._worker: ("string", valid_workers)})
        return df.join(F.broadcast(valid_df), on=self._worker, how="inner")

    def _largest_component_mask(self, wcodes, fcodes, nW: int, nF: int):
        """Row mask of the largest connected component (akm.rs:151-234
        semantics — component sizes counted in worker+firm NODES), computed
        with vectorized alternating-min label propagation instead of a
        per-edge Python union-find loop (~10x faster on collected frames)."""
        wcodes = wcodes.astype(np.int64)
        fcodes = fcodes.astype(np.int64)
        edges = np.unique(wcodes * nF + fcodes)
        ew, ef = edges // nF, edges % nF
        wlab = np.arange(nW, dtype=np.int64)
        flab = np.full(nF, np.iinfo(np.int64).max)
        while True:
            fnew = np.full(nF, np.iinfo(np.int64).max)
            np.minimum.at(fnew, ef, wlab[ew])
            fnew = np.minimum(fnew, flab)
            wnew = wlab.copy()
            np.minimum.at(wnew, ew, fnew[ef])
            if np.array_equal(wnew, wlab) and np.array_equal(fnew, flab):
                break
            wlab, flab = wnew, fnew
        labels = np.concatenate([wlab, flab])
        vals, counts = np.unique(labels, return_counts=True)
        largest = vals[np.argmax(counts)]
        return wlab[wcodes] == largest

    def _filter_largest_component_pandas(self, pdf):
        """Largest connected set on the collected frame (zero extra Spark jobs)."""
        if len(pdf) == 0:
            raise InsufficientData("No connected set found")
        wcodes, wuniq = pdf[self._worker].factorize(sort=True)
        fcodes, funiq = pdf[self._firm].factorize(sort=True)
        keep = self._largest_component_mask(wcodes, fcodes, len(wuniq), len(funiq))
        return pdf[keep]

    # -- pandas engine: exact reference algorithm -------------------------
    def _solve_pandas(self, df: DataFrame) -> AkmResult:
        pdf = df.toPandas()
        if len(pdf) > PANDAS_ROW_LIMIT:
            raise OaxacaError("AKM pandas engine row guard exceeded; use engine('dist')")
        return self._solve_pdf(pdf, df.sparkSession)

    def _solve_pdf(self, pdf, spark) -> AkmResult:
        if len(pdf) == 0:
            raise InsufficientData("No connected set found")
        # factorize ONCE; dense re-codes after the component filter come from
        # np.unique on the kept codes (sorted => same ordering as the
        # reference's sorted string ids, so identification is unchanged)
        wcodes, wuniq = pdf[self._worker].factorize(sort=True)
        fcodes, funiq = pdf[self._firm].factorize(sort=True)
        keep = self._largest_component_mask(wcodes, fcodes, len(wuniq), len(funiq))
        wkept, wi = np.unique(wcodes[keep], return_inverse=True)
        fkept, fi = np.unique(fcodes[keep], return_inverse=True)
        workers = np.asarray(wuniq)[wkept]
        firms = np.asarray(funiq)[fkept]
        y = pdf[self._outcome].to_numpy(dtype=np.float64)[keep]
        X = pdf[self._controls].to_numpy(dtype=np.float64)[keep] if self._controls else None
        nW, nF = len(workers), len(firms)
        wcnt = np.bincount(wi, minlength=nW).astype(np.float64)
        fcnt = np.bincount(fi, minlength=nF).astype(np.float64)

        def demean(v: np.ndarray) -> np.ndarray:
            v = v.copy()
            for it in range(self._max_iters):
                prev = v.copy()
                wsum = np.bincount(wi, weights=v, minlength=nW)
                v = v - (wsum / np.maximum(wcnt, 1))[wi]
                fsum = np.bincount(fi, weights=v, minlength=nF)
                v = v - (fsum / np.maximum(fcnt, 1))[fi]
                if np.linalg.norm(v - prev) <= self._tolerance:
                    return v
            raise ConvergenceError(
                f"demean_vector failed to converge within {self._max_iters} iterations"
            )

        y_r = demean(y)
        if self._controls:
            X_r = np.column_stack([demean(X[:, j]) for j in range(X.shape[1])])
            xtx = X_r.T @ X_r
            try:
                L = np.linalg.cholesky(xtx)
            except np.linalg.LinAlgError as e:
                raise ConvergenceError("OLS design matrix is singular") from e
            beta = np.linalg.solve(L.T, np.linalg.solve(L, X_r.T @ y_r))
            r = y - X @ beta
        else:
            beta = np.zeros(0)
            r = y.copy()

        # alternating projections (akm.rs:530-621)
        alpha = np.zeros(nW)
        psi = np.zeros(nF)
        for it in range(self._max_iters):
            pa, pp = alpha.copy(), psi.copy()
            wsum = np.bincount(wi, weights=r - psi[fi], minlength=nW)
            alpha = wsum / np.maximum(wcnt, 1)
            fsum = np.bincount(fi, weights=r - alpha[wi], minlength=nF)
            psi = fsum / np.maximum(fcnt, 1)
            if np.sqrt(np.sum((alpha - pa) ** 2) + np.sum((psi - pp) ** 2)) <= self._tolerance:
                break
        else:
            raise ConvergenceError(
                f"recover_fe failed to converge within {self._max_iters} iterations"
            )
        # identification: first firm's psi = 0 (akm.rs:611-619)
        ref = psi[0]
        psi -= ref
        alpha += ref

        pred = alpha[wi] + psi[fi] + (X @ beta if self._controls else 0.0)
        tss = float(np.sum((y - y.mean()) ** 2))
        rss = float(np.sum((y - pred) ** 2))
        r2 = 1.0 - rss / tss

        worker_effects = local_table(spark, {
            self._worker: ("string", [str(w) for w in workers]), "effect": ("double", alpha.tolist())
        })
        firm_effects = local_table(spark, {
            self._firm: ("string", [str(f) for f in firms]), "effect": ("double", psi.tolist())
        })
        return AkmResult(beta=beta, worker_effects=worker_effects, firm_effects=firm_effects, r2=r2)

    # -- distributed engine ------------------------------------------------
    def _solve_dist(self, df: DataFrame, pin) -> AkmResult:
        """Join-based zig-zag: each sweep subtracts worker then firm means of
        every working column; convergence via one aggregate of squared deltas.
        Suited to cluster scale (state = columns, shuffles on natural keys)."""
        w, f = self._worker, self._firm
        vec_cols = ["__y_r"] + [f"__x_r_{j}" for j in range(len(self._controls))]
        cur = df.withColumn("__y_r", F.col(self._outcome))
        for j, c in enumerate(self._controls):
            cur = cur.withColumn(f"__x_r_{j}", F.col(c))
        cur = work = pin(cur)

        for it in range(self._max_iters):
            prev = work
            prev_cols = [F.col(c).alias(f"__prev_{c}") for c in vec_cols]
            work = cur.select("*", *prev_cols)
            wm = work.groupBy(w).agg(*[F.avg(c).alias(f"__wm_{c}") for c in vec_cols])
            work = work.join(wm, on=w)
            for c in vec_cols:
                work = work.withColumn(c, F.col(c) - F.col(f"__wm_{c}"))
            fm = work.groupBy(f).agg(*[F.avg(c).alias(f"__fm_{c}") for c in vec_cols])
            work = work.join(fm, on=f)
            for c in vec_cols:
                work = work.withColumn(c, F.col(c) - F.col(f"__fm_{c}"))
            work = work.drop(*[f"__wm_{c}" for c in vec_cols], *[f"__fm_{c}" for c in vec_cols])
            work = pin(work, prev)
            diffs = work.agg(
                *[F.sum(F.pow(F.col(c) - F.col(f"__prev_{c}"), 2)).alias(c) for c in vec_cols]
            ).collect()[0]
            cur = work.drop(*[f"__prev_{c}" for c in vec_cols])
            if all(float(diffs[c] or 0.0) ** 0.5 <= self._tolerance for c in vec_cols):
                break
        else:
            raise ConvergenceError(
                f"demean_vector failed to converge within {self._max_iters} iterations"
            )

        # OLS of demeaned y on demeaned X via Gram aggregation
        from ..functions.linalg import collect_group_stats

        if self._controls:
            xr = [f"__x_r_{j}" for j in range(len(self._controls))]
            stats = collect_group_stats(cur, xr, "__y_r")
            try:
                L = np.linalg.cholesky(stats.xtx)
            except np.linalg.LinAlgError as e:
                raise ConvergenceError("OLS design matrix is singular") from e
            beta = np.linalg.solve(L.T, np.linalg.solve(L, stats.xty))
        else:
            beta = np.zeros(0)

        # recover FE by alternating projections on r = y - X beta
        r_expr = F.col(self._outcome)
        for j, c in enumerate(self._controls):
            r_expr = r_expr - F.col(c) * F.lit(float(beta[j]))
        base = pin(df.withColumn("__r", r_expr))
        alpha_df = base.select(w).distinct().withColumn("__alpha", F.lit(0.0))
        psi_df = base.select(f).distinct().withColumn("__psi", F.lit(0.0))
        for it in range(self._max_iters):
            joined = base.join(psi_df, on=f)
            new_alpha = joined.groupBy(w).agg(F.avg(F.col("__r") - F.col("__psi")).alias("__alpha_new"))
            alpha_cmp = alpha_df.join(new_alpha, on=w)
            joined2 = base.join(
                alpha_cmp.select(w, F.col("__alpha_new").alias("__alpha2")), on=w
            )
            new_psi = joined2.groupBy(f).agg(F.avg(F.col("__r") - F.col("__alpha2")).alias("__psi_new"))
            psi_cmp = psi_df.join(new_psi, on=f)
            # one Spark job per sweep for the convergence check: union both
            # effect deltas into a single aggregation instead of two collects
            d2 = (
                alpha_cmp.select(F.pow(F.col("__alpha_new") - F.col("__alpha"), 2).alias("__d2"))
                .unionAll(psi_cmp.select(F.pow(F.col("__psi_new") - F.col("__psi"), 2).alias("__d2")))
                .agg(F.sum("__d2"))
                .collect()[0][0]
                or 0.0
            )
            # both new frames read both old ones: release them after both
            alpha_new = pin(alpha_cmp.select(w, F.col("__alpha_new").alias("__alpha")))
            psi_df = pin(psi_cmp.select(f, F.col("__psi_new").alias("__psi")), alpha_df, psi_df)
            alpha_df = alpha_new
            if float(d2) ** 0.5 <= self._tolerance:
                break
        else:
            raise ConvergenceError(
                f"recover_fe failed to converge within {self._max_iters} iterations"
            )

        # identification: psi of the alphabetically-first firm -> 0
        pins = alpha_df, psi_df  # the effects' checkpoints, owned by the result
        first_firm = psi_df.orderBy(f).limit(1).collect()[0]
        ref = float(first_firm["__psi"])
        alpha_df = alpha_df.withColumn("__alpha", F.col("__alpha") + F.lit(ref))
        psi_df = psi_df.withColumn("__psi", F.col("__psi") - F.lit(ref))

        scored = base.join(alpha_df, on=w).join(psi_df, on=f)
        pred = F.col("__alpha") + F.col("__psi")
        for j, c in enumerate(self._controls):
            pred = pred + F.col(c) * F.lit(float(beta[j]))
        agg = scored.agg(
            F.sum(F.pow(F.col(self._outcome) - pred, 2)).alias("rss"),
            F.sum(F.pow(F.col(self._outcome), 2)).alias("yty"),
            F.sum(self._outcome).alias("ysum"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        tss = float(agg["yty"]) - float(agg["ysum"]) ** 2 / float(agg["n"])
        r2 = 1.0 - float(agg["rss"]) / tss

        return AkmResult(
            beta=beta,
            worker_effects=alpha_df.select(w, F.col("__alpha").alias("effect")),
            firm_effects=psi_df.select(f, F.col("__psi").alias("effect")),
            r2=r2,
            release=pin.keep(*pins),
        )
