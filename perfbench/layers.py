"""Per-layer probes for the traced run: direct calls into each layer's public
functions, each wrapped in a span from this file. Both workloads run
the same probes on seeded inputs of fixed size, so every per-layer metric is
measured in every traced run."""

from __future__ import annotations

import math
import time

import numpy as np
from pyspark.sql import functions as F

from . import checks, panel
from .checks import Checker
from .workloads import _rng

LAYER_MEAN_ROWS = 50_000
LAYER_FUSED_REPS = 500
LAYER_PANEL_WORKERS = 1000
ERF_VALUES = 1_000_000
INTERCEPT = "__ob_intercept__"
ROW_ID = "__ob_row_id__"
STREAM = 9

ENGINE_OPS = {
    "decompose": "run_decomposition",
    "remediate": "optimize",
    "frontier": "efficient_frontier",
    "verify": "verify_adjustments",
    "defend": "check_defensibility",
}
# attributes McpServer.call_tool reads from optimize()'s lazy result
OPTIMIZE_FIELDS = ("adjustments", "total_cost", "original_gap", "new_gap", "original_unexplained_gap",
                   "new_unexplained_gap", "required_budget")


def _timed(spans, name, fn):
    with spans.span(name):
        t = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t


class _Collected:
    """Stands in for check_defensibility's lazy frame once its rows are in."""

    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class Boundaries:
    """Times every outermost call into the engine_ops functions and the CSV
    source while installed, so one ``McpServer.handle`` call splits into
    CSV read, engine work and the dispatch around them. Lazy results are
    forced inside the boundary: the optimizer's fields that the server
    reads (memoized, so the server reuses them) and the defensibility rows
    (handed back behind ``collect()``), so the same jobs run once, in the
    layer that owns them."""

    def __init__(self, spans):
        self.spans = spans
        self.seconds: dict[str, float] = {}
        self._depth = 0
        self._saved: list = []

    def _wrap(self, module, attr: str, finish=None):
        real = getattr(module, attr)

        def timed(*a, **kw):
            if self._depth:
                return real(*a, **kw)
            self._depth += 1
            try:
                with self.spans.span(f"{module.__name__.split('.')[-1]}.{attr}"):
                    t = time.perf_counter()
                    out = real(*a, **kw)
                    if finish is not None:
                        out = finish(out)
                    self.seconds[attr] = self.seconds.get(attr, 0.0) + time.perf_counter() - t
                return out
            finally:
                self._depth -= 1

        self._saved.append((module, attr, real))
        setattr(module, attr, timed)

    def __enter__(self):
        from oaxaca_blinder_rs_spark.operators import engine_ops as eo
        from oaxaca_blinder_rs_spark.sources import csv as csv_source

        def force_fields(res):
            for f in OPTIMIZE_FIELDS:
                getattr(res, f)
            return res

        self._wrap(csv_source, "read_csv_bytes")
        for fn in ENGINE_OPS.values():
            finish = {"optimize": force_fields, "check_defensibility": lambda df: _Collected(df.collect())}.get(fn)
            self._wrap(eo, fn, finish)
        return self

    def __exit__(self, *exc):
        self.restore()
        return False

    def restore(self) -> None:
        for module, attr, real in reversed(self._saved):
            setattr(module, attr, real)
        self._saved.clear()

    def take(self) -> dict[str, float]:
        out, self.seconds = self.seconds, {}
        return out


def mcp_layers(spark, seed: int, spans, ck: Checker) -> dict[str, float]:
    """sources/csv, operators/engine_ops and the MCP dispatch around them,
    from one review sent through ``McpServer.handle`` with the layer
    boundaries timed. Dispatch is the handle wall time minus the CSV read
    and the engine_ops call it made. In mcp_review the engine is warm by
    now; in other workloads this review is the tools' first use."""
    from .workloads import McpReview

    wl = McpReview(spark, seed)
    wl.stream = STREAM
    out: dict[str, float] = {"sources.csv.read_csv_bytes_s": 0.0}
    with Boundaries(spans) as b:
        for call in wl.round(0):
            res, t_handle = _timed(spans, f"mcp_server.handle.{call.name}", call.fn)
            call.check(ck, res)
            inside = b.take()
            csv_s = inside.pop("read_csv_bytes")
            (fn, engine_s), = inside.items()
            out[f"engine_ops.{fn}_s"] = engine_s
            out[f"mcp_server.dispatch_s.{call.name}"] = t_handle - engine_s - csv_s
            out["sources.csv.read_csv_bytes_s"] += csv_s / len(ENGINE_OPS)
    return out


def mean_layers(spark, seed: int, spans, ck: Checker) -> dict[str, float]:
    """operators/bootstrap, functions/linalg and builder on a mean-decomposition frame."""
    from oaxaca_blinder_rs_spark import OaxacaBuilder
    from oaxaca_blinder_rs_spark import builder as builder_module
    from oaxaca_blinder_rs_spark.functions.linalg import collect_group_stats, ols_from_stats
    from oaxaca_blinder_rs_spark.operators.bootstrap import bootstrap_group_stats_fast

    pdf = panel.mean_frame(_rng(seed, STREAM, 2), LAYER_MEAN_ROWS)
    df = spark.createDataFrame(pdf).cache()
    df.count()
    levels = panel.MEAN_LEVELS
    cols = {INTERCEPT: F.lit(1.0), ROW_ID: F.monotonically_increasing_id()}
    cols.update({f"occ_{lv}": (F.col("occ") == lv).cast("double") for lv in levels[1:]})
    design = df.withColumns(cols)
    xcols = [INTERCEPT] + panel.MEAN_PREDICTORS + [f"occ_{lv}" for lv in levels[1:]]
    out: dict[str, float] = {}
    try:
        stats, out["bootstrap.fused_pass_s"] = _timed(spans, "bootstrap.bootstrap_group_stats_fast", lambda: (
            bootstrap_group_stats_fast(design, xcols, "y", "g", reps=LAYER_FUSED_REPS, seed=seed, id_col=ROW_ID,
                                       include_identity=True, method="poisson")))
        point, out["linalg.collect_group_stats_s"] = _timed(spans, "linalg.collect_group_stats", lambda: (
            collect_group_stats(design, xcols, "y", group="g", engine="expr")))
        fits, out["linalg.ols_from_stats_s"] = _timed(spans, "linalg.ols_from_stats", lambda: [
            ols_from_stats(s) for per_group in stats.values() for s in per_group.values()])
        # assembly = run minus the pass and the solves this run made, timed
        # where the builder calls them (a second pass is warmer than the first)
        b = Boundaries(spans)
        b._wrap(builder_module, "bootstrap_group_stats_fast")
        b._wrap(builder_module, "ols_from_stats")
        try:
            res, t_run = _timed(spans, "builder.run", lambda: (
                OaxacaBuilder(df, "y", "g", "M").predictors(panel.MEAN_PREDICTORS).categorical_predictors(["occ"])
                .compute_engine("pandas").bootstrap_method("poisson_fast").bootstrap_reps(LAYER_FUSED_REPS)
                .seed(seed).run()))
        finally:
            b.restore()
        inside = b.take()
        ck.true("layers.builder_calls_fused_pass_and_solves",
                set(inside) == {"bootstrap_group_stats_fast", "ols_from_stats"}, f"{sorted(inside)}")
        out["builder.assembly_s"] = t_run - sum(inside.values())
    finally:
        df.unpersist()
    ck.true("layers.fused_replicates", len(stats) == LAYER_FUSED_REPS + 1, f"{len(stats)} replicate keys")
    ck.true("layers.ols_fits", len(fits) == 2 * (LAYER_FUSED_REPS + 1), f"{len(fits)} fits")
    want = checks.np_decomposition(pdf, "y", "g", "M", panel.MEAN_PREDICTORS, ["occ"])
    checks.check_oaxaca(ck, "layers.builder", res, want, bootstrapped=True)
    # generating coefficients of group A (F): [1, x0..x9, occ1..occ7]; occ0 is the base level
    beta_f = panel.MEAN_BETA_M + panel.MEAN_BETA_F_SHIFT
    truth = np.r_[beta_f, panel.MEAN_OCC_EFFECT[1:]]
    checks.check_truth(ck, "layers.builder", res.beta_star, want["se_a"], truth)
    for tag, g in (("a", want["group_a"]), ("b", want["group_b"])):
        ck.true(f"layers.gram_pass_beta_{tag}", np.allclose(ols_from_stats(point[g]).beta, want[f"beta_{tag}"],
                                                             rtol=1e-6, atol=1e-9))
        ck.true(f"layers.fused_pass_beta_{tag}", np.allclose(ols_from_stats(stats[-1][g]).beta, want[f"beta_{tag}"],
                                                              rtol=1e-6, atol=1e-9))
    return out


def iterative_layers(spark, seed: int, spans, ck: Checker) -> dict[str, float]:
    """quantile_regression, mathx, glm, kde, dfl, akm and rif."""
    from oaxaca_blinder_rs_spark.functions.mathx import erf_np
    from oaxaca_blinder_rs_spark.operators.akm import AkmBuilder
    from oaxaca_blinder_rs_spark.operators.dfl import run_dfl
    from oaxaca_blinder_rs_spark.operators.glm import logit, probit
    from oaxaca_blinder_rs_spark.operators.kde import kde_on_grid_many
    from oaxaca_blinder_rs_spark.operators.quantile_regression import solve_qr_exact
    from oaxaca_blinder_rs_spark.operators.rif import rif_transform
    from tools.numpy_oracle import logit_np, probit_np

    rng = _rng(seed, STREAM, 3)
    pdf = panel.worker_panel(rng, LAYER_PANEL_WORKERS)
    pdf["is_f"] = (pdf["g"] == "F").astype(float)
    df = spark.createDataFrame(pdf.drop(columns=["lw_obs"])).withColumn(INTERCEPT, F.lit(1.0)).cache()
    df.count()
    out: dict[str, float] = {}
    try:
        sub = pdf[pdf["g"] == "F"]
        X = np.column_stack([np.ones(len(sub)), sub["edu"].to_numpy()])
        y = sub["lw"].to_numpy()
        beta, out["quantile_regression.solve_qr_exact_s"] = _timed(
            spans, "quantile_regression.solve_qr_exact", lambda: solve_qr_exact(X, y, 0.5))
        checks.check_qr_optimum(ck, "layers.solve_qr_exact", X, y, beta, 0.5)

        vals = rng.normal(0.0, 2.0, ERF_VALUES)
        erf, t_erf = _timed(spans, "mathx.erf_np", lambda: erf_np(vals))
        out["mathx.erf_np_ns_per_value"] = t_erf / ERF_VALUES * 1e9
        sample = vals[:: ERF_VALUES // 1000]
        ck.true("layers.erf_np", np.allclose(erf[:: ERF_VALUES // 1000], [math.erf(v) for v in sample],
                                             rtol=0, atol=1e-14))

        zcols = [INTERCEPT, "edu_z", "kids"]
        fit, out["glm.probit_s"] = _timed(spans, "glm.probit", lambda: probit(df, zcols, "employed"))
        want, _, _ = probit_np(pdf[["edu_z", "kids"]].assign(c=1.0)[["c", "edu_z", "kids"]].to_numpy(),
                               pdf["employed"].to_numpy())
        ck.true("layers.probit", np.allclose(fit.beta, want, rtol=1e-5, atol=1e-7), f"{fit.beta} vs {want}")
        xcols = [INTERCEPT, "edu", "exper"]
        fit, out["glm.logit_s"] = _timed(spans, "glm.logit", lambda: logit(df, xcols, "is_f"))
        want, _, _ = logit_np(pdf[["edu", "exper"]].assign(c=1.0)[["c", "edu", "exper"]].to_numpy(),
                              pdf["is_f"].to_numpy())
        ck.true("layers.logit", np.allclose(fit.beta, want, rtol=1e-5, atol=1e-7), f"{fit.beta} vs {want}")

        lo, hi = float(pdf["lw"].min()), float(pdf["lw"].max())
        grid = list(np.linspace(lo, hi, 100, endpoint=False))
        bw = 0.9 * float(pdf["lw"].std()) * len(pdf) ** -0.2
        dens, out["kde.kde_on_grid_many_s"] = _timed(spans, "kde.kde_on_grid_many", lambda: kde_on_grid_many(
            df, "lw", grid, [("all", None, None, bw), ("f", F.col("g") == "F", None, bw)]))
        for name, d in dens.items():
            area = float(np.sum(d) * (grid[1] - grid[0]))
            ck.true(f"layers.kde_{name}_integrates_to_1", abs(area - 1.0) < 0.05, f"area {area}")

        res, out["dfl.run_dfl_s"] = _timed(spans, "dfl.run_dfl",
                                            lambda: run_dfl(df, "lw", "g", "M", ["edu", "exper"]))
        checks.check_dfl(ck, res)

        res, out["akm.run_s"] = _timed(spans, "akm.run", lambda: (
            AkmBuilder(df, "lw", "worker", "firm").controls(["exper"]).run()))
        checks.check_akm(ck, pdf, "lw", "worker", "firm", ["exper"], res.beta,
                         res.worker_effects.toPandas(), res.firm_effects.toPandas(), res.r2)

        def rif():
            rdf = rif_transform(df, "lw", "g", 0.9)
            return {r["g"]: r["m"] for r in rdf.groupBy("g").agg(F.avg("lw").alias("m")).collect()}

        means, out["rif.rif_transform_s"] = _timed(spans, "rif.rif_transform", rif)
        for g in ("F", "M"):
            q = float(np.quantile(pdf.loc[pdf["g"] == g, "lw"], 0.9))
            ck.true(f"layers.rif_mean_is_q90_{g}", abs(means[g] - q) < 0.02, f"{means[g]} vs {q}")
    finally:
        df.unpersist()
    return out


LAYER_METRICS = (
    "sources.csv.read_csv_bytes_s",
    *[f"engine_ops.{fn}_s" for fn in ENGINE_OPS.values()],
    *[f"mcp_server.dispatch_s.{short}" for short in ENGINE_OPS],
    "bootstrap.fused_pass_s",
    "linalg.collect_group_stats_s",
    "linalg.ols_from_stats_s",
    "builder.assembly_s",
    "quantile_regression.solve_qr_exact_s",
    "mathx.erf_np_ns_per_value",
    "glm.probit_s",
    "glm.logit_s",
    "kde.kde_on_grid_many_s",
    "dfl.run_dfl_s",
    "akm.run_s",
    "rif.rif_transform_s",
)


def measure(spark, seed: int, spans, ck: Checker) -> dict[str, float]:
    with spans.span("layers"):
        out = mcp_layers(spark, seed, spans, ck)
        out.update(mean_layers(spark, seed, spans, ck))
        out.update(iterative_layers(spark, seed, spans, ck))
    assert sorted(out) == sorted(LAYER_METRICS), sorted(set(out) ^ set(LAYER_METRICS))
    return out
