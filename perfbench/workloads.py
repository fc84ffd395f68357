"""The closed-loop workloads. One client sends each call only after the
previous one returned. A round is the same list of calls every time; the
benchmark times whole rounds and checks every output after the last timed
round, so no reference computation runs inside a timed window."""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import cached_property
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

from . import checks, panel
from .checks import Checker


class CallFailed(Exception):
    """The program refused or failed the call (counted in ``failed``)."""


@dataclass
class Call:
    name: str
    fn: Callable[[], Any]
    check: Callable[[Checker, Any], None]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# -- mcp_review ----------------------------------------------------------------

MCP_TOOLS = {
    "decompose": "forensic_decomposition",
    "remediate": "simulate_remediation",
    "frontier": "generate_efficient_frontier",
    "verify": "verify_adjustments",
    "defend": "check_defensibility",
}
MCP_BOOTSTRAP_REPS = 100
MCP_BUDGET = 1_000_000.0
MCP_DEFEND_ROWS = 20


def unwrap(resp: dict) -> dict:
    if "error" in resp:
        raise CallFailed(f"refused: {resp['error'].get('message')}")
    res = resp["result"]
    text = res["content"][0]["text"]
    if res.get("isError"):
        raise CallFailed(f"tool error: {text[:300]}")
    return json.loads(text)


class McpReview:
    """A fresh company per review, sent through the five MCP tools by one
    stdio-style client. One ``McpServer`` per review keeps the session clear
    of the server's per-minute rate limit."""

    name = "mcp_review"
    stream = 1

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed

    def setup(self) -> None:
        pass  # every review brings its own company

    def round(self, r: int) -> list[Call]:
        from oaxaca_blinder_rs_spark.mcp_server import McpServer

        pdf = panel.company(_rng(self.seed, self.stream, r))
        preds = panel.COMPANY_PREDICTORS
        base = {"csv_content": pdf.to_csv(index=False), "outcome_variable": "wage", "group_variable": "gender",
                "reference_group": "M", "predictors": list(preds)}
        server = McpServer(self.spark)
        state: dict = {}
        ids = iter(range(1, 100))

        def tool(short: str, extra: Callable[[], dict], then: Callable[[dict], None] | None = None):
            def fn():
                req = {"jsonrpc": "2.0", "id": next(ids), "method": "tools/call",
                       "params": {"name": MCP_TOOLS[short], "arguments": {**base, **extra()}}}
                out = unwrap(server.handle(req))
                if then is not None:
                    then(out)
                return out
            return fn

        def plan_followups(out: dict) -> None:
            """What the client sends next: the remediation's raises to
            verify, and twenty of them to defend, three audited as if the
            employee had one more year of experience."""
            state["adj"] = [{"index": a["index"], "value": a["adjustment"]}
                            for a in out["adjustments"] if a["adjustment"] > 0]
            defend = [dict(a) for a in state["adj"][:MCP_DEFEND_ROWS]]
            for a in defend[:3]:
                a["predictor_overrides"] = {"experience": float(pdf.loc[a["index"], "experience"]) + 1.0}
            state["defend"] = defend

        memo: dict = {}

        def expect(adjust=None, key="plain"):
            if key not in memo:
                src = pdf if adjust is None else checks.adjusted(pdf, adjust, "wage")
                memo[key] = checks.np_decomposition(src, "wage", "gender", "M", preds, reference_coefficients="pooled")
            return memo[key]

        def check_decomposition(ck: Checker, tag: str, out: dict, want: dict) -> None:
            total = out["total_gap"]
            ck.close(f"{tag}.total_gap", total, want["total"], 1e-9, 1e-6)
            ck.close(f"{tag}.two_fold_sum", out["explained_gap"] + out["unexplained_gap"], total, 1e-9, 1e-6)
            ck.close(f"{tag}.explained", out["explained_gap"], want["explained"], 1e-6, 1e-3)
            ck.close(f"{tag}.unexplained", out["unexplained_gap"], want["unexplained"], 1e-6, 1e-3)
            for part in ("explained", "unexplained"):
                ck.close(f"{tag}.detailed_{part}_sum", sum(c["estimate"] for c in out[f"detailed_{part}"]),
                         out[f"{part}_gap"], 1e-9, 1e-6)
            se = out["unexplained_standard_error"]
            ck.true(f"{tag}.bootstrap_se", se is not None and se > 0, f"{se}")

        def check_decompose(ck, out):
            means = pdf.groupby("gender")["wage"].mean()
            ck.close("decompose.gap_is_group_mean_difference", out["total_gap"], means["F"] - means["M"], 1e-9, 1e-6)
            check_decomposition(ck, "decompose", out, expect())

        def check_verify(ck, out):
            check_decomposition(ck, "verify", out, expect(state["adj"], "adjusted"))

        def check_defend(ck, out):
            rows = sorted(out["adjustments"], key=lambda r: r["index"])
            sent = sorted(state["defend"], key=lambda a: a["index"])
            ck.true("defend.rows", [r["index"] for r in rows] == [a["index"] for a in sent])
            audit = pdf.loc[[a["index"] for a in sent]].copy()
            for i, a in enumerate(sent):
                for k, v in (a.get("predictor_overrides") or {}).items():
                    audit.iloc[i, audit.columns.get_loc(k)] = v
            fair, lower = checks.np_fair_wage_bounds(pdf, "wage", "gender", "M", preds, audit)
            for r, f, lo, a in zip(rows, fair, lower, sent):
                ck.close(f"defend.{a['index']}.fair_wage", r["fair_wage"], f, 1e-6, 1e-4)
                ck.close(f"defend.{a['index']}.lower_bound", r["fair_wage_lower_bound"], lo, 1e-6, 1e-4)
                margin = r["new_wage"] - (lo - 1.0)
                if abs(margin) > 1e-3:
                    ck.true(f"defend.{a['index']}.verdict", r["is_defensible"] == (margin > 0))

        return [
            Call("decompose", tool("decompose", lambda: {"bootstrap_reps": MCP_BOOTSTRAP_REPS}), check_decompose),
            Call("remediate", tool("remediate", lambda: {"budget": MCP_BUDGET}, plan_followups),
                 lambda ck, out: checks.check_remediation(ck, out, MCP_BUDGET)),
            Call("frontier", tool("frontier", lambda: {}), lambda ck, out: checks.check_frontier(ck, out)),
            Call("verify", tool("verify", lambda: {"adjustments": state["adj"]}), check_verify),
            Call("defend", tool("defend", lambda: {"adjustments": state["defend"]}), check_defend),
        ]

    def detail(self, med: dict) -> dict:
        return {"review_s": sum(med.values()), "decompose_call_s": med["decompose"],
                "remediate_call_s": med["remediate"]}


# -- iterative_estimators ------------------------------------------------------

PANEL_WORKERS = 12_500  # x 4 years = 50,000 rows
MM_QUANTILES = [0.1, 0.5, 0.9]
MM_KEYS = [f"q{int(q * 100)}" for q in MM_QUANTILES]
MM_SIMULATIONS = 20
MM_BOOTSTRAP_REPS = 0
# Both engines against the qr_exact_2d replay. The Gram engine minimizes a
# smoothed check loss (~0.1% from the LP optimum); the replay's vertex
# polish is local and can stop a hair above the LP optimum (check loss 4e-7
# relative above the driver engine's fit on one 8,000-row panel in twenty,
# which moved a q10 part by 0.0013).
MM_TOL = 0.01
MM_ENGINE_TOL = 0.01  # both engines share the tau stream and the simulation picks
# The replay's slope bisection already lands on the LP vertex; polishing
# over the 10 smallest residuals instead of 50 makes it 15x cheaper at
# 25,000 rows a side.
MM_REPLAY_ACTIVE = 10
HECKMAN_REPS = 4


class IterativeEstimators:
    """The multi-pass estimators on one worker panel: Machado-Mata on both
    engines and the Heckman two-step with bootstrap replicates. The panel,
    the simulated taus and the simulation picks all come from ``--seed``."""

    name = "iterative_estimators"
    stream = 3

    def __init__(self, spark, seed: int, workers: int = PANEL_WORKERS):
        self.spark, self.seed, self.workers = spark, seed, workers

    def setup(self) -> None:
        self.pdf = panel.worker_panel(_rng(self.seed, self.stream), self.workers)
        # the round needs neither the AKM ids nor the NaN-coded observed wage
        df = self.spark.createDataFrame(self.pdf.drop(columns=["lw_obs", "worker", "firm"]))
        # unobserved wages are SQL NULLs, not NaN
        self.df = df.withColumn("lw_obs", F.when(F.col("employed") == 1.0, F.col("lw"))).cache()
        self.df.count()

    # NumPy references, computed on first use by a check
    @cached_property
    def mm_want(self) -> dict[str, tuple]:
        sides = [self.pdf[self.pdf["g"] == g] for g in ("F", "M")]
        (Xa, ya), (Xb, yb) = [(np.column_stack([np.ones(len(d)), d["edu"].to_numpy()]), d["lw"].to_numpy())
                              for d in sides]
        return checks.np_machado_mata(Xa, ya, Xb, yb, MM_QUANTILES, MM_SIMULATIONS, self.seed,
                                      n_active=MM_REPLAY_ACTIVE)

    @cached_property
    def heckman_want(self) -> dict:
        return checks.np_heckman(self.pdf, "lw_obs", "g", "M", ["edu", "exper"], "employed", ["edu_z", "kids"])

    def mm(self, engine: str):
        from oaxaca_blinder_rs_spark import QuantileDecompositionBuilder

        b = (QuantileDecompositionBuilder(self.df, "lw", "g", "M").predictors(["edu"])
             .quantiles(MM_QUANTILES).simulations(MM_SIMULATIONS).bootstrap_reps(MM_BOOTSTRAP_REPS)
             .seed(self.seed))
        return b.fit_engine(engine).run()

    def heckman_call(self):
        from oaxaca_blinder_rs_spark import OaxacaBuilder

        return (OaxacaBuilder(self.df, "lw_obs", "g", "M").predictors(["edu", "exper"])
                .heckman_selection("employed", ["edu_z", "kids"]).bootstrap_reps(HECKMAN_REPS)
                .seed(self.seed).run())

    def round(self, r: int) -> list[Call]:
        mm_results: dict = {}

        def check_mm_driver(ck, res):
            checks.check_mm(ck, "mm_driver", res, self.mm_want, MM_TOL)
            mm_results["driver"] = res

        def check_mm_gram(ck, res):
            checks.check_mm(ck, "mm_gram", res, self.mm_want, MM_TOL)
            drv = mm_results.get("driver")
            if drv is not None:
                for key in MM_KEYS:
                    a = drv.results_by_quantile[key].total_gap.estimate
                    b = res.results_by_quantile[key].total_gap.estimate
                    ck.true(f"mm.{key}.engines_agree", abs(a - b) <= MM_ENGINE_TOL, f"driver {a} vs gram {b}")

        def check_heckman(ck, res):
            want = self.heckman_want
            tf = {c.name: c for c in res.two_fold.aggregate}
            ck.close("heckman.total_gap", res.total_gap, want["total"], 1e-6, 1e-9)
            ck.close("heckman.explained", tf["explained"].estimate, want["explained"], 1e-4, 1e-6)
            ck.close("heckman.unexplained", tf["unexplained"].estimate, want["unexplained"], 1e-4, 1e-6)
            ck.true("heckman.beta_star", np.allclose(res.beta_star, want["beta_a"], rtol=1e-4, atol=1e-6),
                    f"{np.asarray(res.beta_star)} vs {want['beta_a']}")
            ck.true("heckman.bootstrap_se", all(np.isfinite(c.std_err) and c.std_err > 0 for c in tf.values()))

        return [
            Call("mm_driver", lambda: self.mm("auto"), check_mm_driver),
            Call("mm_gram", lambda: self.mm("distributed"), check_mm_gram),
            Call("heckman", self.heckman_call, check_heckman),
        ]

    def detail(self, med: dict) -> dict:
        return {"mm_driver_s": med["mm_driver"], "mm_gram_s": med["mm_gram"], "heckman_s": med["heckman"],
                "suite_s": sum(med.values())}


WORKLOADS = {w.name: w for w in (McpReview, IterativeEstimators)}
