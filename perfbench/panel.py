"""Seeded synthetic wage data with a known data-generating process.

Every generator takes a ``numpy.random.Generator`` so the same seed gives
the same inputs. The program under test only ever sees the frames and CSV
bytes built from these pandas frames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# mcp_review: one company's payroll (wages in currency units)
COMPANY_ROWS = 3000
COMPANY_FEMALE_SHARE = 0.45
COMPANY_PREDICTORS = ["education", "experience", "tenure"]
COMPANY_BETA = {"intercept": 30000.0, "education": 2500.0, "experience": 600.0, "tenure": 400.0}
COMPANY_FEMALE_PENALTY = -3000.0  # unexplained (coefficient) gap in the intercept
COMPANY_NOISE_SD = 6000.0

# layer probes: a mean-decomposition frame, 10 predictors + one 8-level categorical
MEAN_PREDICTORS = [f"x{i}" for i in range(10)]
MEAN_LEVELS = [f"occ{i}" for i in range(8)]
MEAN_FEMALE_SHARE = 0.45
MEAN_BETA_M = np.array([1.5, 0.08, 0.05, 0.04, 0.03, 0.02, -0.02, -0.03, 0.01, 0.06, 0.0])  # [1, x0..x9]
MEAN_BETA_F_SHIFT = np.array([-0.10, 0.0, -0.01, 0.0, 0.01, 0.0, 0.0, 0.0, 0.0, -0.02, 0.0])
MEAN_OCC_EFFECT = np.linspace(0.0, 0.35, len(MEAN_LEVELS))  # occ0 is the base level
MEAN_NOISE_SD = 0.4

# iterative_estimators: a worker x year panel with firm moves and selection
PANEL_YEARS = 4
PANEL_FIRMS = 60
PANEL_STAY_PROB = 0.7
PANEL_BETA = {"edu": 0.08, "exper": 0.02, "female": -0.10}
PANEL_WORKER_SD = 0.25
PANEL_FIRM_SD = 0.15
PANEL_NOISE_SD = 0.3
PANEL_SELECTION = {"intercept": 0.6, "edu_z": 0.5, "kids": -0.45}
PANEL_SELECTION_RHO = 0.5  # corr(selection error, wage error): makes Heckman matter


def company(rng: np.random.Generator, n: int = COMPANY_ROWS) -> pd.DataFrame:
    female = rng.random(n) < COMPANY_FEMALE_SHARE
    edu = np.clip(rng.normal(14.0, 2.0, n), 8.0, 22.0).round(1)
    # women in this payroll have slightly less experience: an explained gap
    exper = np.clip(rng.normal(12.0, 6.0, n) - 1.5 * female, 0.0, 40.0).round(1)
    tenure = np.clip(rng.uniform(0.0, 1.0, n) * exper, 0.0, None).round(1)
    b = COMPANY_BETA
    wage = (
        b["intercept"] + b["education"] * edu + b["experience"] * exper + b["tenure"] * tenure
        + COMPANY_FEMALE_PENALTY * female + rng.normal(0.0, COMPANY_NOISE_SD, n)
    ).round(2)
    return pd.DataFrame({
        "wage": wage,
        "gender": np.where(female, "F", "M"),
        "education": edu,
        "experience": exper,
        "tenure": tenure,
    })


def mean_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    female = rng.random(n) < MEAN_FEMALE_SHARE
    X = rng.normal(0.0, 1.0, (n, len(MEAN_PREDICTORS)))
    X[:, 0] += 0.3 * (~female)  # endowment difference -> explained gap
    occ = rng.integers(0, len(MEAN_LEVELS), n)
    design = np.column_stack([np.ones(n), X])
    beta = np.where(female[:, None], MEAN_BETA_M + MEAN_BETA_F_SHIFT, MEAN_BETA_M)
    y = (design * beta).sum(axis=1) + MEAN_OCC_EFFECT[occ] + rng.normal(0.0, MEAN_NOISE_SD, n)
    out = pd.DataFrame(X, columns=MEAN_PREDICTORS)
    out.insert(0, "y", y)
    out.insert(1, "g", np.where(female, "F", "M"))
    out["occ"] = np.array(MEAN_LEVELS)[occ]
    return out


def worker_panel(rng: np.random.Generator, n_workers: int) -> pd.DataFrame:
    """Worker x year rows: AKM effects, a selection equation with an
    exclusion restriction (kids), and a gender gap."""
    T = PANEL_YEARS
    female = rng.random(n_workers) < 0.45
    edu = np.clip(rng.normal(13.0, 2.5, n_workers), 6.0, 22.0)
    kids = rng.integers(0, 4, n_workers).astype(float)
    alpha = rng.normal(0.0, PANEL_WORKER_SD, n_workers)
    psi = rng.normal(0.0, PANEL_FIRM_SD, PANEL_FIRMS)
    firm = np.empty((n_workers, T), dtype=np.int64)
    firm[:, 0] = rng.integers(0, PANEL_FIRMS, n_workers)
    for t in range(1, T):
        move = rng.random(n_workers) > PANEL_STAY_PROB
        firm[:, t] = np.where(move, rng.integers(0, PANEL_FIRMS, n_workers), firm[:, t - 1])
    exper0 = rng.uniform(0.0, 25.0, n_workers)
    rows = n_workers * T
    w = np.repeat(np.arange(n_workers), T)
    f = firm.reshape(-1)
    exper = (exper0[:, None] + np.arange(T)[None, :]).reshape(-1)
    e_wage = rng.normal(0.0, 1.0, rows)
    e_sel = PANEL_SELECTION_RHO * e_wage + np.sqrt(1 - PANEL_SELECTION_RHO ** 2) * rng.normal(0.0, 1.0, rows)
    b = PANEL_BETA
    lw = (
        1.0 + alpha[w] + psi[f] + b["edu"] * edu[w] + b["exper"] * exper
        + b["female"] * female[w] + PANEL_NOISE_SD * e_wage
    )
    s = PANEL_SELECTION
    edu_z = (edu[w] - 13.0) / 2.5
    employed = (s["intercept"] + s["edu_z"] * edu_z + s["kids"] * kids[w] + e_sel) > 0
    return pd.DataFrame({
        "lw": lw,
        "lw_obs": np.where(employed, lw, np.nan),
        "g": np.where(female[w], "F", "M"),
        "edu": edu[w],
        "edu_z": edu_z,
        "exper": exper,
        "kids": kids[w],
        "employed": employed.astype(float),
        "worker": np.char.add("w", w.astype(str)),
        "firm": np.char.add("f", f.astype(str)),
    })
