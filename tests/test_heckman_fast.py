"""Heckman Arrow/BLAS engine: parity with the expression path.

The pandas engine (glm.fit_many_resampled + heckman._resampled_heckman_stats)
must reproduce the exploded expression path's POINT estimates exactly (same
data, same rep = -1 unit counts, same Fisher iteration) while its bootstrap
draws come from the splitmix64 stream (the poisson_fast convention) rather
than the expr path's xxhash64 stream — so SEs are compared statistically,
not bitwise. Reference semantics: heckman.rs:38-108, estimation.rs:114-269.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import oaxaca_blinder_rs_spark as ob
from oaxaca_blinder_rs_spark.operators.glm import fit_many, fit_many_resampled


@pytest.fixture(scope="module")
def heckman_df(spark):
    rng = np.random.default_rng(7)
    n = 3000
    g = np.where(rng.random(n) < 0.5, "A", "B")
    z = rng.normal(size=n)
    x = rng.normal(size=n) + (g == "A") * 0.5
    sel = (0.3 + 0.8 * z + rng.normal(size=n) > 0).astype(float)
    y = 1.0 + 2.0 * x + (g == "A") * 0.7 + 0.5 * rng.normal(size=n)
    y = np.where(sel > 0, y, np.nan)
    pdf = pd.DataFrame({"grp": g, "z": z, "x": x, "sel": sel, "y": y, "rid": np.arange(n)})
    return spark.createDataFrame(pdf).cache()


def _run(df, engine: str, reps: int):
    b = (
        ob.OaxacaBuilder(df, "y", "grp", "A")
        .predictors(["x"])
        .heckman_selection("sel", ["z"])
        .bootstrap_reps(reps)
        .seed(42)
        .id_col("rid")
        .compute_engine(engine)
    )
    return b.run()


def test_point_estimates_match_expr_engine(heckman_df):
    r_expr = _run(heckman_df, "expr", 5)
    r_fast = _run(heckman_df, "pandas", 5)
    assert abs(r_expr.total_gap - r_fast.total_gap) < 1e-10
    for a, b in zip(r_expr.two_fold.aggregate, r_fast.two_fold.aggregate):
        assert abs(a.estimate - b.estimate) < 1e-9, a.name
    for key in ("detailed_explained", "detailed_unexplained", "detailed_selection"):
        for a, b in zip(getattr(r_expr.two_fold, key), getattr(r_fast.two_fold, key)):
            assert abs(a.estimate - b.estimate) < 1e-9, (key, a.name)
    for a, b in zip(r_expr.three_fold.aggregate, r_fast.three_fold.aggregate):
        assert abs(a.estimate - b.estimate) < 1e-9, a.name


def test_fast_engine_bootstrap_se_sane_and_deterministic(heckman_df):
    r1 = _run(heckman_df, "pandas", 25)
    r2 = _run(heckman_df, "pandas", 25)
    r_expr = _run(heckman_df, "expr", 25)
    for a, b in zip(r1.two_fold.aggregate, r2.two_fold.aggregate):
        assert a.std_err == b.std_err  # rerun bit-identical
        assert a.ci_lower == b.ci_lower and a.ci_upper == b.ci_upper
    # different resample streams -> statistically consistent, not equal
    for a, e in zip(r1.two_fold.aggregate, r_expr.two_fold.aggregate):
        assert a.std_err > 0 and e.std_err > 0
        assert 0.4 < a.std_err / e.std_err < 2.5, a.name


def test_fit_many_resampled_identity_matches_fit_many(heckman_df):
    """rep = -1 (unit counts) must reproduce the plain keyless probit."""
    from pyspark.sql import functions as F

    d = heckman_df.withColumn("one", F.lit(1.0))
    ref = fit_many(d, ["one", "z"], "sel", family="probit")[()]
    per_group = fit_many_resampled(
        d, ["one", "z"], "sel", "grp", reps=0, seed=1, family="probit", id_col="rid"
    )
    # identity fit is per-group here; pooled check: refit on one group only
    da = d.filter(F.col("grp") == "A")
    ref_a = fit_many(da, ["one", "z"], "sel", family="probit")[()]
    fast_a = per_group[(-1, "A")]
    assert np.allclose(fast_a.beta, ref_a.beta, atol=1e-8)
    assert fast_a.converged
    assert fast_a.vcov is not None
    assert np.allclose(fast_a.vcov, ref_a.vcov, atol=1e-8)
    assert ref.converged  # pooled sanity


def test_fit_many_resampled_zero_count_replicate_not_converged(spark):
    """A replicate whose Poisson draw resamples zero rows must come back
    converged=False, not a plausible-looking beta=0 'converged' fit (round-2
    advisory). seed=0 with a 2-row group draws zero total count at rep 8."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"grp": ["A", "A"], "sel": [1.0, 0.0], "rid": [0, 1]})
    d = spark.createDataFrame(pdf).withColumn("one", F.lit(1.0))
    fits = fit_many_resampled(
        d, ["one"], "sel", "grp", reps=30, seed=0, family="logit", id_col="rid"
    )
    degenerate = fits[(8, "A")]
    assert not degenerate.converged
    assert np.allclose(degenerate.beta, 0.0)


def test_fit_many_resampled_logit_family(heckman_df):
    from pyspark.sql import functions as F

    d = heckman_df.withColumn("one", F.lit(1.0))
    da = d.filter(F.col("grp") == "B")
    ref = fit_many(da, ["one", "z"], "sel", family="logit")[()]
    fast = fit_many_resampled(
        d, ["one", "z"], "sel", "grp", reps=3, seed=9, family="logit", id_col="rid"
    )
    assert np.allclose(fast[(-1, "B")].beta, ref.beta, atol=1e-8)
    # bootstrap replicates converge and differ from the point estimate
    assert all(fast[(r, "B")].converged for r in range(3))
    assert any(
        not np.allclose(fast[(r, "B")].beta, fast[(-1, "B")].beta) for r in range(3)
    )


@pytest.mark.parametrize("column", ["y", "x", "z", "sel"])
def test_heckman_rejects_infinite_values(heckman_df, column):
    """+-Infinity in the outcome, an outcome predictor, a selection
    predictor or the selection outcome is refused by name, as on the mean
    and Machado-Mata paths."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.errors import NonNumericData

    hit = (F.col("rid") % 97 == 0) & (F.col("sel") == 1.0)
    df = heckman_df.withColumn(column, F.when(hit, F.lit(-np.inf)).otherwise(F.col(column)))
    with pytest.raises(NonNumericData, match=f"'{column}' contains infinite values"):
        _run(df, "expr", 0)


def test_dropped_group_level_warning_names_the_callers_line(heckman_df):
    """A Heckman run on a third group level warns about the dropped level,
    attributed to this file (the caller's line), not to a package frame."""
    from pyspark.sql import functions as F

    df = heckman_df.withColumn("grp", F.when(F.col("rid") % 10 == 0, F.lit("C")).otherwise(F.col("grp")))
    with pytest.warns(UserWarning, match=r"dropping \['C'\]") as record:
        _run(df, "expr", 0)
    assert next(w for w in record if "dropping" in str(w.message)).filename == __file__


@pytest.mark.parametrize("engine,jobs", [("expr", 13), ("pandas", 16)])
def test_heckman_bootstrap_job_count(heckman_df, spark_jobs, engine, jobs):
    """A Heckman two-step with 20 bootstrap replicates runs a fixed number
    of Spark jobs, counted by job group: 13 on the Catalyst engine and 16
    on the Arrow/BLAS engine, measured on local[4]."""
    heckman_df.count()  # the fixture's cache is filled outside the count
    count, res = spark_jobs(lambda: _run(heckman_df, engine, 20))
    assert count == jobs
    assert math.isfinite(res.two_fold.unexplained.std_err)
