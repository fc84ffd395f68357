"""Core Oaxaca-Blinder pipeline tests, mirroring the reference's integration
fixtures (oaxaca_blinder/tests/integration_test.rs, weights_test.rs,
null_handling_test.rs, features_test.rs; see FIXTURES.md F1/F2)."""

import math

import numpy as np
import pytest

from oaxaca_blinder_rs_spark import OaxacaBuilder, InsufficientData, SingularMatrix


WAGE = [10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0] * 2
EDU = [12.0, 16.0, 14.0, 16.0, 18.0] * 4
# No 3 distinct (education, experience) points are collinear, so any bootstrap
# replicate drawing >=3 distinct rows keeps the 3-column design full-rank.
EXP = [1.0, 4.0, 2.0, 7.0, 3.0] * 4
GENDER = ["F"] * 5 + ["M"] * 5 + ["F"] * 5 + ["M"] * 5


def sample_df(spark):
    rows = list(zip(WAGE, EDU, EXP, GENDER))
    return spark.createDataFrame(rows, ["wage", "education", "experience", "gender"])


def run_and_check(builder, expected_gap):
    """Mirror of integration_test.rs:13-53."""
    res = builder.run()
    assert abs(res.total_gap - expected_gap) < 1e-9
    explained = res.two_fold.explained.estimate
    unexplained = res.two_fold.unexplained.estimate
    assert abs(explained + unexplained - res.total_gap) < 1e-9
    assert res.n_a == 10
    assert res.n_b == 10
    res.summary()
    return res


@pytest.mark.parametrize("rc", ["group_a", "group_b", "pooled", "weighted"])
def test_full_run_all_policies(spark, rc):
    """integration_test.rs:110-197: gap exactly 10.0 under every beta* policy."""
    b = OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
    b.predictors(["education"]).bootstrap_reps(5).reference_coefficients(rc)
    run_and_check(b, 10.0)


def test_three_fold_identity(spark):
    """decomposition.rs identity: endowments+coefficients+interaction == gap."""
    b = OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
    b.predictors(["education"]).bootstrap_reps(0)
    res = b.run()
    tf = {c.name: c.estimate for c in res.three_fold.aggregate}
    assert abs(tf["endowments"] + tf["coefficients"] + tf["interaction"] - res.total_gap) < 1e-9


def test_detailed_sums_to_aggregate(spark):
    """decomposition.rs:124-185: detailed parts sum to the aggregate two-fold."""
    for rc in ("group_a", "group_b"):
        b = OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
        b.predictors(["education"]).bootstrap_reps(0).reference_coefficients(rc)
        res = b.run()
        det_exp = sum(c.estimate for c in res.two_fold.detailed_explained)
        det_unexp = sum(c.estimate for c in res.two_fold.detailed_unexplained)
        assert abs(det_exp - res.two_fold.explained.estimate) < 1e-9
        assert abs(det_unexp - res.two_fold.unexplained.estimate) < 1e-9


def test_ols_against_numpy(spark):
    """Coefficients match a dense NumPy lstsq solve to 1e-9."""
    rng = np.random.default_rng(42)
    n = 500
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    g = np.where(rng.random(n) < 0.5, "A", "B")
    y = 1.0 + 2.0 * x1 - 0.5 * x2 + np.where(g == "A", 3.0, 0.0) + rng.normal(0, 0.3, n)
    rows = [(float(yy), float(a), float(bb), str(gg)) for yy, a, bb, gg in zip(y, x1, x2, g)]
    df = spark.createDataFrame(rows, ["y", "x1", "x2", "g"])
    b = OaxacaBuilder(df, "y", "g", "B").predictors(["x1", "x2"]).bootstrap_reps(0)
    res = b.run()
    # group A OLS by hand
    mask = g == "A"
    X = np.column_stack([np.ones(mask.sum()), x1[mask], x2[mask]])
    beta_np = np.linalg.lstsq(X, y[mask], rcond=None)[0]
    # beta_star defaults to GroupA (builder.rs:123)
    assert np.allclose(res.beta_star, beta_np, atol=1e-9)


def test_weights_flip_gap(spark):
    """weights_test.rs:5-49: heavy weight flips the gap sign.

    6-row frame: unweighted gap ~ +0.666..., weighted ~ -3.333...
    """
    rows = [
        (10.0, "A", 1.0, 1.0),
        (10.0, "A", 1.0, 1.0),
        (2.0, "A", 10.0, 0.0),  # heavy weight on low outcome
        (5.0, "B", 1.0, 0.0),
        (7.0, "B", 1.0, 1.0),
        (8.0, "B", 1.0, 1.0),
    ]
    df = spark.createDataFrame(rows, ["outcome", "group", "weight", "x"])
    unweighted = (
        OaxacaBuilder(df, "outcome", "group", "B").predictors(["x"]).bootstrap_reps(0).run()
    )
    weighted = (
        OaxacaBuilder(df, "outcome", "group", "B")
        .predictors(["x"])
        .weights("weight")
        .bootstrap_reps(0)
        .run()
    )
    assert abs(unweighted.total_gap - 0.666) < 0.01
    assert abs(weighted.total_gap - (-3.333)) < 0.01


def test_null_handling(spark):
    """null_handling_test.rs:5-67: rows with nulls in relevant cols dropped."""
    rows = [
        (10.0, 12.0, "F"),
        (None, 14.0, "F"),
        (12.0, None, "F"),
        (13.0, 15.0, "F"),
        (14.0, 16.0, "F"),
        (20.0, 12.0, "M"),
        (None, 14.0, "M"),
        (22.0, None, "M"),
        (23.0, 15.0, "M"),
        (24.0, 16.0, "M"),
    ]
    df = spark.createDataFrame(rows, "wage double, education double, gender string")
    res = OaxacaBuilder(df, "wage", "gender", "F").predictors(["education"]).bootstrap_reps(0).run()
    assert res.n_a == 3
    assert res.n_b == 3


def test_categorical_dummies_skip_first(spark):
    """builder.rs:384-418: dummies named {var}_{level}, alphabetically-first
    level omitted as base."""
    rows = []
    wages = iter(WAGE)
    sectors = ["tech", "admin", "retail", "tech", "admin"] * 4
    for wage, edu, gen, sec in zip(WAGE, EDU, GENDER, sectors):
        rows.append((wage, edu, gen, sec))
    df = spark.createDataFrame(rows, ["wage", "education", "gender", "sector"])
    b = (
        OaxacaBuilder(df, "wage", "gender", "F")
        .predictors(["education"])
        .categorical_predictors(["sector"])
        .bootstrap_reps(0)
    )
    res = b.run()
    names = res.predictor_names
    assert names[0] == "__ob_intercept__"
    assert "sector_retail" in names and "sector_tech" in names
    assert "sector_admin" not in names  # alphabetically first -> base


def test_normalization_identity(spark):
    """math/normalization.rs tests: explained+unexplained still == total gap
    after Yun normalization, and base-category components appear."""
    sectors = ["tech", "admin", "retail", "tech", "admin"] * 4
    rows = list(zip(WAGE, EDU, GENDER, sectors))
    df = spark.createDataFrame(rows, ["wage", "education", "gender", "sector"])
    b = (
        OaxacaBuilder(df, "wage", "gender", "F")
        .predictors(["education"])
        .categorical_predictors(["sector"])
        .normalize(["sector"])
        .bootstrap_reps(0)
    )
    res = b.run()
    explained = res.two_fold.explained.estimate
    unexplained = res.two_fold.unexplained.estimate
    assert abs(explained + unexplained - res.total_gap) < 1e-9
    names = [c.name for c in res.two_fold.detailed_explained]
    assert "sector_admin" in names  # base category component added back


def test_bootstrap_produces_finite_stats(spark):
    b = OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
    b.predictors(["education"]).bootstrap_reps(20).seed(7)
    res = b.run()
    for c in res.two_fold.aggregate:
        assert math.isfinite(c.std_err)
        assert math.isfinite(c.ci_lower)
        assert math.isfinite(c.ci_upper)
        assert 0.0 <= c.p_value <= 1.0


def test_bootstrap_exact_method(spark):
    b = OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
    b.predictors(["education"]).bootstrap_reps(10).bootstrap_method("exact").seed(7)
    res = b.run()
    assert math.isfinite(res.two_fold.explained.std_err)


def test_bootstrap_exact_fast_matches_exact(spark):
    """exact_fast (GEMM reduction) consumes the SAME xxhash64 pick stream as
    the Catalyst exact path — replicate stats differ only by float summation
    order, so SE/CI agree to ~1e-9."""

    def run(method):
        return (
            OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
            .predictors(["education", "experience"])
            .bootstrap_reps(12)
            .bootstrap_method(method)
            .seed(11)
            .run()
        )

    r_expr, r_fast = run("exact"), run("exact_fast")
    assert abs(r_expr.two_fold.explained.estimate - r_fast.two_fold.explained.estimate) < 1e-9
    assert abs(r_expr.two_fold.explained.std_err - r_fast.two_fold.explained.std_err) < 1e-6
    assert abs(r_expr.two_fold.unexplained.ci_lower - r_fast.two_fold.unexplained.ci_lower) < 1e-6
    assert abs(r_expr.two_fold.unexplained.ci_upper - r_fast.two_fold.unexplained.ci_upper) < 1e-6
    # determinism of the fast path itself
    r_fast2 = run("exact_fast")
    assert r_fast.two_fold.explained.std_err == r_fast2.two_fold.explained.std_err


def test_bootstrap_determinism(spark):
    b1 = (
        OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
        .predictors(["education"])
        .bootstrap_reps(15)
        .seed(123)
    )
    b2 = (
        OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
        .predictors(["education"])
        .bootstrap_reps(15)
        .seed(123)
    )
    r1, r2 = b1.run(), b2.run()
    assert r1.two_fold.explained.std_err == r2.two_fold.explained.std_err
    assert r1.two_fold.explained.ci_lower == r2.two_fold.explained.ci_lower


def test_insufficient_data_error(spark):
    rows = [(1.0, 2.0, "A"), (2.0, 3.0, "B")]
    df = spark.createDataFrame(rows, ["y", "x", "g"])
    with pytest.raises(InsufficientData):
        OaxacaBuilder(df, "y", "g", "B").predictors(["x"]).bootstrap_reps(0).run()


def test_singular_matrix_error(spark):
    rows = [(float(i), 2.0, 4.0, "A" if i % 2 else "B") for i in range(10)]
    df = spark.createDataFrame(rows, ["y", "x1", "x2", "g"])  # x2 = 2*x1 (collinear constants)
    with pytest.raises(SingularMatrix):
        OaxacaBuilder(df, "y", "g", "B").predictors(["x1", "x2"]).bootstrap_reps(0).run()


def test_formula_api(spark):
    sectors = ["tech", "admin", "retail", "tech", "admin"] * 4
    rows = list(zip(WAGE, EDU, GENDER, sectors))
    df = spark.createDataFrame(rows, ["wage", "education", "gender", "sector"])
    b = OaxacaBuilder.from_formula(df, "wage ~ education + C(sector)", "gender", "F")
    b.bootstrap_reps(0)
    res = b.run()
    assert "sector_retail" in res.predictor_names
    assert abs(res.total_gap - 10.0) < 1e-9


def test_sinks(spark):
    b = OaxacaBuilder(sample_df(spark), "wage", "gender", "F")
    res = b.predictors(["education"]).bootstrap_reps(5).run()
    assert "explained" in res.to_json()
    assert res.to_markdown().startswith("### Oaxaca")
    assert "\\begin{table}" in res.to_latex()
    assert "explained by" in res.interpret()


def test_failed_replicates_are_reported_as_a_warning(spark):
    """A 3-row group makes many resamples rank-deficient; the discarded
    replicates are reported through ``warnings``, not printed, and counted
    on the result."""
    import re

    rows = [(float(10 + i), float(i % 5), "F") for i in range(3)]
    rows += [(float(20 + i), float(i % 7), "M") for i in range(30)]
    df = spark.createDataFrame(rows, ["wage", "education", "gender"])
    b = OaxacaBuilder(df, "wage", "gender", "F").predictors(["education"]).bootstrap_reps(20)
    with pytest.warns(UserWarning, match="bootstrap replications failed and were discarded") as record:
        res = b.run()
    warned = [re.match(r"(\d+) out of 20 bootstrap", str(w.message)) for w in record]
    assert res.n_failed_reps == int(next(m for m in warned if m).group(1)) > 0


def test_failed_replicate_warning_names_the_callers_line(spark):
    """Through the ``api`` facade the failed-replicate warning is attributed
    to the caller's line, not to ``builder.py`` or ``api.py``."""
    from oaxaca_blinder_rs_spark.api import OaxacaBlinder

    rows = [(float(10 + i), float(i % 5), "F") for i in range(3)]
    rows += [(float(20 + i), float(i % 7), "M") for i in range(30)]
    df = spark.createDataFrame(rows, ["wage", "education", "gender"])
    with pytest.warns(UserWarning, match="bootstrap replications failed") as record:
        OaxacaBlinder(df, "wage", "gender", "F", predictors=["education"], bootstrap_reps=20).fit()
    assert next(w for w in record if "bootstrap replications failed" in str(w.message)).filename == __file__


def test_fused_bootstrap_is_one_job(spark, spark_jobs):
    """The pandas engine's fast bootstrap fuses the point stats and 500
    Poisson replicates into one ``mapInPandas`` pass over the data: the
    whole mean decomposition is one Spark job."""
    rng = np.random.default_rng(11)
    n = 2000
    g = np.where(rng.random(n) < 0.5, "F", "M")
    edu = rng.normal(14.0, 2.0, n)
    wage = 10.0 + 1.5 * edu + 2.0 * (g == "M") + rng.normal(0.0, 1.0, n)
    df = spark.createDataFrame(
        [(float(w), float(e), str(s), i) for i, (w, e, s) in enumerate(zip(wage, edu, g))],
        "wage double, education double, gender string, rid long",
    )
    b = (
        OaxacaBuilder(df, "wage", "gender", "F").predictors(["education"]).id_col("rid")
        .compute_engine("pandas").bootstrap_method("poisson_fast").bootstrap_reps(500).seed(7)
    )
    jobs, res = spark_jobs(b.run)
    assert jobs == 1
    assert res.n_failed_reps == 0 and math.isfinite(res.two_fold.unexplained.std_err)
