"""Matching engine and Machado-Mata tests (tests/matching_test.rs,
math/quantile_regression.rs tests, integration_test.rs quantile part)."""

import itertools

import numpy as np
import pytest

from oaxaca_blinder_rs_spark.api import OaxacaBlinder
from oaxaca_blinder_rs_spark.operators import quantile_regression
from oaxaca_blinder_rs_spark.operators.matching import MatchingEngine
from oaxaca_blinder_rs_spark.operators.quantile_regression import exact_n_index, solve_qr, solve_qr_exact
from oaxaca_blinder_rs_spark.quantile_builder import QuantileDecompositionBuilder, mm_tau_stream


def matching_df(spark):
    """tests/matching_test.rs:5-40 fixture with overlap rows."""
    rows = []
    for i in range(100):
        if i < 50:
            treated, income, education = 1.0, 50000.0 + i * 1000.0, 16.0
        else:
            treated, income, education = 0.0, 30000.0 + i * 500.0, 12.0
        rows.append([i, treated, income, education])
    rows[48][3] = 12.0  # treated, low ed
    rows[49][3] = 12.0
    rows[50][3] = 16.0  # control, high ed
    rows[51][3] = 16.0
    return spark.createDataFrame(
        [tuple(r) for r in rows], "rid long, treated double, income double, education double"
    )


def test_matching_basic(spark):
    df = matching_df(spark)
    eng = MatchingEngine(df, "treated", "income", ["education"], id_col="rid")
    w = eng.weights_list(eng.run_matching(1, False))
    assert len(w) == 100
    assert all(x == 1.0 for x in w[:50])  # treated weight 1
    # the two high-ed controls absorb the 48 high-ed treated matches
    assert w[50] + w[51] >= 48.0
    # total control weight mass == number of treated (k=1)
    assert abs(sum(w[50:]) - 50.0) < 1e-9


def test_matching_mahalanobis(spark):
    df = matching_df(spark)
    eng = MatchingEngine(df, "treated", "income", ["education", "income"], id_col="rid")
    w = eng.weights_list(eng.run_matching(2, True))
    assert len(w) == 100
    assert all(x == 1.0 for x in w[:50])
    assert abs(sum(w[50:]) - 50.0) < 1e-9  # mass conservation at k=2 too


def test_psm_matching(spark):
    """matching_test.rs:64-100: PSM concentrates weight on score-overlap."""
    rows = []
    rng = np.random.default_rng(0)
    for i in range(100):
        treated = 1.0 if i < 50 else 0.0
        education = 16.0 if i < 50 else 12.0
        income = 1000.0 * education + rng.normal(0, 100)
        rows.append((i, treated, float(income), education))
    # overlap
    rows[52] = (52, 0.0, rows[52][2], 16.0)
    df = spark.createDataFrame(rows, "rid long, treated double, income double, education double")
    eng = MatchingEngine(df, "treated", "income", ["education"], id_col="rid")
    w = eng.weights_list(eng.match_psm(1))
    assert len(w) == 100
    assert all(x == 1.0 for x in w[:50])
    assert sum(w[50:]) > 0


def test_solve_qr_median_exact():
    """quantile_regression.rs:131-156: beta recovered on clean linear data."""
    x = np.arange(1.0, 21.0)
    X = np.column_stack([np.ones(20), x])
    y = 3.0 + 2.0 * x
    beta = solve_qr(X, y, 0.5)
    assert abs(beta[0] - 3.0) < 1e-4
    assert abs(beta[1] - 2.0) < 1e-4
    beta25 = solve_qr(X, y, 0.25)
    assert abs(beta25[1] - 2.0) < 1e-4


def test_solve_qr_tau_shifts_intercept():
    """On data with pure noise around a line, tau=0.9 fit sits above tau=0.1."""
    rng = np.random.default_rng(7)
    x = rng.uniform(0, 10, 500)
    y = 1.0 + 2.0 * x + rng.normal(0, 1, 500)
    X = np.column_stack([np.ones(500), x])
    b10 = solve_qr(X, y, 0.1)
    b90 = solve_qr(X, y, 0.9)
    assert b90[0] > b10[0]
    assert abs(b90[1] - 2.0) < 0.15 and abs(b10[1] - 2.0) < 0.15


def test_machado_mata_identities(spark):
    """integration_test.rs quantile block: characteristics + coefficients ==
    gap per quantile, keys q25/q50/q75."""
    wage = [10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0] * 4
    edu = [12.0, 16.0, 14.0, 16.0, 18.0] * 8
    gender = (["F"] * 5 + ["M"] * 5) * 4
    df = spark.createDataFrame(list(zip(wage, edu, gender)), ["wage", "education", "gender"])
    b = (
        QuantileDecompositionBuilder(df, "wage", "gender", "F")
        .predictors(["education"])
        .quantiles([0.25, 0.5, 0.75])
        .simulations(50)
        .bootstrap_reps(3)
        .seed(42)
    )
    res = b.run()
    assert set(res.results_by_quantile) == {"q25", "q50", "q75"}
    assert res.n_a == 20 and res.n_b == 20
    for key, d in res.results_by_quantile.items():
        s = d.characteristics_effect.estimate + d.coefficients_effect.estimate
        assert abs(s - d.total_gap.estimate) < 1e-9
    res.summary()


def test_machado_mata_deterministic(spark):
    wage = [10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0] * 2
    edu = [12.0, 16.0, 14.0, 16.0, 18.0] * 4
    gender = (["F"] * 5 + ["M"] * 5) * 2
    df = spark.createDataFrame(list(zip(wage, edu, gender)), ["wage", "education", "gender"])

    def run():
        return (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.5])
            .simulations(30)
            .bootstrap_reps(0)
            .seed(11)
            .run()
        )

    r1, r2 = run(), run()
    assert r1.results_by_quantile["q50"].total_gap.estimate == r2.results_by_quantile["q50"].total_gap.estimate


def test_matching_lsh_approximate(spark):
    """LSH matching: treated weights 1; approximate control mass close to
    exact on separable data."""
    df = matching_df(spark)
    eng = MatchingEngine(df, "treated", "income", ["education", "income"], id_col="rid")
    w = eng.weights_list(eng.run_matching_lsh(1, bits=6, num_tables=6))
    assert len(w) == 100
    assert all(x == 1.0 for x in w[:50])
    # approximate: most treated rows found a bucket-mate
    assert sum(w[50:]) >= 40.0


def test_machado_mata_distributed_engine(spark):
    """The distributed engine: same identities, comparable estimates to
    the driver engine on the same data."""
    wage = [10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0] * 4
    edu = [12.0, 16.0, 14.0, 16.0, 18.0] * 8
    gender = (["F"] * 5 + ["M"] * 5) * 4
    df = spark.createDataFrame(list(zip(wage, edu, gender)), ["wage", "education", "gender"])

    def build(engine):
        return (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.5])
            .simulations(60)
            .bootstrap_reps(0)
            .seed(42)
            .fit_engine(engine)
        )

    rd = build("distributed").run()
    rv = build("driver").run()
    d = rd.results_by_quantile["q50"]
    assert abs(d.characteristics_effect.estimate + d.coefficients_effect.estimate
               - d.total_gap.estimate) < 1e-9
    assert rd.n_a == 20 and rd.n_b == 20
    # estimates are simulation-based; engines agree within simulation noise
    assert abs(d.total_gap.estimate - rv.results_by_quantile["q50"].total_gap.estimate) < 4.0


TIED_WAGE = [10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0] * 4
TIED_EDU = [12.0, 16.0, 14.0, 16.0, 18.0] * 8
TIED_GENDER = (["F"] * 5 + ["M"] * 5) * 4


def tied_mm_df(spark, wage_edit=None, edu_edit=None):
    """The small tied fixture the Machado-Mata tests share; ``*_edit`` maps
    a row index to a replacement value."""
    wage, edu, gender = list(TIED_WAGE), list(TIED_EDU), list(TIED_GENDER)
    for col, edit in ((wage, wage_edit), (edu, edu_edit)):
        for i, v in (edit or {}).items():
            col[i] = v
    return spark.createDataFrame(list(zip(wage, edu, gender)), ["wage", "education", "gender"])


def _continuous_mm_df(spark, n, seed=3):
    """A tie-free panel: uniform education, a group shift and normal noise."""
    rng = np.random.default_rng(seed)
    edu = rng.uniform(8.0, 20.0, n)
    grp = np.where(rng.random(n) < 0.5, "F", "M")
    wage = 5.0 + 1.5 * edu + np.where(grp == "F", 0.0, 4.0) + rng.normal(0, 3.0, n)
    return spark.createDataFrame(
        list(zip(wage.tolist(), edu.tolist(), grp.tolist())), ["wage", "education", "gender"]
    )


def test_machado_mata_gram_vs_driver_parity(spark):
    """Both engines share taus, resample streams, simulation picks and the
    globbed exact LP; this fixture is small enough that every side is fitted
    whole, so both solve identical LPs. Its tied rows create flat optimal
    faces, and identical problems still land on the same vertex."""
    df = tied_mm_df(spark)

    def build(engine):
        return (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.25, 0.5, 0.75])
            .simulations(40)
            .bootstrap_reps(2)
            .seed(42)
            .fit_engine(engine)
            .run()
        )

    rg, rd = build("distributed"), build("driver")
    for key in rg.results_by_quantile:
        dg, dd = rg.results_by_quantile[key], rd.results_by_quantile[key]
        assert dg.total_gap.estimate == pytest.approx(dd.total_gap.estimate, abs=1e-9)
        assert dg.characteristics_effect.estimate == pytest.approx(
            dd.characteristics_effect.estimate, abs=1e-9
        )
        assert dg.total_gap.std_err == pytest.approx(dd.total_gap.std_err, abs=1e-9)


def test_machado_mata_engines_agree_on_tied_globbed_data(spark):
    """Tied outcomes on sides large enough to be globbed (about 2,000 rows
    each against m = 330): the driver engine sums each glob in one block and
    Spark in one partial per partition, and the sums are not exact (values
    on a 0.1 grid), yet every reduced LP lands on the same vertex."""
    rng = np.random.default_rng(1)
    n = 4000
    edu = rng.integers(8, 21, n) * 0.7
    grp = np.where(rng.random(n) < 0.5, "F", "M")
    wage = np.round(5.0 + 1.5 * edu + np.where(grp == "F", 0.0, 4.0) + rng.normal(0, 3.0, n), 1) + 0.1
    df = spark.createDataFrame(
        list(zip(wage.tolist(), edu.tolist(), grp.tolist())), ["wage", "education", "gender"]
    ).repartition(4)

    def build(engine):
        return (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .simulations(20)
            .bootstrap_reps(2)
            .seed(1)
            .fit_engine(engine)
            .run()
        )

    rd, rg = build("driver"), build("distributed")
    for key, dd in rd.results_by_quantile.items():
        dg = rg.results_by_quantile[key]
        for cd, cg in ((dd.total_gap, dg.total_gap), (dd.characteristics_effect, dg.characteristics_effect)):
            assert cg.estimate == pytest.approx(cd.estimate, abs=1e-9), (key, cd.name)
            assert cg.std_err == pytest.approx(cd.std_err, abs=1e-9), (key, cd.name)


def test_machado_mata_engines_share_bootstrap_streams(spark):
    """On a continuous (tie-free) panel both engines reach the same LP
    optimum of every globbed fit, and every replicate reads the same taus,
    resample, subsample and picks, so the bootstrap SEs agree to roundoff."""
    df = _continuous_mm_df(spark, 2000)

    def build(engine):
        return (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.25, 0.5, 0.75])
            .simulations(30)
            .bootstrap_reps(4)
            .seed(5)
            .fit_engine(engine)
            .run()
        )

    rd, rg = build("driver"), build("distributed")
    for key, dd in rd.results_by_quantile.items():
        dg = rg.results_by_quantile[key]
        for cd, cg in ((dd.total_gap, dg.total_gap),
                       (dd.characteristics_effect, dg.characteristics_effect)):
            assert cd.std_err > 0.0
            assert cg.estimate == pytest.approx(cd.estimate, abs=1e-12), (key, cd.name)
            assert cg.std_err == pytest.approx(cd.std_err, rel=1e-9), (key, cd.name)
    assert rd.n_failed_reps == rg.n_failed_reps == 0


@pytest.mark.parametrize("engine", ["driver", "distributed"])
@pytest.mark.parametrize("column", ["wage", "education"])
def test_machado_mata_rejects_infinite_values(spark, engine, column):
    """+-Infinity in the outcome or a predictor survives dropna and no QR fit
    survives it; both engines name the column instead of returning
    NaN/garbage effects."""
    from oaxaca_blinder_rs_spark.errors import NonNumericData

    edit = {3: float("inf"), 27: float("-inf")}
    df = tied_mm_df(spark, **{"wage_edit" if column == "wage" else "edu_edit": edit})
    b = (
        QuantileDecompositionBuilder(df, "wage", "gender", "F")
        .predictors(["education"])
        .quantiles([0.5])
        .simulations(10)
        .bootstrap_reps(0)
        .fit_engine(engine)
    )
    with pytest.raises(NonNumericData, match="infinite values") as err:
        b.run()
    assert err.value.column == column


def test_machado_mata_failed_replicates_counted(spark, monkeypatch):
    """A bootstrap replicate whose QR fits fail is dropped, counted on the
    result and reported in one warning; the SEs come from the survivors."""
    import oaxaca_blinder_rs_spark.quantile_builder as qb

    bad = set(qb.mm_tau_stream(42, 20, rep=1).tolist())  # replicate 1's taus
    real = qb.solve_qr_exact

    def flaky(X, y, tau):
        if tau in bad:
            raise RuntimeError("forced fit failure")
        return real(X, y, tau)

    monkeypatch.setattr(qb, "solve_qr_exact", flaky)
    b = (
        QuantileDecompositionBuilder(tied_mm_df(spark), "wage", "gender", "F")
        .predictors(["education"])
        .quantiles([0.5])
        .simulations(20)
        .bootstrap_reps(3)
        .seed(42)
        .fit_engine("driver")
    )
    with pytest.warns(UserWarning, match="1 out of 3 bootstrap replications failed"):
        res = b.run()
    assert res.n_failed_reps == 1
    d = res.results_by_quantile["q50"]
    assert d.total_gap.std_err == d.total_gap.std_err  # two survivors: finite


def test_machado_mata_distributed_bootstrap(spark):
    """Distributed-engine bootstrap (multiplicity-weighted resamples): finite SEs,
    identities per replicate aggregate, and exact reproducibility across
    runs."""
    wage = [10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0] * 4
    edu = [12.0, 16.0, 14.0, 16.0, 18.0] * 8
    gender = (["F"] * 5 + ["M"] * 5) * 4
    df = spark.createDataFrame(list(zip(wage, edu, gender)), ["wage", "education", "gender"])

    def run():
        return (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.5])
            .simulations(40)
            .bootstrap_reps(6)
            .seed(7)
            .fit_engine("distributed")
            .run()
        )

    r1, r2 = run(), run()
    d = r1.results_by_quantile["q50"]
    assert d.total_gap.std_err == d.total_gap.std_err  # finite, not NaN
    assert d.total_gap.std_err > 0.0
    assert d.total_gap.ci_lower <= d.total_gap.ci_upper
    assert abs(
        d.characteristics_effect.estimate + d.coefficients_effect.estimate
        - d.total_gap.estimate
    ) < 1e-9
    # determinism: identical estimates AND identical bootstrap stats
    d2 = r2.results_by_quantile["q50"]
    assert d.total_gap.estimate == d2.total_gap.estimate
    assert d.total_gap.std_err == d2.total_gap.std_err
    assert d.coefficients_effect.ci_upper == d2.coefficients_effect.ci_upper


def test_machado_mata_auto_engine_row_guard(spark, monkeypatch):
    """fit_engine('auto') (the default) picks the driver engine under the
    collect limit and silently falls back to the distributed engine
    past it — a user at scale gets a result, not an error (round-5 verdict
    ask #7)."""
    import oaxaca_blinder_rs_spark.quantile_builder as qb

    wage = [10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0] * 4
    edu = [12.0, 16.0, 14.0, 16.0, 18.0] * 8
    gender = (["F"] * 5 + ["M"] * 5) * 4
    df = spark.createDataFrame(list(zip(wage, edu, gender)), ["wage", "education", "gender"])

    def build():
        return (
            qb.QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.5])
            .simulations(30)
            .bootstrap_reps(0)
            .seed(42)
        )

    assert build()._fit_engine == "auto"
    r_auto = build().run()
    r_driver = build().fit_engine("driver").run()
    # under the limit auto == driver, draw-for-draw
    assert (
        r_auto.results_by_quantile["q50"].total_gap.estimate
        == r_driver.results_by_quantile["q50"].total_gap.estimate
    )

    # shrink the limit: auto must route to the distributed engine (and the
    # explicit driver engine must raise BEFORE collecting)
    monkeypatch.setattr(qb, "COLLECT_LIMIT_CELLS", 10)
    r_dist = build().run()
    r_gram = build().fit_engine("distributed").run()
    assert (
        r_dist.results_by_quantile["q50"].total_gap.estimate
        == r_gram.results_by_quantile["q50"].total_gap.estimate
    )
    with pytest.raises(Exception, match="collect limit"):
        build().fit_engine("driver").run()


def test_machado_mata_gram_engine_releases_its_pins(spark):
    """The distributed engine's checkpoint (the projected design its row
    passes read) is dropped once the picks are read: three runs
    leave no new persistent RDD. Compared by id, because the context
    cleaner may meanwhile drop blocks that earlier tests left."""
    jsc = spark.sparkContext._jsc
    df = tied_mm_df(spark)
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(3):
        (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.5])
            .simulations(10)
            .bootstrap_reps(1)
            .fit_engine("distributed")
            .run()
        )
        assert set(jsc.getPersistentRDDs().keySet()) - before == set()


@pytest.mark.parametrize("reps", [0, 2])
def test_machado_mata_distributed_pass_count_is_fixed(spark, reps):
    """The distributed engine runs a fixed number of Spark jobs whatever the
    tau draw: 2 for the group levels, 1 pinning the design, 2 counting each
    side's rows per partition, then 3 row passes (the subsample rows, the
    globs of the one wave, the simulation picks): 8 jobs. Every fit of this
    panel keeps its globs' signs provably, so the sign-check pass (one more
    job, and one per fix-up round) never runs."""
    df = _continuous_mm_df(spark, 4000)
    sc = spark.sparkContext
    counts = []
    for seed in (1, 2):
        group = f"mm-pass-count-{reps}-{seed}"
        sc.setJobGroup(group, "Machado-Mata pass count")
        try:
            (
                QuantileDecompositionBuilder(df, "wage", "gender", "F")
                .predictors(["education"])
                .quantiles([0.5])
                .simulations(20)
                .bootstrap_reps(reps)
                .seed(seed)
                .fit_engine("distributed")
                .run()
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts == [8, 8]


def test_machado_mata_failed_replicate_warning_names_the_callers_line(spark, monkeypatch):
    """Through the ``api`` facade the failed-replicate warning is attributed
    to the caller's line, not to ``quantile_builder.py`` or ``api.py``."""
    import oaxaca_blinder_rs_spark.quantile_builder as qb

    bad = set(qb.mm_tau_stream(42, 20, rep=1).tolist())
    real = qb.solve_qr_exact

    def flaky(X, y, tau):
        if tau in bad:
            raise RuntimeError("forced fit failure")
        return real(X, y, tau)

    monkeypatch.setattr(qb, "solve_qr_exact", flaky)
    mm = OaxacaBlinder(tied_mm_df(spark), "wage", "gender", "F", predictors=["education"], bootstrap_reps=3)
    with pytest.warns(UserWarning, match="1 out of 3 bootstrap replications failed") as record:
        mm.fit_machado_mata([0.5], simulations=20)
    assert next(w for w in record if "bootstrap replications failed" in str(w.message)).filename == __file__


def test_machado_mata_program_errors_propagate(spark, monkeypatch):
    """Only numeric failures count as failed fits: a TypeError in the solver
    reaches the caller instead of "Failed to estimate a sufficient number of
    quantile regressions"."""
    import oaxaca_blinder_rs_spark.quantile_builder as qb

    def broken(X, y, tau):
        raise TypeError("solver bug")

    monkeypatch.setattr(qb, "solve_qr_exact", broken)
    b = (
        QuantileDecompositionBuilder(tied_mm_df(spark), "wage", "gender", "F")
        .predictors(["education"])
        .quantiles([0.5])
        .simulations(10)
        .bootstrap_reps(0)
        .fit_engine("driver")
    )
    with pytest.raises(TypeError, match="solver bug"):
        b.run()


def _check_loss(X, y, beta, tau):
    r = y - X @ beta
    return float(np.sum(np.where(r >= 0, tau * r, (tau - 1.0) * r)))


def _enumerated_optimum(X, y, tau):
    """The LP optimum by brute force: the least check loss over the planes
    through every k rows with a nonsingular design."""
    combos = np.array(list(itertools.combinations(range(len(y)), X.shape[1])))
    XB = X[combos]
    ok = np.abs(np.linalg.det(XB)) > 1e-9
    betas = np.linalg.solve(XB[ok], y[combos[ok]][..., None])[..., 0]
    r = y[None, :] - betas @ X.T
    return float(np.min(np.sum(np.where(r >= 0, tau * r, (tau - 1.0) * r), axis=1)))


def test_qr_exact_reaches_the_optimum_on_every_tied_fit():
    """Every fit the driver engine makes on the tied fixture (replicates -1,
    0 and 1, both sides, S=40, seed 42, exact-n resamples) attains the
    enumerated LP optimum. Tied rows put k+1 or more distinct points on
    many vertices' planes, where the 2k edge derivatives alone can certify a
    non-optimal vertex."""
    edu, wage, gender = np.array(TIED_EDU), np.array(TIED_WAGE), np.array(TIED_GENDER)
    sides = [(np.column_stack([np.ones(m.sum()), edu[m]]), wage[m]) for m in (gender == "M", gender == "F")]
    for rep in (-1, 0, 1):
        for side, (X, y) in enumerate(sides):
            if rep >= 0:
                idx = exact_n_index(42, rep, side, len(y))
                X, y = X[idx], y[idx]
            for tau in mm_tau_stream(42, 40, rep):
                got = _check_loss(X, y, solve_qr_exact(X, y, tau), tau)
                assert got == pytest.approx(_enumerated_optimum(X, y, tau), rel=1e-12), (rep, side, tau)


def test_qr_exact_reaches_the_optimum_on_an_integer_design():
    """k=3 with integer predictors and outcome: degenerate vertices
    everywhere; every fit attains the 3-point enumerated optimum."""
    rng = np.random.default_rng(3)
    n = 24
    X = np.column_stack([np.ones(n), rng.integers(0, 4, n), rng.integers(0, 3, n)]).astype(float)
    y = (X[:, 1] + 2.0 * X[:, 2] + rng.integers(-2, 3, n)).astype(float)
    for tau in (0.1, 0.25, 0.5, 0.75, 0.9):
        got = _check_loss(X, y, solve_qr_exact(X, y, tau), tau)
        assert got == pytest.approx(_enumerated_optimum(X, y, tau), rel=1e-12), tau


def test_qr_exact_certifies_a_vertex_of_the_flat_face():
    """The 4-point face of test_qr_degenerate_tie_case_bounded: the exact
    solver returns an optimal vertex (loss 1.0) with its certified basis."""
    X = np.array([[1.0, 0.0], [1.0, 0.0], [1.0, 1.0], [1.0, 1.0]])
    y = np.array([0.0, 1.0, 0.0, 1.0])
    beta, basis = solve_qr_exact(X, y, 0.5, return_basis=True)
    assert _check_loss(X, y, beta, 0.5) == pytest.approx(1.0, rel=1e-12)
    assert basis is not None and len(basis) == 2
    np.testing.assert_allclose(X[basis] @ beta, y[basis], atol=1e-12)


def test_qr_exact_needs_no_irls_on_continuous_data(monkeypatch):
    """On a continuous design every vertex is simple, so the line-search
    path certifies the optimum by itself: with IRLS disabled the solver
    still returns a certified basis."""

    def no_irls(*args, **kwargs):
        raise AssertionError("IRLS ran on a continuous design")

    monkeypatch.setattr(quantile_regression, "solve_qr", no_irls)
    rng = np.random.default_rng(11)
    n = 5000
    x = rng.uniform(8.0, 20.0, n)
    X = np.column_stack([np.ones(n), x])
    y = 5.0 + 1.5 * x + rng.normal(0.0, 3.0, n)
    for tau in (0.1, 0.5, 0.9):
        beta, basis = solve_qr_exact(X, y, tau, return_basis=True)
        assert basis is not None
        np.testing.assert_allclose(X[basis] @ beta, y[basis], atol=1e-9)


@pytest.mark.parametrize("outlier", [1e4, 1e5])
def test_qr_exact_is_not_misled_by_one_large_outcome(outlier):
    """One huge y must not widen the solver's zero tolerance until ordinary
    rows count as on the plane. The reference moves the outlier in to 20,
    still above every fitted plane: a row's y moving along its own side
    leaves the LP optimum where it is, so both problems share an optimum."""
    rng = np.random.default_rng(2)
    n = 5000
    edu, exper = rng.uniform(8.0, 20.0, n), rng.uniform(0.0, 30.0, n)
    X = np.column_stack([np.ones(n), edu, exper])
    y = 1.0 + 0.08 * edu + 0.02 * exper + rng.normal(0.0, 0.05, n)
    y_in = y.copy()
    y[7], y_in[7] = outlier, 20.0
    for tau in np.random.default_rng(102).uniform(0.01, 0.99, 19):
        ref = solve_qr_exact(X, y_in, tau)
        assert y_in[7] - X[7] @ ref > 0.0
        got = _check_loss(X, y, solve_qr_exact(X, y, tau), tau)
        assert got <= _check_loss(X, y, ref, tau) * (1.0 + 1e-13), tau


def _two_sides(seed=5):
    """Two continuous sides (3,000 and 2,500 rows, k = 3) held as arrays."""
    rng = np.random.default_rng(seed)
    X, y = [], []
    for n, shift in ((3000, 0.0), (2500, 1.0)):
        x = rng.uniform(8.0, 20.0, (n, 2))
        X.append(np.column_stack([np.ones(n), x]))
        y.append(shift + 0.5 * x[:, 0] - 0.2 * x[:, 1] + rng.standard_t(3, n))
    return X, y


@pytest.mark.parametrize("band, row_block", [(None, None), (0.2, None), (None, 700)])
def test_globbed_fits_reach_the_full_lp_optimum(monkeypatch, band, row_block):
    """Every globbed fit (replicates -1 and 0, both sides) attains the check
    loss of the exact solve on all of its rows. At the default band every
    fit's globs provably keep their signs, so one row pass suffices; a
    narrow band (0.2) makes globbed rows change sign, so the sign-check
    pass and the fix-up rounds are exercised too. Row blocks of 700 sum the
    globs from several blocks, as partitions do in Spark."""
    from concurrent.futures import ThreadPoolExecutor

    import oaxaca_blinder_rs_spark.quantile_builder as qb

    rounds = []
    real_split = qb._split
    monkeypatch.setattr(qb, "_split", lambda em: rounds.append(1) or real_split(em))
    if band is not None:
        monkeypatch.setattr(qb, "BAND", band)
    if row_block is not None:
        monkeypatch.setattr(qb, "ROW_BLOCK", row_block)
    X, y = _two_sides()
    ns, rows, row_pass = qb._array_rows(X, y)
    taus = {r: mm_tau_stream(9, 6, r) for r in (-1, 0)}
    with ThreadPoolExecutor(2) as pool:
        betas = qb._fit_globbed(9, 3, ns, taus, rows, row_pass, pool)
    assert len(rounds) == 1 if band is None else len(rounds) > 2
    for (rep, side), bs in betas.items():
        Xs, ys = X[side], y[side]
        if rep >= 0:
            idx = exact_n_index(9, rep, side, len(ys))
            Xs, ys = Xs[idx], ys[idx]
        assert len(bs) == len(taus[rep])
        for tau, b in zip(taus[rep], bs):
            want = _check_loss(Xs, ys, solve_qr_exact(Xs, ys, tau), tau)
            assert _check_loss(Xs, ys, b, tau) == pytest.approx(want, rel=1e-12), (rep, side, tau)


def test_machado_mata_engines_agree_through_fix_up_rounds(spark, monkeypatch):
    """With a band narrow enough to force fix-up rounds, the distributed
    engine's extra sign-check passes still reproduce the driver engine."""
    import oaxaca_blinder_rs_spark.quantile_builder as qb

    monkeypatch.setattr(qb, "BAND", 0.2)
    rounds = []
    real_split = qb._split
    monkeypatch.setattr(qb, "_split", lambda em: rounds.append(1) or real_split(em))
    df = _continuous_mm_df(spark, 3000, seed=4)

    def build(engine):
        return (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.25, 0.5, 0.75])
            .simulations(12)
            .bootstrap_reps(2)
            .seed(6)
            .fit_engine(engine)
            .run()
        )

    rd = build("driver")
    rounds.clear()
    rg = build("distributed")
    assert len(rounds) > 2  # the glob pass, a sign check with violators, and more
    for key, dd in rd.results_by_quantile.items():
        dg = rg.results_by_quantile[key]
        for cd, cg in ((dd.total_gap, dg.total_gap), (dd.characteristics_effect, dg.characteristics_effect)):
            assert cg.estimate == pytest.approx(cd.estimate, abs=1e-12), (key, cd.name)
            assert cg.std_err == pytest.approx(cd.std_err, rel=1e-9), (key, cd.name)


def test_sign_certificate_is_sound():
    """Whenever ``_keeps_signs`` certifies a move of the subsample fit,
    every globbed row keeps its sign at the moved fit, and it certifies
    small moves while refusing large ones."""
    from oaxaca_blinder_rs_spark.quantile_builder import _band_factor, _keeps_signs

    rng = np.random.default_rng(8)
    verdicts = []
    for _ in range(300):
        X = np.column_stack([np.ones(400), rng.normal(0.0, 1.0, (400, 2))])
        y = X @ np.array([1.0, 0.5, -0.3]) + rng.standard_t(4, 400)
        Xd = X[rng.choice(400, 60, replace=False)]
        A = _band_factor(Xd)
        beta = solve_qr(Xd, y[:60], 0.5)
        s = np.sqrt(((X @ A) ** 2).sum(axis=1))
        z = (y - X @ beta) / s
        lo, hi = np.quantile(z, [0.2, 0.8])
        delta = rng.normal(0.0, 1.0, 3) * 10.0 ** rng.uniform(-3.0, 0.0)
        ok = _keeps_signs(A, Xd, delta, lo, hi)
        verdicts.append(ok)
        if ok:
            r = y - X @ (beta + delta)
            assert (r[y - X @ beta < s * lo] < 0.0).all() and (r[y - X @ beta > s * hi] > 0.0).all()
    assert 0 < sum(verdicts) < len(verdicts)


def test_globbed_fits_run_in_waves_within_the_cell_budget(monkeypatch):
    """The driver holds the band rows of one wave of fits at a time. With a
    budget of a few fits, every row pass returns at most WAVE_CELLS cells
    (k + 5 a row, as the pass emits them), the 48 globbed fits take several
    waves, and they equal the fits of a single wave."""
    from concurrent.futures import ThreadPoolExecutor

    import oaxaca_blinder_rs_spark.quantile_builder as qb

    X, y = _two_sides()
    taus = {r: mm_tau_stream(9, 8, r) for r in (-1, 0, 1)}

    def fit():
        ns, rows, row_pass = qb._array_rows(X, y)
        with ThreadPoolExecutor(2) as pool:
            return qb._fit_globbed(9, 3, ns, taus, rows, row_pass, pool)

    whole = fit()
    cells = []
    real_split = qb._split
    monkeypatch.setattr(qb, "_split", lambda em: cells.append(len(em["fit"]) * 8) or real_split(em))
    monkeypatch.setattr(qb, "WAVE_CELLS", 40_000)
    waved = fit()
    assert len(cells) >= 6 and max(cells) <= 40_000, cells
    assert waved.keys() == whole.keys()
    for key, bs in whole.items():
        np.testing.assert_allclose(np.array(waved[key]), np.array(bs), rtol=0, atol=1e-9)
