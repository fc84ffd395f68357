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
    """The distributed Gram-Newton engine: same identities, comparable
    estimates to the driver engine on the same data."""
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


def test_machado_mata_gram_vs_driver_parity(spark):
    """The Gram-Newton and driver engines share taus, resample streams and
    simulation picks — so they differ only through the QR solver. Bound 2.0
    (~20% of the gap): this fixture's tied rows create genuinely FLAT
    optimal faces (see test_qr_degenerate_tie_case_bounded); the driver's
    solve_qr_exact lands on an LP VERTEX of the face while the Gram engine
    minimizes the h-smoothed loss whose unique optimum sits near the face's
    center — the maximal possible argmin spread, by construction. On
    non-degenerate real data the driver engine is LP-exact
    (test_machado_mata_matches_independent_oracle at 1e-6) and the Gram
    engine matches the exact-vertex oracle within its documented smoothed
    bound (test_machado_mata_gram_engine_matches_independent_oracle)."""
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
        assert dg.total_gap.estimate == pytest.approx(dd.total_gap.estimate, abs=2.0)
        assert dg.characteristics_effect.estimate == pytest.approx(
            dd.characteristics_effect.estimate, abs=2.0
        )
        assert dg.total_gap.std_err == pytest.approx(dd.total_gap.std_err, abs=2.0)


def test_machado_mata_engines_share_bootstrap_streams(spark):
    """On a continuous (tie-free) panel both engines' QR fits land within
    ~0.1% of each other, and every replicate reads the same taus, resample
    and picks, so the bootstrap SEs agree to 10% — far inside the ~35%
    sampling spread of an SE from 4 replicates that independent streams
    would leave between them."""
    rng = np.random.default_rng(3)
    n = 2000
    edu = rng.uniform(8.0, 20.0, n)
    grp = np.where(rng.random(n) < 0.5, "F", "M")
    wage = 5.0 + 1.5 * edu + np.where(grp == "F", 0.0, 4.0) + rng.normal(0, 3.0, n)
    df = spark.createDataFrame(
        list(zip(wage.tolist(), edu.tolist(), grp.tolist())), ["wage", "education", "gender"]
    )

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
            assert cg.std_err == pytest.approx(cd.std_err, rel=0.1), (key, cd.name)
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
    """Gram-engine bootstrap (multiplicity-weighted resamples): finite SEs,
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
    collect limit and silently falls back to the distributed Gram engine
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


def test_gram_adaptive_anneal_start(spark):
    """r13: the per-model adaptive anneal start (GRAM_H0_ADAPT_FRAC). Two
    laws: (1) large well-conditioned data takes the shortened schedule and
    the answer does not move vs the proven schedule (the anneal start is
    globalization only — the converged point is the unique optimum of the
    TARGET-h loss); (2) the small tied parity fixture NEVER takes the fast
    path (kernel-mass guard), so the r8/r12 stranding class is structurally
    excluded."""
    import oaxaca_blinder_rs_spark.quantile_builder as qb

    rng = np.random.default_rng(7)
    n = 4000
    edu = rng.uniform(8.0, 20.0, n)
    grp = np.where(rng.random(n) < 0.5, "F", "M")
    wage = 5.0 + 1.5 * edu + np.where(grp == "F", 0.0, 4.0) + rng.normal(0, 3.0, n)
    df = spark.createDataFrame(
        list(zip(wage.tolist(), edu.tolist(), grp.tolist())),
        ["wage", "education", "gender"],
    )

    def build():
        return (
            QuantileDecompositionBuilder(df, "wage", "gender", "F")
            .predictors(["education"])
            .quantiles([0.5])
            .simulations(20)
            .bootstrap_reps(2)
            .seed(11)
            .fit_engine("distributed")
        )

    b_fast = build()
    r_fast = b_fast.run()
    assert b_fast._gram_adapt_fast > 0  # the fast path actually engaged

    saved = qb.GRAM_ADAPT_MIN_KERNEL_MASS
    try:
        qb.GRAM_ADAPT_MIN_KERNEL_MASS = float("inf")  # pre-r13 schedule
        b_slow = build()
        r_slow = b_slow.run()
        assert b_slow._gram_adapt_fast == 0
    finally:
        qb.GRAM_ADAPT_MIN_KERNEL_MASS = saved
    df_, ds_ = r_fast.results_by_quantile["q50"], r_slow.results_by_quantile["q50"]
    assert df_.total_gap.estimate == pytest.approx(ds_.total_gap.estimate, abs=1e-6)
    assert df_.total_gap.std_err == pytest.approx(ds_.total_gap.std_err, abs=1e-6)
    assert df_.characteristics_effect.estimate == pytest.approx(
        ds_.characteristics_effect.estimate, abs=1e-6
    )

    # law 2: the tied small-n fixture measures kernel mass ~3.6 << 64 on
    # every (rep, side) and must stay on the proven 0.5 start
    wage_t = [10.0, 12.0, 11.0, 13.0, 15.0, 20.0, 22.0, 21.0, 23.0, 25.0] * 4
    edu_t = [12.0, 16.0, 14.0, 16.0, 18.0] * 8
    gender_t = (["F"] * 5 + ["M"] * 5) * 4
    df_t = spark.createDataFrame(
        list(zip(wage_t, edu_t, gender_t)), ["wage", "education", "gender"]
    )
    b_t = (
        QuantileDecompositionBuilder(df_t, "wage", "gender", "F")
        .predictors(["education"])
        .quantiles([0.5])
        .simulations(10)
        .bootstrap_reps(2)
        .seed(42)
        .fit_engine("distributed")
    )
    b_t.run()
    assert b_t._gram_adapt_fast == 0


def test_machado_mata_gram_engine_releases_its_pins(spark):
    """The Gram engine's checkpoints (the ranked design and the Newton
    passes' projection) are dropped once the picks are read: three runs
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
