"""Property-based tests (hypothesis) for the algebraic identities the
reference's test suite relies on (SURVEY §5: decomposition sums, Yun
invariance, allocation feasibility) — on random inputs, not fixtures.

Driver-side NumPy mirrors of the k-vector arithmetic are exercised directly
(no Spark in the loop: hypothesis generates hundreds of cases; identities are
pure driver math by design). The input-guard tests at the end run the builder
on small Spark frames."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from oaxaca_blinder_rs_spark import NonNumericData, OaxacaBuilder
from oaxaca_blinder_rs_spark.operators import decomposition as dec
from oaxaca_blinder_rs_spark.operators.bootstrap import bootstrap_stats
from oaxaca_blinder_rs_spark.operators.quantile_regression import solve_qr


def vec(k):
    return st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=k, max_size=k
    ).map(np.array)


@given(xa=vec(4), xb=vec(4), ba=vec(4), bb=vec(4))
@settings(max_examples=200, deadline=None)
def test_two_fold_sums_to_total(xa, xb, ba, bb):
    """explained + unexplained == xa'ba - xb'bb for ANY beta* (here beta_b)."""
    tf = dec.two_fold_decomposition(xa, xb, ba, bb, bb)
    total = float(xa @ ba - xb @ bb)
    assert abs(tf.explained + tf.unexplained - total) < 1e-7


@given(xa=vec(4), xb=vec(4), ba=vec(4), bb=vec(4))
@settings(max_examples=200, deadline=None)
def test_three_fold_sums_to_total(xa, xb, ba, bb):
    th = dec.three_fold_decomposition(xa, xb, ba, bb)
    total = float(xa @ ba - xb @ bb)
    assert abs(th.endowments + th.coefficients + th.interaction - total) < 1e-7


@given(xa=vec(5), xb=vec(5), ba=vec(5), bb=vec(5), bs=vec(5))
@settings(max_examples=200, deadline=None)
def test_detailed_sums_to_aggregate(xa, xb, ba, bb, bs):
    tf = dec.two_fold_decomposition(xa, xb, ba, bb, bs)
    d_exp, d_unexp = dec.detailed_decomposition(xa, xb, ba, bb, bs, [f"v{i}" for i in range(5)])
    assert abs(sum(d_exp.values()) - tf.explained) < 1e-7
    assert abs(sum(d_unexp.values()) - tf.unexplained) < 1e-7


@given(
    beta=vec(4),
    means=st.lists(st.floats(min_value=0.0, max_value=1.0, allow_nan=False), min_size=4, max_size=4),
    m=st.integers(min_value=2, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_yun_normalization_preserves_fitted_values(beta, means, m):
    """normalization.rs:53-111 invariance: intercept shift cancels the dummy
    shifts at any dummy-mean vector that sums appropriately."""
    names = ["__ob_intercept__", "sector_b", "sector_c", "other"]
    b = beta.copy()
    base = dec.normalize_categorical_coefficients(b, names, ["sector"], {"sector": m})
    # fitted value at a point: intercept*1 + sector dummies + other stays equal
    x = np.array([1.0, means[1], means[2], means[3]])
    orig = float(beta @ x)
    shifted = float(b @ x)
    mean_shift = (beta[1] + beta[2]) / m
    # fitted values move by mean_shift * (1 - sum(dummy values)) = base-cat part
    expected_delta = mean_shift * (1.0 - means[1] - means[2])
    assert abs((shifted - orig) - expected_delta) < 1e-7
    assert abs(base["sector"] + mean_shift) < 1e-12


@given(
    estimates=st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=2, max_size=200)
)
@settings(max_examples=200, deadline=None)
def test_bootstrap_stats_properties(estimates):
    se, p, (lo, hi) = bootstrap_stats(estimates, 0.0)
    assert se >= 0.0
    assert 0.0 <= p <= 1.0
    assert lo <= hi
    assert min(estimates) <= lo and hi <= max(estimates)


@given(
    n=st.integers(min_value=30, max_value=200),
    a=st.floats(min_value=-10, max_value=10, allow_nan=False),
    b=st.floats(min_value=-10, max_value=10, allow_nan=False),
    tau=st.floats(min_value=0.1, max_value=0.9),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=30, deadline=None)
def test_qr_exact_on_noiseless_line(n, a, b, tau, seed):
    """QR at any tau recovers the exact line on noiseless data (the
    reference's quantile_regression.rs:131-171 property, generalized)."""
    rng = np.random.default_rng(seed)
    x = rng.uniform(-5, 5, n)
    X = np.column_stack([np.ones(n), x])
    y = a + b * x
    beta = solve_qr(X, y, tau)
    assert abs(beta[0] - a) < 1e-3
    assert abs(beta[1] - b) < 1e-3


@given(
    resids=st.lists(st.floats(min_value=-1000, max_value=1000, allow_nan=False), min_size=1, max_size=50),
    budget=st.floats(min_value=0.0, max_value=5000.0, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_greedy_allocation_feasibility(resids, budget):
    """The prefix-sum greedy never overspends and never overpays a row
    (types.rs:98-156 invariants) — driver mirror of the window formula."""
    cands = sorted([r for r in resids if r < 0])
    cum = 0.0
    total = 0.0
    for r in cands:
        need = -r
        pay = min(need, max(budget - cum, 0.0))
        if pay > 1e-9:
            assert pay <= need + 1e-12
            total += pay
        cum += need
    assert total <= budget + 1e-9 or abs(total - budget) < 1e-6


def test_sketch_properties_fuzzed(spark):
    """Property fuzz over random string corpora (fixed seeds): CMS never
    undercounts any value; bloom never false-negatives; HLL registers are
    permutation-invariant (shuffled input -> identical sketch)."""
    import random

    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators import sketches

    rng = random.Random(20260814)
    vals = [f"v{rng.randint(0, 300)}" for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "u string").repartition(8)
    truth = {}
    for v in vals:
        truth[v] = truth.get(v, 0) + 1
    cms = sketches.cms_table(df, "u", w=64, d=3)
    probes = spark.createDataFrame([(v,) for v in set(vals)], "u string")
    est = {r["value"]: r["estimate"]
           for r in sketches.cms_estimate(cms, probes, "u", w=64, d=3).collect()}
    assert all(est[v] >= truth[v] for v in truth)
    bloom = sketches.bloom_build(df, "u", m_bits=1024, k=4)
    mem = {r["value"]: r["maybe_present"]
           for r in sketches.bloom_maybe_contains(bloom, probes, "u", m_bits=1024, k=4).collect()}
    assert all(mem[v] for v in truth)
    shuffled = list(vals)
    rng.shuffle(shuffled)
    df2 = spark.createDataFrame([(v,) for v in shuffled], "u string").repartition(3)
    r1 = sorted((r["register"], r["rho"]) for r in sketches.hll_registers(df, "u", 6).collect())
    r2 = sorted((r["register"], r["rho"]) for r in sketches.hll_registers(df2, "u", 6).collect())
    assert r1 == r2


def test_mg_heavy_hitters_fuzzed(spark):
    """Property fuzz (fixed seeds) for the round-10 Misra-Gries family:
    over random zipf-ish corpora and random (k, capacity, partitions),
    whenever heavy_hitters returns (the guard passes) the result EQUALS the
    brute-force groupBy top-k with the same tie-break; when the guard
    raises, the eviction bound genuinely swallowed the rank-k count. Also:
    the pass-1 superset property holds on every draw."""
    import random

    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators import sketches

    rng = random.Random(20260816)
    for trial in range(6):
        n_keys = rng.randint(5, 120)
        n_rows = rng.randint(200, 1500)
        # zipf-ish skew: key i drawn with weight ~ 1/(i+1)
        weights = [1.0 / (i + 1) for i in range(n_keys)]
        vals = rng.choices([f"k{i}" for i in range(n_keys)], weights=weights, k=n_rows)
        parts = rng.choice([1, 3, 8])
        cap = rng.choice([2, 8, 32, 256])
        k = rng.randint(1, 10)
        df = spark.createDataFrame([(v,) for v in vals], "t string").repartition(parts)
        truth = {}
        for v in vals:
            truth[v] = truth.get(v, 0) + 1
        want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

        p1 = sketches.mg_summaries(df, "t", capacity=cap).collect()
        u = sum(r.mg_est for r in p1 if r.key is None)
        survivors = {r.key for r in p1 if r.key is not None}
        for key, n in truth.items():
            if n > u:
                assert key in survivors, (trial, key, n, u)

        try:
            got = [
                (r.key, r.n_exact)
                for r in sketches.heavy_hitters(df, "t", k=k, capacity=cap).collect()
            ]
        except Exception as e:
            msg = str(e)
            assert "not provably exact" in msg or "no candidate survived" in msg, (trial, e)
            # the guard's own premise: rank-k exact count <= U
            assert want[-1][1] <= u, (trial, want[-1], u)
            continue
        assert got == want, (trial, parts, cap, k)


@given(
    ns=st.lists(st.integers(min_value=1, max_value=10**7), min_size=1, max_size=12),
    alpha=st.floats(min_value=0.05, max_value=1.5, allow_nan=False),
    tf=st.floats(min_value=0.01, max_value=1.0, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_water_fill_rates_laws(ns, alpha, tf):
    """water_fill_rates (r11): the defining laws hold for ANY group sizes —
    (1) every rate in (0, 1]; (2) expected kept mass == tf * N whenever no
    cap binds, and >= the uncapped target minus rounding when caps bind
    (saturated groups contribute everything they have); (3) unsaturated
    groups share one proportionality constant; (4) alpha <= 1 => smaller
    groups never get a lower rate than bigger ones (the balancing
    direction); (5) tf = 1 keeps everything."""
    from oaxaca_blinder_rs_spark.operators.sampling import water_fill_rates

    counts = [(f"g{i}", n) for i, n in enumerate(ns)]
    rates = water_fill_rates(counts, alpha, tf)
    N = float(sum(ns))
    assert all(0.0 < r <= 1.0 for _, _, r in rates)
    mass = sum(n * r for _, n, r in rates)
    target = tf * N
    if all(r < 1.0 for _, _, r in rates):
        assert abs(mass - target) <= 2e-6 * N + 1e-9  # 6-dp rate rounding
    else:
        # caps bind: realized mass still hits the target unless EVERY group
        # saturated (target infeasible under the caps only when tf*N >= N,
        # i.e. tf == 1 up to rounding)
        if any(r < 1.0 for _, _, r in rates):
            assert mass >= target - 2e-6 * N - 1e-9
    free = [(n, r) for _, n, r in rates if r < 1.0]
    if len(free) >= 2:
        # rates carry +-5e-7 of 6-dp rounding; propagate that through each
        # group's own n^(alpha-1) when comparing the implied constants
        n0, r0 = free[0]
        c0 = r0 / (n0 ** (alpha - 1.0))
        for n, r in free[1:]:
            c = r / (n ** (alpha - 1.0))
            tol = 5.1e-7 / (n ** (alpha - 1.0)) + 5.1e-7 / (n0 ** (alpha - 1.0)) + 1e-12
            assert abs(c - c0) <= tol, (n, r, c, c0, tol)
    if alpha <= 1.0:
        by_n = sorted(((n, r) for _, n, r in rates))
        for (n1, r1), (n2, r2) in zip(by_n, by_n[1:]):
            if n1 < n2:
                assert r1 >= r2 - 2e-6  # smaller group, no lower rate
    full = water_fill_rates(counts, alpha, 1.0)
    assert all(r == 1.0 for _, _, r in full)


def test_water_fill_rates_empty_group(ss=None):
    """r12 (ADVICE): an n == 0 group must not blow up 0**(alpha-1) for
    alpha < 1 — it short-circuits to rate 0 and the remaining groups solve
    exactly as if it were absent; negative counts are rejected."""
    from oaxaca_blinder_rs_spark.operators.sampling import water_fill_rates

    import pytest as _pytest

    with_empty = water_fill_rates([("en", 100), ("xx", 0), ("fr", 10)], 0.3, 0.5)
    without = water_fill_rates([("en", 100), ("fr", 10)], 0.3, 0.5)
    assert dict((g, r) for g, _n, r in with_empty)["xx"] == 0.0
    assert [(g, n, r) for g, n, r in with_empty if g != "xx"] == without
    assert water_fill_rates([("xx", 0)], 0.3, 0.5) == [("xx", 0, 0.0)]
    with _pytest.raises(ValueError, match=">= 0"):
        water_fill_rates([("en", -1)], 0.3, 0.5)


# ---- input guards on the builder (Spark, small frames) ----------------------


def _edu_frame(spark, groups, edu_inf_row=None, y_inf_row=None):
    rng = np.random.default_rng(0)
    n = 200
    g = [groups[i % len(groups)] for i in range(n)]
    edu = rng.normal(12.0, 2.0, n)
    y = 1.0 + 0.1 * edu + rng.normal(0.0, 0.1, n)
    if edu_inf_row is not None:
        edu[edu_inf_row] = np.inf
    if y_inf_row is not None:
        y[y_inf_row] = np.inf
    rows = [(a, float(b), float(c)) for a, b, c in zip(g, edu, y)]
    return spark.createDataFrame(rows, "g string, edu double, y double")


@pytest.mark.parametrize("path", ["mean", "rif"])
@pytest.mark.parametrize("column", ["edu", "y"])
def test_infinite_values_raise_non_numeric(spark, path, column):
    """An infinite predictor or outcome is refused on the mean and RIF
    paths instead of yielding an infinite (or silently filtered) result."""
    df = _edu_frame(spark, ["A", "B"], **{f"{column}_inf_row": 5})
    b = OaxacaBuilder(df, "y", "g", "B").predictors(["edu"]).bootstrap_reps(0)
    with pytest.raises(NonNumericData, match="infinite values") as err:
        b.run() if path == "mean" else b.decompose_quantile(0.5)
    assert err.value.column == column


def test_extra_group_levels_are_dropped_with_a_warning(spark):
    """Levels beyond group A and the reference are left out of the
    comparison; the caller is told which ones."""
    df = _edu_frame(spark, ["A", "B", "C"])
    b = OaxacaBuilder(df, "y", "g", "C").predictors(["edu"]).bootstrap_reps(0)
    with pytest.warns(UserWarning, match=r"dropping \['B'\]"):
        res = b.run()
    assert res.n_a + res.n_b < 200
