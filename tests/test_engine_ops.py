"""Decision-layer tests mirroring engine/src/analysis.rs:1155-1443 behaviors:
mock-data decomposition, optimizer allocation, auto-budget, equitable
pro-rata, verify, frontier monotonicity, strict-cast errors."""

import math

import numpy as np
import pytest

from oaxaca_blinder_rs_spark.errors import NonNumericData
from oaxaca_blinder_rs_spark.operators import engine_ops as eo


def mock_df(spark):
    """analysis.rs:1159-1172-style: 20 copies of an 8-row block."""
    block = [
        (50000.0, 16.0, 10.0, "M", "Eng"),
        (52000.0, 16.0, 12.0, "M", "Eng"),
        (48000.0, 16.0, 8.0, "M", "Sales"),
        (51000.0, 18.0, 10.0, "M", "Eng"),
        (45000.0, 16.0, 10.0, "F", "Eng"),
        (46000.0, 16.0, 12.0, "F", "Eng"),
        (43000.0, 16.0, 8.0, "F", "Sales"),
        (45500.0, 18.0, 10.0, "F", "Eng"),
    ]
    rows = []
    for rep in range(20):
        for j, r in enumerate(block):
            rows.append((rep * 8 + j,) + r)
    return spark.createDataFrame(
        rows, "rid long, wage double, education double, experience double, gender string, department string"
    )


def test_run_decomposition_summary(spark):
    df = mock_df(spark)
    res = eo.run_decomposition(
        df, "wage", "gender", "M", ["education", "experience"], bootstrap_reps=10
    )
    s = res.data_summary
    assert s.total_count == 160
    assert s.group_a_count == 80 and s.group_b_count == 80  # A = reference (M)
    assert s.group_a_mean > s.group_b_mean
    # library gap convention: mean(non-ref F) - mean(ref M) < 0
    assert res.total_gap < 0
    assert abs(res.explained_gap + res.unexplained_gap - res.total_gap) < 1e-9


def test_optimize_auto_budget_closes_gaps(spark):
    """budget=0 => auto budget = total_need * 1.00001; every underpaid
    target-group row raised to its fair wage (analysis.rs:697-703)."""
    df = mock_df(spark)
    res = eo.optimize(df, "wage", "gender", "M", ["education", "experience"], id_col="rid")
    assert res.required_budget > 0
    assert abs(res.total_cost - res.required_budget) < 1e-6
    # every adjustment covers the full diff
    for a in res.adjustments:
        assert a.adjustment >= 0
        assert a.new_wage <= a.fair_wage_upper_bound + 1e-6
    # unexplained gap closes (convention: -net/n)
    assert abs(res.new_unexplained_gap) < abs(res.original_unexplained_gap) + 1e-9
    # new_gap moves toward zero from below
    assert res.new_gap > res.original_gap


def test_optimize_budget_limited_greedy(spark):
    df = mock_df(spark)
    full = eo.optimize(df, "wage", "gender", "M", ["education", "experience"], id_col="rid")
    half_budget = full.required_budget / 2.0
    res = eo.optimize(
        df, "wage", "gender", "M", ["education", "experience"], budget=half_budget, id_col="rid"
    )
    assert abs(res.total_cost - half_budget) < 1e-6
    # greedy: largest diffs paid first - the paid set's diffs dominate unpaid
    paid = [a for a in res.adjustments if a.adjustment > 1e-9]
    assert paid, "should pay someone"


def test_optimize_equitable_pro_rata(spark):
    df = mock_df(spark)
    full = eo.optimize(df, "wage", "gender", "M", ["education", "experience"], id_col="rid")
    res = eo.optimize(
        df, "wage", "gender", "M", ["education", "experience"],
        budget=full.required_budget / 2.0, strategy="equitable", id_col="rid",
    )
    # each eligible row gets ~coverage * diff; cost == budget * (1/1.0)
    assert abs(res.total_cost - full.required_budget / 2.0) < 1.0
    ratios = [
        a.adjustment / (a.fair_wage - a.current_wage)
        for a in res.adjustments
        if a.fair_wage - a.current_wage > 1e-6 and a.adjustment > 0
    ]
    assert ratios and max(ratios) - min(ratios) < 1e-6  # same coverage ratio


def test_optimize_forensic_includes_ineligible(spark):
    df = mock_df(spark)
    res = eo.optimize(
        df, "wage", "gender", "M", ["education", "experience"],
        forensic_mode=True, adjust_both_groups=False, id_col="rid",
    )
    zero_pay = [a for a in res.adjustments if a.adjustment == 0.0]
    assert zero_pay, "forensic mode includes ineligible rows with pay 0"


def test_verify_adjustments_shrinks_gap(spark):
    df = mock_df(spark)
    opt = eo.optimize(df, "wage", "gender", "M", ["education", "experience"], id_col="rid")
    before = eo.run_decomposition(df, "wage", "gender", "M", ["education", "experience"], bootstrap_reps=0)
    after = eo.verify_adjustments(
        df, [(a.index, a.adjustment) for a in opt.adjustments],
        "wage", "gender", "M", ["education", "experience"], bootstrap_reps=0, id_col="rid",
    )
    assert abs(after.total_gap) < abs(before.total_gap)


def test_frontier_monotone_t(spark):
    """engine tests: |t| of the group dummy shrinks as budget grows."""
    df = mock_df(spark)
    pts = eo.efficient_frontier(
        df, "wage", "gender", "M", ["education", "experience"], steps=10, id_col="rid"
    )
    assert len(pts) == 11
    assert pts[0].budget == 0.0
    abs_t = [abs(p.t_statistic) for p in pts]
    assert abs_t[0] > abs_t[-1]
    assert pts[0].is_significant  # big gap at zero budget
    # budgets strictly increasing
    budgets = [p.budget for p in pts]
    assert budgets == sorted(budgets)


def test_strict_cast_error(spark):
    rows = [(1, "50000", "16", "M"), (2, "oops", "16", "F"), (3, "52000", "18", "M"), (4, "41000", "12", "F")]
    df = spark.createDataFrame(rows, "rid long, wage string, education string, gender string")
    with pytest.raises(NonNumericData, match="wage"):
        eo.run_decomposition(df, "wage", "gender", "M", ["education"], bootstrap_reps=0)


def test_strict_cast_rejects_infinity(spark):
    """+-Infinity (as text or as a double) is refused by name, in the cast
    check's one aggregate, instead of surfacing later as a NaN estimate."""
    rows = [(1, "50000", "16", "M"), (2, "41000", "inf", "F"), (3, "52000", "18", "M"), (4, "43000", "12", "F")]
    df = spark.createDataFrame(rows, "rid long, wage string, education string, gender string")
    with pytest.raises(NonNumericData, match="'education' contains infinite values"):
        eo.run_decomposition(df, "wage", "gender", "M", ["education"], bootstrap_reps=0)
    rows = [(1, 50000.0, 16.0, "M"), (2, 41000.0, 12.0, "F"), (3, -math.inf, 18.0, "M"), (4, 43000.0, 12.0, "F")]
    df = spark.createDataFrame(rows, "rid long, wage double, education double, gender string")
    with pytest.raises(NonNumericData, match="'wage' contains infinite values"):
        eo.optimize(df, "wage", "gender", "M", ["education"], id_col="rid")


PREDS = ["education", "experience"]


def _company(spark, levels, n=240, seed=5):
    """Random wages with a per-level shift; ids shuffled against row order."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    g = rng.choice(levels, n)
    edu = np.round(rng.normal(16, 2, n), 1)
    exp = np.round(rng.uniform(0, 20, n), 1)
    shift = np.array([3000.0 * levels.index(x) for x in g])
    wage = 20000 + 1500 * edu + 800 * exp + shift + rng.normal(0, 4000, n)
    pdf = pd.DataFrame(
        {"rid": rng.permutation(n), "wage": wage, "education": edu, "experience": exp, "g": g}
    )
    return pdf, spark.createDataFrame(pdf)


def _np_schedule(pdf, ref):
    """Driver-side reference: fair wage from the reference rows' least
    squares, and the greedy order (largest gap first, id breaking ties) of
    the underpaid target rows with each row's preceding running total."""
    X = np.column_stack([np.ones(len(pdf))] + [pdf[p].to_numpy(float) for p in PREDS])
    y = pdf["wage"].to_numpy(float)
    is_ref = (pdf["g"] == ref).to_numpy()
    beta = np.linalg.pinv(X[is_ref].T @ X[is_ref]) @ (X[is_ref].T @ y[is_ref])
    diff = X @ beta - y
    ids = pdf["rid"].to_numpy()
    order = sorted(np.flatnonzero(~is_ref & (diff > 1e-6)), key=lambda i: (-diff[i], ids[i]))
    cum_prev = np.concatenate([[0.0], np.cumsum(diff[order])[:-1]])
    return X, y, is_ref, diff, ids, np.array(order, dtype=int), cum_prev


LEVELS = [(["F", "M"], "M"), (["A", "B", "C"], "B")]


@pytest.mark.parametrize("levels,ref", LEVELS)
@pytest.mark.parametrize("share", [None, 0.4])
def test_remediation_matches_sequential_greedy(spark, levels, ref, share):
    """(index, adjustment) equals a sequential greedy replay on the driver,
    and original_gap equals the library decomposition's total gap — with
    three levels too, where the builder's A is the first sorted non-reference
    level while the remediation targets every non-reference row."""
    from oaxaca_blinder_rs_spark.builder import OaxacaBuilder

    pdf, df = _company(spark, levels)
    full = eo.optimize(df, "wage", "g", ref, PREDS, id_col="rid")
    budget = 0.0 if share is None else share * full.required_budget
    res = full if share is None else eo.optimize(df, "wage", "g", ref, PREDS, budget=budget, id_col="rid")
    try:
        _, _, _, diff, ids, order, _ = _np_schedule(pdf, ref)
        left = budget if budget > 0 else full.required_budget * 1.00001
        want = {}
        for i in order:
            want[int(ids[i])] = min(diff[i], max(left, 0.0))
            left -= want[int(ids[i])]
        got = [(a.index, a.adjustment) for a in res.adjustments]
        assert [i for i, _ in got] == sorted(want)
        for i, v in got:
            assert v == pytest.approx(want[i], rel=1e-9, abs=1e-6), i
        assert res.total_cost == pytest.approx(sum(v for _, v in got), rel=1e-9)
        gap = (
            OaxacaBuilder(df, "wage", "g", ref).predictors(PREDS)
            .reference_coefficients("pooled").bootstrap_reps(0).run().total_gap
        )
        assert res.original_gap == pytest.approx(gap, rel=1e-12)
    finally:
        res.release()
        full.release()


@pytest.mark.parametrize("levels,ref", LEVELS)
def test_frontier_matches_numpy_pooled_ols(spark, levels, ref):
    """Every step's t-statistic equals a NumPy pooled OLS of y + paid_i(b)
    on [1, group dummy, X], paid_i(b) = clip(b - cum_prev_i, 0, gap_i)."""
    pdf, df = _company(spark, levels, seed=9)
    pts = eo.efficient_frontier(df, "wage", "g", ref, PREDS, steps=8, id_col="rid")
    X, y, is_ref, diff, _, order, cum_prev = _np_schedule(pdf, ref)
    Xp = np.column_stack([X[:, :1], (~is_ref).astype(float), X[:, 1:]])
    inv = np.linalg.inv(Xp.T @ Xp)
    for p in pts:
        yb = y.copy()
        yb[order] += np.clip(p.budget - cum_prev, 0.0, diff[order])
        beta = inv @ (Xp.T @ yb)
        resid = yb - Xp @ beta
        se = math.sqrt(resid @ resid / (len(yb) - Xp.shape[1]) * inv[1, 1])
        assert p.t_statistic == pytest.approx(beta[1] / se, rel=1e-9), p.budget


@pytest.mark.parametrize("levels,ref", LEVELS)
def test_driver_schedule_matches_prefix_scan(spark, monkeypatch, levels, ref):
    """Below ``COLLECT_LIMIT`` the greedy schedule is one collect ordered on
    the driver; with the limit set under the row count the same frame goes
    through the distributed prefix scan (``ordered_prev_cumsum``). Both give
    the same ``adjustments_df`` (columns, types, rows; payments within
    1e-9 x budget), required budget and frontier, at the auto budget, at a
    limited one and pro rata."""
    pdf, df = _company(spark, levels, seed=13)
    scans = []
    greedy_scan = eo._greedy_scan
    monkeypatch.setattr(eo, "_greedy_scan", lambda frame: scans.append(1) or greedy_scan(frame))

    def run():
        full = eo.optimize(df, "wage", "g", ref, PREDS, id_col="rid")
        budget = 0.4 * full.required_budget
        out = {"required": full.required_budget}
        for name, kw in (("auto", {}), ("limited", {"budget": budget}),
                         ("equitable", {"budget": budget, "strategy": "equitable"})):
            res = eo.optimize(df, "wage", "g", ref, PREDS, id_col="rid", **kw)
            table = res.adjustments_df
            out[name] = (table.dtypes, sorted(tuple(r) for r in table.collect()), res.total_cost)
            res.release()
        full.release()
        out["frontier"] = eo.efficient_frontier(df, "wage", "g", ref, PREDS, steps=8, id_col="rid")
        return out

    local = run()
    assert not scans
    monkeypatch.setattr(eo, "COLLECT_LIMIT", 10)
    scanned = run()
    assert len(scans) == 4  # three greedy remediations and the frontier
    budget = local["required"]
    assert scanned["required"] == pytest.approx(budget, rel=1e-12)
    for name in ("auto", "limited", "equitable"):
        (types, rows, cost), (want_types, want_rows, want_cost) = local[name], scanned[name]
        assert types == want_types and len(rows) == len(want_rows) > 0, name
        assert cost == pytest.approx(want_cost, rel=1e-12, abs=1e-9 * budget), name
        for got, want in zip(rows, want_rows):
            assert got[0] == want[0] and got[2] == want[2] and got[4:7] == want[4:7], (name, got, want)
            assert got[1] == pytest.approx(want[1], abs=1e-9 * budget), (name, got, want)
            assert got[3] == pytest.approx(want[3], abs=1e-9 * budget), (name, got, want)
            assert got[7] == want[7], (name, got, want)
    for got, want in zip(local["frontier"], scanned["frontier"]):
        assert got.budget == pytest.approx(want.budget, rel=1e-12)
        assert got.t_statistic == pytest.approx(want.t_statistic, rel=1e-9), got.budget


def test_defensibility(spark):
    df = mock_df(spark)
    opt = eo.optimize(df, "wage", "gender", "M", ["education", "experience"], id_col="rid")
    adj = [(a.index, a.adjustment) for a in opt.adjustments][:10]
    out = eo.check_defensibility(
        df, adj, "wage", "gender", "M", ["education", "experience"], id_col="rid"
    ).collect()
    assert len(out) == 10
    # raising toward the fair wage is defensible
    assert all(r["is_defensible"] for r in out)
    # a massive negative adjustment is not
    out2 = eo.check_defensibility(
        df, [(adj[0][0], -40000.0)], "wage", "gender", "M", ["education", "experience"], id_col="rid"
    ).collect()[0]
    assert not out2["is_defensible"]
    assert "below the fair-wage lower bound" in out2["defensibility_message"]


@pytest.mark.parametrize("levels,ref", LEVELS)
def test_data_summary_equals_pandas(spark, levels, ref):
    """The summary (A = the reference level, B = every other level) comes
    from the decomposition's stats pass and equals the frame's own counts
    and means, with a third level too."""
    pdf, df = _company(spark, levels, seed=11)
    s = eo.run_decomposition(df, "wage", "g", ref, PREDS, bootstrap_reps=0).data_summary
    is_ref = pdf["g"] == ref
    assert (s.total_count, s.group_a_count, s.group_b_count) == (len(pdf), is_ref.sum(), (~is_ref).sum())
    assert s.group_a_mean == pytest.approx(pdf.loc[is_ref, "wage"].mean(), rel=1e-12)
    assert s.group_b_mean == pytest.approx(pdf.loc[~is_ref, "wage"].mean(), rel=1e-12)


def test_bootstrap_keyed_on_id_col_ignores_partitioning(spark):
    """With ``id_col`` the replicates are drawn per row id, so the standard
    errors do not depend on how the frame is partitioned."""
    _, df = _company(spark, ["F", "M"], seed=13)

    def ses(frame):
        res = eo.run_decomposition(frame, "wage", "g", "M", PREDS, bootstrap_reps=30, id_col="rid")
        return [res.unexplained_standard_error] + [c.std_err for c in res.detailed_explained]

    for a, b in zip(ses(df.repartition(1)), ses(df.repartition(5))):
        assert a == pytest.approx(b, rel=1e-9)


def test_repeated_index_in_a_frame_is_summed(spark):
    """An ``index``/``adjustment`` frame that repeats an index applies the
    summed delta, as a list does: verify keeps one copy of the employee and
    defend returns one row per index, also with an override on a
    reference-group row."""
    pdf, df = _company(spark, ["F", "M"], seed=17)
    tgt = [int(i) for i in pdf.loc[pdf["g"] == "F", "rid"][:2]]
    ref_row = int(pdf.loc[pdf["g"] == "M", "rid"].iloc[0])
    twice = spark.createDataFrame(
        [(tgt[0], 500.0), (tgt[0], 500.0), (tgt[1], 250.0)], "index long, adjustment double"
    )
    summed = [(tgt[0], 1000.0), (tgt[1], 250.0)]

    def verify(adj):
        return eo.verify_adjustments(df, adj, "wage", "g", "M", PREDS, bootstrap_reps=0, id_col="rid")

    v_twice, v_summed = verify(twice), verify(summed)
    assert v_twice.data_summary.total_count == len(pdf)
    assert v_twice.total_gap == pytest.approx(v_summed.total_gap, rel=1e-12)
    assert v_twice.unexplained_gap == pytest.approx(v_summed.unexplained_gap, rel=1e-12)

    overrides = {tgt[0]: {"education": 20.0}, ref_row: {"experience": 1.0}}

    def defend(adj):
        rows = eo.check_defensibility(
            df, adj, "wage", "g", "M", PREDS, overrides=overrides, id_col="rid"
        ).orderBy("index").collect()
        return [r.asDict() for r in rows]

    d_twice, d_summed = defend(twice), defend(summed)
    assert [r["index"] for r in d_twice] == sorted(tgt)
    for a, b in zip(d_twice, d_summed):
        assert a == pytest.approx(b, rel=1e-12)


def test_defensibility_overrides_match_numpy(spark):
    """With overrides, two of them on reference-group rows, the fair wage
    and its lower bound equal a NumPy fit on the overridden reference rows,
    each adjusted row predicted at its overridden predictors."""
    from oaxaca_blinder_rs_spark.functions.mathx import norm_ppf_scalar

    pdf, df = _company(spark, ["F", "M"], seed=29)
    ref_ids = [int(i) for i in pdf.loc[pdf["g"] == "M", "rid"][:2]]
    tgt_ids = [int(i) for i in pdf.loc[pdf["g"] == "F", "rid"][:2]]
    overrides = {
        ref_ids[0]: {"education": 25.0},
        ref_ids[1]: {"education": 10.0, "experience": math.nan},
        tgt_ids[0]: {"experience": 3.0},
    }
    adj = [(tgt_ids[0], 700.0), (tgt_ids[1], 100.0), (ref_ids[0], 50.0)]
    got = eo.check_defensibility(
        df, adj, "wage", "g", "M", PREDS, overrides=overrides, id_col="rid"
    ).orderBy("index").collect()

    rows = pdf.set_index("rid")
    for rid, ov in overrides.items():
        for p, v in ov.items():
            if not math.isnan(v):
                rows.loc[rid, p] = v
    X = np.column_stack([np.ones(len(rows))] + [rows[p].to_numpy(float) for p in PREDS])
    is_ref = (rows["g"] == "M").to_numpy()
    xtx = X[is_ref].T @ X[is_ref]
    beta = np.linalg.pinv(xtx) @ (X[is_ref].T @ rows["wage"].to_numpy()[is_ref])
    resid = rows["wage"].to_numpy()[is_ref] - X[is_ref] @ beta
    sigma2 = resid @ resid / (is_ref.sum() - X.shape[1])
    cov = np.linalg.inv(xtx)
    assert [r["index"] for r in got] == sorted(i for i, _ in adj)
    for r in got:
        x = X[rows.index.get_loc(r["index"])]
        fair = x @ beta
        lower = fair - norm_ppf_scalar(0.975) * math.sqrt(sigma2 * (1 + x @ cov @ x))
        assert r["fair_wage"] == pytest.approx(fair, rel=1e-9)
        assert r["fair_wage_lower_bound"] == pytest.approx(lower, rel=1e-9)


def test_reused_stats_serve_only_their_frame_and_model(spark):
    """``reusing`` hands its stats only to calls on the frame object and the
    model spec it was set for; another frame or model is computed afresh."""
    _, df = _company(spark, ["F", "M"], seed=19)
    _, other = _company(spark, ["F", "M"], seed=23)

    def gap(frame, preds):
        return eo.run_decomposition(frame, "wage", "g", "M", preds, bootstrap_reps=0, id_col="rid").explained_gap

    stats = eo.ReviewStats(eo.model_spec("wage", "g", "M", PREDS, None))
    with eo.reusing(stats, df):
        gap(df, PREDS)
        filled = stats.point
        got = [gap(other, PREDS), gap(df, PREDS[:1])]
    assert filled is not None and stats.point is filled
    assert got == pytest.approx([gap(other, PREDS), gap(df, PREDS[:1])], rel=1e-12)


def test_ordered_prev_cumsum_matches_global_window(spark):
    """The distributed prefix sum must equal a driver-side sequential scan
    under the same ordering (ties broken by id) and keep the plan free of a
    SinglePartition exchange."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators.scan import ordered_prev_cumsum

    rng = np.random.default_rng(11)
    vals = np.round(rng.exponential(5.0, 4000), 1)  # ties
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    ).repartition(16)
    out = ordered_prev_cumsum(df, [F.col("v").desc(), F.col("id").asc()], F.col("v"), "cum")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    got = {r["id"]: r["cum"] for r in out.collect()}
    order = sorted(range(len(vals)), key=lambda i: (-vals[i], i))
    running = 0.0
    for i in order:
        assert got[i] == pytest.approx(running, rel=1e-12, abs=1e-9)
        running += vals[i]


def test_scan_primitives_randomized(spark):
    """Randomized cross-checks of the distributed-scan primitives against
    sequential references: varying sizes, duplicate-heavy values, and
    partition counts (including 1 and more partitions than rows)."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators.scan import grouped_dense_rank, ordered_prev_cumsum

    rng = np.random.default_rng(23)
    for trial in range(4):
        n = int(rng.integers(1, 800))
        nparts = int(rng.choice([1, 4, 16, 64]))
        vals = np.round(rng.normal(0, 3, n), 1)
        groups = rng.choice(["p", "q"], n)
        df = spark.createDataFrame(
            [(i, float(v), str(g)) for i, (v, g) in enumerate(zip(vals, groups))],
            "id long, v double, g string",
        ).repartition(nparts)

        got = {r["id"]: r["cum"] for r in
               ordered_prev_cumsum(df, [F.col("v").asc(), F.col("id").asc()], F.col("v"), "cum").collect()}
        order = sorted(range(n), key=lambda i: (vals[i], i))
        run = 0.0
        for i in order:
            assert got[i] == pytest.approx(run, abs=1e-9), f"trial {trial} id {i}"
            run += vals[i]

        gr = {r["id"]: r["rk"] for r in grouped_dense_rank(df, "g", "id", "rk").collect()}
        for gval in ("p", "q"):
            ids = sorted(i for i in range(n) if groups[i] == gval)
            for rank, i in enumerate(ids):
                assert gr[i] == rank, f"trial {trial} group {gval} id {i}"


def test_grouped_prev_cumsum_matches_per_group_window(spark):
    """grouped_prev_cumsum (r10, the skew-safe source_token_quota path)
    must equal a sequential per-group exclusive scan — including under
    heavy key skew (one group holding ~50% of rows, the one-colossal-domain
    corpus case) — and keep the plan free of both SinglePartition exchanges
    and a plain partitionBy(group) window (the skewed group must SPAN
    range partitions)."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators.scan import grouped_prev_cumsum

    rng = np.random.default_rng(17)
    n = 3000
    # ~50% of rows in one group, remainder spread over 40 small groups
    groups = [
        "big" if rng.random() < 0.5 else f"s{int(rng.integers(40))}"
        for _ in range(n)
    ]
    vals = rng.integers(1, 200, n)
    df = spark.createDataFrame(
        [(i, groups[i], int(vals[i])) for i in range(n)],
        "id long, g string, v long",
    ).repartition(16)
    out = grouped_prev_cumsum(df, "g", [F.col("id").asc()], F.col("v"), "cum")
    plan = getattr(out, "_scan_plan", "")
    assert "SinglePartition" not in plan
    got = {r["id"]: r["cum"] for r in out.collect()}
    assert len(got) == n
    running: dict = {}
    for i in range(n):  # ids ascend, so this IS the per-group scan order
        g = groups[i]
        assert got[i] == running.get(g, 0), f"id {i} group {g}"
        running[g] = running.get(g, 0) + int(vals[i])


def test_grouped_prev_cumsum_null_group_and_empty(spark):
    """Null group values accumulate as their own group (eqNullSafe), and an
    empty frame returns a zero column rather than erroring."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators.scan import grouped_prev_cumsum

    rows = [(0, "a", 5), (1, None, 7), (2, "a", 3), (3, None, 2)]
    df = spark.createDataFrame(rows, "id long, g string, v long").repartition(4)
    got = {
        r["id"]: r["cum"]
        for r in grouped_prev_cumsum(
            df, "g", [F.col("id").asc()], F.col("v"), "cum"
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 5, 3: 7}

    empty = spark.createDataFrame([], "id long, g string, v long")
    out = grouped_prev_cumsum(empty, "g", [F.col("id").asc()], F.col("v"), "cum")
    assert out.count() == 0 and "cum" in out.columns


def test_source_token_quota_null_text_and_skew(spark):
    """source_token_quota: null text counts as empty text (1 whitespace
    token, the split-of-'' engine convention) instead of NULLing the
    running offsets for its source (r9 ADVICE), and a 50%-skewed source
    still produces exact offsets through the grouped scan."""
    from oaxaca_blinder_rs_spark.operators import corpus

    rows = [
        (0, "a", "three token doc"),
        (1, "a", None),
        (2, "a", "two tokens"),
        (3, "b", "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["token_offset"], r["keep"])
        for r in corpus.source_token_quota(df, budget_tokens=4).collect()
    }
    # null text -> split('') = [''] -> 1 token, offsets keep flowing
    assert got == {
        0: (3, 0, True),
        1: (1, 3, True),
        2: (2, 4, False),
        3: (1, 0, True),
    }


def test_grouped_dense_rank_null_group(spark):
    """Rows with a null group value must still be ranked (their own group),
    exactly as the legacy per-group window did."""
    from oaxaca_blinder_rs_spark.operators.scan import grouped_dense_rank

    rows = [(0, "a"), (1, None), (2, "a"), (3, None), (4, None)]
    df = spark.createDataFrame(rows, "id long, g string").repartition(4)
    got = {(r["g"], r["id"]): r["rk"] for r in grouped_dense_rank(df, "g", "id", "rk").collect()}
    assert got == {("a", 0): 0, ("a", 2): 1, (None, 1): 0, (None, 3): 1, (None, 4): 2}
