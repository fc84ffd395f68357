"""NumPy-reference oracle checks for the iterative operators (see
tools/numpy_oracle.py). These close the gap left by the DuckDB SQL oracle,
which cannot express Newton/Fisher iterations, zig-zag demeaning, or
reweighted KDE: each test recomputes the full result independently in dense
NumPy on the pandas-loaded sf0.001 parquet and compares the engine's output.

AKM is the strongest check: the oracle solves the two-way FE model with one
dense numpy.linalg.lstsq over the dummy design — a completely different
algorithm than the engine's FWL zig-zag + alternating projections — so
agreement pins down the *solution*, not the iteration.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from numpy_oracle import (  # noqa: E402
    load_table,
    logit_np,
    oracle_akm,
    oracle_dfl,
    oracle_heckman,
    probit_np,
)


@pytest.fixture(scope="module")
def li_pdf(sf_dir):
    return load_table(sf_dir, "lineitem")


def _spark_lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


def test_logit_matches_numpy_oracle(spark, sf_dir, li_pdf):
    """Distributed multi-model Newton == dense NumPy Newton on real data."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators.glm import logit

    li = _spark_lineitem(spark, sf_dir).withColumn("__i", F.lit(1.0)).withColumn(
        "__t", (F.col("l_returnflag") == "A").cast("double")
    )
    fit = logit(li, ["__i", "l_quantity", "l_discount"], "__t")

    X = np.column_stack(
        [
            np.ones(len(li_pdf)),
            li_pdf["l_quantity"].to_numpy(dtype=np.float64),
            li_pdf["l_discount"].to_numpy(dtype=np.float64),
        ]
    )
    t = (li_pdf["l_returnflag"] == "A").to_numpy(dtype=np.float64)
    beta_np, conv, _ = logit_np(X, t)
    assert conv and fit.converged
    np.testing.assert_allclose(fit.beta, beta_np, rtol=1e-7, atol=1e-10)


def test_probit_matches_numpy_oracle(spark, sf_dir, li_pdf):
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators.glm import probit

    li = _spark_lineitem(spark, sf_dir).withColumn("__i", F.lit(1.0)).withColumn(
        "__s", (F.col("l_discount") > 0.01).cast("double")
    )
    fit = probit(li, ["__i", "l_tax"], "__s")

    Z = np.column_stack([np.ones(len(li_pdf)), li_pdf["l_tax"].to_numpy(dtype=np.float64)])
    s = (li_pdf["l_discount"] > 0.01).to_numpy(dtype=np.float64)
    beta_np, conv, _ = probit_np(Z, s)
    assert conv and fit.converged
    np.testing.assert_allclose(fit.beta, beta_np, rtol=1e-7, atol=1e-10)


def test_heckman_decomposition_matches_numpy_oracle(spark, sf_dir):
    """Mirrors the q_heckman_decomposition driver-contract query."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark import OaxacaBuilder

    li = _spark_lineitem(spark, sf_dir).withColumn(
        "sel", (F.col("l_discount") > 0.01).cast("double")
    )
    res = (
        OaxacaBuilder(li, "l_extendedprice", "l_returnflag", "R")
        .predictors(["l_quantity"])
        .heckman_selection("sel", ["l_tax"])
        .reference_coefficients("group_b")
        .bootstrap_reps(0)
        .run()
    )
    got = {c.name: c.estimate for c in res.two_fold.detailed_explained}
    got["total_gap"] = res.total_gap

    want = oracle_heckman(sf_dir)
    # engine reports the intercept under a display name
    want["intercept"] = want.pop("__ob_intercept__")
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-6, abs=1e-8), k


def test_dfl_matches_numpy_oracle(spark, sf_dir):
    """Mirrors the q_dfl_densities driver-contract query."""
    from oaxaca_blinder_rs_spark.operators.dfl import run_dfl

    li = _spark_lineitem(spark, sf_dir)
    res = run_dfl(li, "l_extendedprice", "l_returnflag", "R", ["l_quantity", "l_linestatus"])
    want = oracle_dfl(sf_dir)

    np.testing.assert_allclose(res.grid, want["grid"], rtol=1e-12)
    np.testing.assert_allclose(res.density_a, want["density_a"], rtol=1e-9, atol=1e-15)
    np.testing.assert_allclose(res.density_b, want["density_b"], rtol=1e-9, atol=1e-15)
    np.testing.assert_allclose(
        res.density_b_counterfactual, want["density_b_cf"], rtol=1e-8, atol=1e-15
    )


def test_akm_matches_dense_lstsq_oracle(spark, sf_dir):
    """Mirrors q_akm_effects: zig-zag projections == one dense lstsq."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators.akm import AkmBuilder

    li = _spark_lineitem(spark, sf_dir)
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    panel = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_custkey").cast("string").alias("worker"),
        F.col("l_suppkey").cast("string").alias("firm"),
        F.col("l_extendedprice").alias("y"),
        F.col("l_quantity").alias("x"),
    )
    res = AkmBuilder(panel, "y", "worker", "firm").controls(["x"]).run()
    want = oracle_akm(sf_dir)

    assert float(res.beta[0]) == pytest.approx(want["beta"], rel=1e-6)
    assert res.r2 == pytest.approx(want["r2"], rel=1e-6)

    got_fe = {r["firm"]: r["effect"] for r in res.firm_effects.collect()}
    assert set(got_fe) == set(want["firm_effects"])
    for f, psi in want["firm_effects"].items():
        assert got_fe[f] == pytest.approx(psi, abs=2e-4), f"firm {f}"


def test_xxh64_matches_spec_and_spark(spark):
    """Pure-Python XXH64 (tools/xxh64.py) against (a) the published spec test
    vectors and (b) Spark's xxhash64 across tail lengths and unicode."""
    from xxh64 import xxh64, xxh64_signed

    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc", 0) == 0x44BC2CF5AD770999

    from pyspark.sql import functions as F

    strs = ["", "a", "ab", "abcd", "abcde", "12345678", "123456789",
            "x" * 16, "x" * 31, "y" * 32, "z" * 100, "naïve café ☕"]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert xxh64_signed(r.s.encode("utf-8")) == r.h, repr(r.s)


def test_xxh64_sql_transliteration_matches_python():
    """The DuckDB-SQL XXH64 replay (functions/xxh64_sql.py — the round-6
    oracle that made simhash/simhash_dups hash-matched driver rows) is
    bit-exact vs tools/xxh64.py across every code path: empty input, all
    tail-length residues (8-byte/4-byte/single-byte rounds), the 32-byte
    stripe loop boundary, multi-stripe inputs, and multibyte UTF-8."""
    import random

    import duckdb

    from oaxaca_blinder_rs_spark.functions.xxh64_sql import xxh64_select_sql
    from xxh64 import xxh64

    rng = random.Random(20260814)
    alphabet = "abcdefghij KLMNOP 0123456789 .,;:!? éü€ñ中文 \t"
    tests = [""] + ["q" * n for n in (1, 3, 4, 7, 8, 9, 15, 16, 31, 32, 33, 63, 64, 65, 100)] + [
        "héllo wörld €uro",
        "the quick brown fox jumps over the lazy dog",
    ] + ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120))) for _ in range(60)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(tests)))
    sql = xxh64_select_sql("t", "s", "id", "xh")
    for i, got in con.execute(f"SELECT id, xh FROM ({sql})").fetchall():
        assert int(got) == xxh64(tests[i].encode("utf-8")), repr(tests[i])


def test_simhash_matches_python_oracle(spark, sf_dir):
    """Mirrors q_simhash: the 64-bit SimHash column (shingle -> xxhash64 ->
    per-bit vote) recomputed driver-side from raw text. Closes the rows-only
    gap — DuckDB has no xxhash64, so the SQL gate can't check this operator."""
    from pyspark.sql import functions as F

    from oaxaca_blinder_rs_spark.operators import dedup
    from xxh64 import simhash64_py

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 50)
    )
    got = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", dedup.simhash64(F.col("text"), k=2).alias("sh")).collect()
    }
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    assert len(got) > 0
    for doc_id, sh in got.items():
        assert simhash64_py(texts[doc_id], k=2) == sh, f"doc {doc_id}"


# ---------------------------------------------------------------------------
# Machado-Mata + quantile-regression LP parity (tools/numpy_oracle.py
# qr_exact_2d: slope-subgradient bisection + exact vertex polish — a
# different algorithm than the engine's IRLS)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def mm_oracle(sf_dir):
    from numpy_oracle import oracle_machado_mata

    return oracle_machado_mata(sf_dir)


def test_qr_irls_reaches_lp_optimal_objective(mm_oracle):
    """LP-parity evidence for solve_qr (quantile_regression.py): on every
    real-data fit of the MM pass, IRLS attains the exact LP-vertex optimum's
    objective VALUE to <=1e-5 relative. (The argmin can differ along flat
    near-degenerate valleys — that divergence is documented; the optimum
    value is the well-posed quantity.)"""
    from numpy_oracle import check_loss

    from oaxaca_blinder_rs_spark.operators.quantile_regression import solve_qr

    for X, y in [(mm_oracle["Xa"], mm_oracle["ya"]), (mm_oracle["Xb"], mm_oracle["yb"])]:
        for i, tau in enumerate(mm_oracle["taus"][:25]):
            o_irls = check_loss(X, y, solve_qr(X, y, tau), tau)
            o_exact = check_loss(X, y, mm_oracle["betas_a" if X is mm_oracle["Xa"] else "betas_b"][i], tau)
            assert o_irls <= o_exact * (1 + 1e-5), (tau, o_irls, o_exact)
            assert o_exact <= o_irls * (1 + 1e-5), (tau, o_irls, o_exact)


def test_qr_degenerate_tie_case_bounded():
    """Hand-computed degenerate LP: points (0,0),(0,1),(1,0),(1,1) at
    tau=0.5. EVERY line with b0 in [0,1] and b0+b1 in [0,1] attains the
    optimal objective 1.0 (at x=0: |0-b0|+|1-b0| >= 1; same at x=1) — the
    optimum set is a 2-D face, the worst case for solver disagreement. The
    bounded-divergence contract: IRLS must land ON the optimal face (optimal
    objective to 1e-6), though WHERE on the face may differ from an LP
    vertex."""
    from numpy_oracle import check_loss

    from oaxaca_blinder_rs_spark.operators.quantile_regression import solve_qr

    X = np.array([[1.0, 0.0], [1.0, 0.0], [1.0, 1.0], [1.0, 1.0]])
    y = np.array([0.0, 1.0, 0.0, 1.0])
    beta = solve_qr(X, y, 0.5)
    obj = check_loss(X, y, beta, 0.5)
    assert obj == pytest.approx(1.0, abs=1e-6)
    assert -1e-6 <= beta[0] <= 1 + 1e-6
    assert -1e-6 <= beta[0] + beta[1] <= 1 + 1e-6


def test_machado_mata_matches_independent_oracle(spark, sf_dir, mm_oracle):
    """Mirrors q_machado_mata (driver engine, reps=0): the oracle replays the
    engine's seeded RNG stream but solves every QR with the independent
    exact-vertex solver (qr_exact_2d: subgradient bisection + pair
    enumeration — a different algorithm than the engine's warm-started
    simplex). Since round 5 the driver engine is LP-exact (solve_qr_exact),
    so both land on the same vertices and the tolerance is solver roundoff
    (1e-6 on a ~1e5-scale outcome), not the old 300 flat-valley bound."""
    from oaxaca_blinder_rs_spark.quantile_builder import QuantileDecompositionBuilder

    li = _spark_lineitem(spark, sf_dir)
    res = (
        QuantileDecompositionBuilder(li, "l_extendedprice", "l_returnflag", "R")
        .predictors(["l_quantity"])
        .quantiles([0.25, 0.5, 0.75])
        .simulations(100)
        .bootstrap_reps(0)
        .seed(42)
        .fit_engine("driver")
        .run()
    )
    # row-order parity between Spark toPandas and the oracle's pandas load —
    # the seeded picks index rows, so order is part of the contract
    assert res.n_a == mm_oracle["Xa"].shape[0]
    assert res.n_b == mm_oracle["Xb"].shape[0]
    for key, want in mm_oracle["effects"].items():
        d = res.results_by_quantile[key]
        got = (d.total_gap.estimate, d.characteristics_effect.estimate, d.coefficients_effect.estimate)
        for g, w in zip(got, want):
            assert g == pytest.approx(w, abs=1e-6), (key, got, want)


def test_machado_mata_gram_engine_matches_independent_oracle(spark, sf_dir, mm_oracle):
    """The distributed engine against the same exact-vertex oracle: at
    reps=0 it consumes the identical seeded stream as the driver engine
    (taus then simulation picks from default_rng(seed)), and it solves the
    same globbed exact LPs, so the oracle replay applies unchanged at the
    driver engine's bound (solver roundoff, 1e-6 on a ~1e5-scale outcome)."""
    from oaxaca_blinder_rs_spark.quantile_builder import QuantileDecompositionBuilder

    li = _spark_lineitem(spark, sf_dir)
    res = (
        QuantileDecompositionBuilder(li, "l_extendedprice", "l_returnflag", "R")
        .predictors(["l_quantity"])
        .quantiles([0.25, 0.5, 0.75])
        .simulations(100)
        .bootstrap_reps(0)
        .seed(42)
        .fit_engine("distributed")
        .run()
    )
    assert res.n_a == mm_oracle["Xa"].shape[0]
    assert res.n_b == mm_oracle["Xb"].shape[0]
    for key, want in mm_oracle["effects"].items():
        d = res.results_by_quantile[key]
        got = (d.total_gap.estimate, d.characteristics_effect.estimate, d.coefficients_effect.estimate)
        for g, w in zip(got, want):
            assert g == pytest.approx(w, abs=1e-6), (key, got, want)


def test_pcg64_transliteration_matches_numpy():
    """tools/pcg64 (pure-Python SeedSequence + PCG64 XSL-RR from the public
    specs) and the DuckDB SQL replay (functions/pcg64_sql.py — the round-6
    mm_tau_stream oracle) are BIT-exact vs numpy's default_rng across
    scalar and list entropy: the seeded simulation stream is engine-
    independently reproducible, doubles compared with no rounding."""
    import duckdb
    import numpy as np

    from oaxaca_blinder_rs_spark.functions.pcg64_sql import pcg64_uniform_sql
    from pcg64 import PCG64, seedseq_u64

    con = duckdb.connect()
    for ent in [42, 0, 7, 123456, [42, 7, 0], [42, 7, 3], [42, 11, 2, 1]]:
        elist = ent if isinstance(ent, list) else [ent]
        ss = np.random.SeedSequence(ent)
        assert seedseq_u64(elist, 4) == [int(x) for x in ss.generate_state(4, np.uint64)]
        want = list(np.random.default_rng(ent).uniform(0.01, 0.99, 30))
        assert PCG64.from_numpy_seed(elist).uniform(0.01, 0.99, 30) == want
        got = [r[1] for r in con.execute(
            pcg64_uniform_sql(ent, 30, 0.01, 0.99) + " ORDER BY i"
        ).fetchall()]
        assert got == want, ent


def test_pcg64_lemire_integers_sql_matches_numpy():
    """numpy Generator.integers(0, n) for n < 2^32 consumes BUFFERED 32-bit
    halves of the PCG64 output (low half first) through Lemire rejection:
    accept v iff (v*n) mod 2^32 >= (2^32 - n) mod n, result (v*n) >> 32.
    The SQL replay (the mm_small_exact oracle's pick stages) carves taus
    and two bounded-integer stages out of ONE pcg64_raw_sql chain with the
    half-buffer carrying across the stage switch — exactly the engine's
    single default_rng(seed) consumption. Bit-exact, no rounding."""
    import duckdb
    import numpy as np

    from oaxaca_blinder_rs_spark.functions.pcg64_sql import pcg64_raw_sql

    con = duckdb.connect()
    # (na, nb) mixes tiny ranges (high rejection prob) with realistic ones
    for seed, S, na, nb, m in [(42, 12, 130, 143, 12), (7, 5, 3, 17, 5),
                               (123, 8, 65537, 7, 8), (42, 100, 20037, 19000, 40)]:
        rng = np.random.default_rng(seed)
        taus = rng.uniform(0.01, 0.99, S)
        ia, ib = rng.integers(0, na, m), rng.integers(0, nb, m)
        sql = f"""
WITH raw AS MATERIALIZED ({pcg64_raw_sql(seed, S + 2 * m + 8)}),
half AS MATERIALIZED (
  SELECT (i - {S + 1}) * 2 + h.h + 1 AS p,
         CASE WHEN h.h = 0 THEN out % 4294967296 ELSE out // 4294967296 END AS v
  FROM raw, (SELECT unnest([0, 1]) AS h) h WHERE i >= {S + 1}
), ca AS (
  SELECT p, (v * {na}) // 4294967296 AS val, acc,
         sum(CASE WHEN acc THEN 1 ELSE 0 END) OVER (ORDER BY p) AS cnt
  FROM (SELECT p, v, ((v * {na}) % 4294967296) >= ((4294967296 - {na}) % {na}) AS acc FROM half)
), cutoff AS (SELECT min(p) AS cpos FROM ca WHERE acc AND cnt = {m}),
cb AS (
  SELECT p, (v * {nb}) // 4294967296 AS val, acc,
         sum(CASE WHEN acc THEN 1 ELSE 0 END) OVER (ORDER BY p) AS cnt
  FROM (SELECT h.p, h.v, ((h.v * {nb}) % 4294967296) >= ((4294967296 - {nb}) % {nb}) AS acc
        FROM half h, cutoff WHERE h.p > cpos)
)
SELECT 'a' s, cnt i, CAST(val AS BIGINT) r FROM ca WHERE acc AND cnt <= {m}
UNION ALL
SELECT 'b' s, cnt i, CAST(val AS BIGINT) r FROM cb WHERE acc AND cnt <= {m}
ORDER BY s, i
"""
        rows = con.execute(sql).fetchall()
        got_a = [r[2] for r in rows if r[0] == "a"]
        got_b = [r[2] for r in rows if r[0] == "b"]
        assert got_a == list(ia), (seed, na)
        assert got_b == list(ib), (seed, nb)
