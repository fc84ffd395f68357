"""AKM tests mirroring tests/test_akm.rs (FIXTURES.md F4): parameter
recovery (beta within 0.05 of 2.5, R^2 > 0.99) and connected-set filtering."""

import numpy as np
import pytest

from oaxaca_blinder_rs_spark.operators.akm import AkmBuilder


def akm_fixture(spark, n=1000, n_workers=100, n_firms=20, seed=42):
    rng = np.random.default_rng(seed)
    alpha = rng.uniform(-1, 1, n_workers)
    psi = rng.uniform(-0.5, 0.5, n_firms)
    rows = []
    for _ in range(n):
        w = rng.integers(0, n_workers)
        f = rng.integers(0, n_firms)
        x = rng.uniform(0, 10)
        eps = rng.uniform(-0.01, 0.01)
        y = 2.5 * x + alpha[w] + psi[f] + eps
        rows.append((f"w{w}", f"f{f}", float(x), float(y)))
    return spark.createDataFrame(rows, "worker string, firm string, x double, y double")


def test_akm_parameter_recovery(spark):
    """test_akm.rs:6-75: beta within 0.05 of 2.5; R2 > 0.99."""
    df = akm_fixture(spark)
    res = AkmBuilder(df, "y", "worker", "firm").controls(["x"]).run()
    assert abs(res.beta[0] - 2.5) < 0.05
    assert res.r2 > 0.99
    assert res.worker_effects.count() == 100
    assert res.firm_effects.count() == 20
    # identification: first firm's effect is exactly 0
    f0 = res.firm_effects.orderBy("firm").limit(1).collect()[0]
    assert f0["effect"] == 0.0


def test_akm_disconnected_dropped(spark):
    """test_akm.rs:78-109: disconnected worker w3 (only at firm f2) dropped."""
    rows = [
        ("w1", "f1", 10.0),
        ("w2", "f1", 11.0),
        ("w3", "f2", 12.0),  # disconnected island {w3, f2}
    ]
    df = spark.createDataFrame(rows, "worker string, firm string, y double")
    res = AkmBuilder(df, "y", "worker", "firm").run()
    workers = {r[0] for r in res.worker_effects.collect()}
    assert workers == {"w1", "w2"}


def test_akm_no_controls(spark):
    df = akm_fixture(spark, n=400, n_workers=30, n_firms=8)
    res = AkmBuilder(df, "y", "worker", "firm").run()
    assert res.beta.shape == (0,)
    assert res.worker_effects.count() == 30


def test_akm_dist_engine_matches_pandas(spark):
    """The distributed join-based engine reproduces the driver algorithm."""
    df = akm_fixture(spark, n=300, n_workers=25, n_firms=6, seed=7)
    rp = AkmBuilder(df, "y", "worker", "firm").controls(["x"]).engine("pandas").run()
    rd = AkmBuilder(df, "y", "worker", "firm").controls(["x"]).engine("dist").run()
    assert abs(rp.beta[0] - rd.beta[0]) < 1e-6
    assert abs(rp.r2 - rd.r2) < 1e-8
    wp = {r[0]: r[1] for r in rp.worker_effects.collect()}
    wd = {r[0]: r[1] for r in rd.worker_effects.collect()}
    diffs = [abs(wp[k] - wd[k]) for k in wp]
    assert max(diffs) < 1e-6


def test_akm_dist_label_propagation_drops_island(spark):
    """Distributed label propagation finds the same largest component."""
    rows = [
        ("w1", "f1", 10.0),
        ("w2", "f1", 11.0),
        ("w3", "f2", 12.0),
    ]
    df = spark.createDataFrame(rows, "worker string, firm string, y double")
    res = AkmBuilder(df, "y", "worker", "firm").engine("dist").run()
    workers = {r[0] for r in res.worker_effects.collect()}
    assert workers == {"w1", "w2"}


def test_akm_dist_engine_releases_its_pins(spark):
    """The distributed engine drops its checkpoints (edges, label sweeps,
    demeaning sweeps, effect sweeps) before it returns, except the two its
    effect frames read, which ``release()`` drops: three runs leave no new
    persistent RDD. Compared by id, because the context cleaner may
    meanwhile drop blocks that earlier tests left."""
    jsc = spark.sparkContext._jsc
    df = akm_fixture(spark, n=200, n_workers=20, n_firms=5, seed=3)
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(3):
        res = AkmBuilder(df, "y", "worker", "firm").controls(["x"]).engine("dist").run()
        assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 2
        assert res.worker_effects.count() == 20 and res.firm_effects.count() == 5
        res.release()
        assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_akm_dist_label_sweep_runs_its_join_once(spark, spark_jobs):
    """Each label-propagation sweep's two-join plan runs once, into its
    checkpoint, and the changed labels are counted from the checkpoint. On
    a chain of n workers (w_i employed by firms i and i+1) the smallest
    label moves one worker a sweep, so the connected set takes n sweeps;
    three more sweeps cost at most 36 jobs (about 32 measured on local[4];
    evaluating the join twice, once to count and once to pin, cost 57)."""
    from oaxaca_blinder_rs_spark.operators.scan import pinned

    def chain(n):
        rows = [(f"w{i:02d}", f"f{i + j:02d}", 1.0) for i in range(n) for j in (0, 1)]
        return spark.createDataFrame(rows, "worker string, firm string, y double")

    def jobs(n):
        sweeps = []

        def connected_set():
            with pinned() as pin:
                def counting(frame, *replaces):
                    sweeps.append(frame)
                    return pin(frame, *replaces)

                df = chain(n)
                return AkmBuilder(df, "y", "worker", "firm")._largest_connected_set_dist(df, counting).count()

        count, kept = spark_jobs(connected_set)
        assert kept == 2 * n
        assert len(sweeps) == n + 1  # the edges, then one pin a sweep
        return count

    assert jobs(9) - jobs(6) <= 36
