"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import checks, panel, tracing
from perfbench.checks import Checker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_span_self_time_excludes_direct_children():
    clock = FakeClock()
    spans = tracing.Spans(clock)
    with spans.span("round"):
        clock.t += 1.0
        with spans.span("call"):
            clock.t += 2.0
            with spans.span("layer"):
                clock.t += 4.0
        clock.t += 0.5
    rec = {r["name"]: r for r in spans.records}
    assert rec["layer"]["dur"] == 4.0 and rec["layer"]["self"] == 4.0
    assert rec["call"]["dur"] == 6.0 and rec["call"]["self"] == 2.0
    assert rec["round"]["dur"] == 7.5 and rec["round"]["self"] == 1.5
    assert rec["layer"]["parent"] == "call" and rec["round"]["parent"] is None


def test_span_records_even_when_the_body_raises():
    spans = tracing.Spans(FakeClock())
    with pytest.raises(ValueError):
        with spans.span("boom"):
            raise ValueError
    assert [r["name"] for r in spans.records] == ["boom"]


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    fields = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 20
    return f"{pid} ({comm}) " + " ".join(str(f) for f in fields)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    tck = os.sysconf("SC_CLK_TCK")
    ppid, comm, cpu = tracing.parse_stat(_stat(7, "py (worker) x", 3, tck, tck, 2 * tck, 0))
    assert (ppid, comm) == (3, "py (worker) x")
    assert cpu == pytest.approx(4.0)


@pytest.fixture
def fake_proc(tmp_path):
    tck = os.sysconf("SC_CLK_TCK")
    procs = {
        100: ("python3", 1, 2 * tck, 0, 0, 50 * 1024),          # the benchmark (root)
        101: ("java", 100, 10 * tck, 5 * tck, 0, 900 * 1024),   # Spark JVM
        102: ("python3", 101, 1 * tck, 0, 3 * tck, 80 * 1024),  # worker daemon, reaped 3 s
        103: ("python3", 102, 4 * tck, 0, 0, 120 * 1024),       # live worker
        104: ("bash", 100, 1 * tck, 0, 0, 4 * 1024),            # unclassified child
        200: ("java", 1, 99 * tck, 0, 0, 1),                    # not in our tree
    }
    for pid, (comm, ppid, ut, st, cut, hwm_kb) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, ut, st, cut))
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\n")
    (tmp_path / "self").mkdir()
    return tmp_path


def test_process_tree_walks_only_descendants(fake_proc):
    tree = tracing.process_tree(100, str(fake_proc))
    assert sorted(tree) == [100, 101, 102, 103, 104]
    assert tree[100]["kind"] == "driver_py" and tree[101]["kind"] == "jvm"
    assert tree[103]["kind"] == "pyworker" and tree[104]["kind"] is None


def test_proc_sampler_sums_cpu_per_kind_and_tracks_peak_rss(fake_proc):
    s = tracing.ProcSampler(100, str(fake_proc))
    cpu = s.cpu()
    assert cpu == pytest.approx({"jvm": 15.0, "driver_py": 2.0, "pyworker": 8.0})
    assert s.peak_mb == pytest.approx({"jvm": 900.0, "driver_py": 50.0, "pyworker": 120.0})


def test_proc_sampler_on_this_process():
    s = tracing.ProcSampler()
    a = s.cpu()
    sum(i * i for i in range(300_000))
    b = s.cpu()
    assert b["driver_py"] >= a["driver_py"] and s.peak_mb["driver_py"] > 0


class _Job:
    def __init__(self, status, stages):
        self.status, self.stageIds = status, stages


class _Stage:
    def __init__(self, done, failed):
        self.numCompletedTasks, self.numFailedTasks = done, failed


class _Tracker:
    def __init__(self):
        self.reads = 0

    def getJobIdsForGroup(self, group):
        self.reads += 1
        return [1, 2] if group == "g" else []

    def getJobInfo(self, jid):
        # job 2 is still running on the first read
        if jid == 2 and self.reads == 1:
            return _Job("RUNNING", [3])
        return _Job("SUCCEEDED", [jid * 10, jid * 10 + 1])

    def getStageInfo(self, sid):
        return None if sid == 21 else _Stage(4, 1 if sid == 10 else 0)


class _Context:
    def __init__(self):
        self.tracker = _Tracker()

    def statusTracker(self):
        return self.tracker


def test_job_group_counts_waits_for_running_jobs():
    counts = tracing.job_group_counts(_Context(), "g", settle_s=5.0)
    assert counts == {"jobs": 2, "tasks": 12, "failed_tasks": 1}


def test_summary_statistics():
    assert tracing.median([3.0, 1.0, 2.0, 10.0]) == 2.5
    assert tracing.metric(1, "s") == {"value": 1.0, "unit": "s"}


def test_numpy_decomposition_identities_and_truth():
    pdf = panel.mean_frame(np.random.default_rng([5, 2]), 20_000)
    want = checks.np_decomposition(pdf, "y", "g", "M", panel.MEAN_PREDICTORS, ["occ"])
    assert want["group_a"] == "F" and want["group_b"] == "M"
    assert want["explained"] + want["unexplained"] == pytest.approx(want["total"])
    parts = want["endowments"] + want["coefficients"] + want["interaction"]
    assert parts == pytest.approx(want["total"])
    beta_f = panel.MEAN_BETA_M + panel.MEAN_BETA_F_SHIFT
    truth = np.r_[beta_f[0], beta_f[1:], panel.MEAN_OCC_EFFECT[1:]]
    ck = Checker()
    checks.check_truth(ck, "t", want["beta_a"], want["se_a"], truth)
    checks.check_truth(ck, "shifted", want["beta_a"] + 1.0, want["se_a"], truth)
    assert ck.failures and all(f.startswith("shifted") for f in ck.failures)


def test_pooled_reference_matches_indicator_regression():
    pdf = panel.company(np.random.default_rng(3), 2000)
    want = checks.np_decomposition(pdf, "wage", "gender", "M", panel.COMPANY_PREDICTORS,
                                   reference_coefficients="pooled")
    assert want["explained"] + want["unexplained"] == pytest.approx(want["total"])
    # the DGP's female penalty shows up as an unexplained gap
    assert want["unexplained"] == pytest.approx(panel.COMPANY_FEMALE_PENALTY, abs=1000.0)


def test_frontier_and_remediation_checks():
    good = {"points": [{"budget": b, "t_statistic": t} for b, t in [(0, -5.0), (10, -2.0), (20, 0.5), (30, 0.5)]]}
    ck = Checker()
    checks.check_frontier(ck, good)
    assert ck.failures == []
    bad = {"points": [{"budget": b, "t_statistic": t} for b, t in [(0, -5.0), (10, -6.0), (20, -1.0)]]}
    checks.check_frontier(ck, bad)
    assert any("gap_falls" in f for f in ck.failures)
    ck = Checker()
    out = {"total_cost": 150.0, "original_gap": -10.0, "new_gap": -4.0,
           "adjustments": [{"adjustment": 100.0}, {"adjustment": 50.0}, {"adjustment": 0.0}]}
    checks.check_remediation(ck, out, budget=100.0)
    assert [f.split(":")[0] for f in ck.failures] == ["remediate.cost_within_budget"]


def test_checker_close_rejects_nan():
    ck = Checker()
    ck.close("nan", float("nan"), 1.0)
    ck.close("ok", 1.0 + 1e-12, 1.0)
    assert [f.split(":")[0] for f in ck.failures] == ["nan"]


def test_generators_are_seeded():
    a = panel.worker_panel(np.random.default_rng([1, 3]), 50)
    b = panel.worker_panel(np.random.default_rng([1, 3]), 50)
    c = panel.worker_panel(np.random.default_rng([2, 3]), 50)
    assert a.equals(b) and not a.equals(c)
    assert set(a["employed"].unique()) <= {0.0, 1.0}
    assert a["lw_obs"].isna().sum() == (a["employed"] == 0).sum()


def test_benchmark_json_names_match_emitted_metrics():
    from perfbench import layers, run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    emitted = ["session.get_spark_s", *[f"spark.{c}" for c in tracing.COUNTS],
               *[f"cpu.{k}_s" for k in tracing.KINDS], *[f"mem.peak_rss_mb.{k}" for k in tracing.KINDS],
               "trace.overhead_s", *layers.LAYER_METRICS]
    assert [m["name"] for m in spec["per_layer"]] == emitted
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)


def test_boundaries_time_outermost_calls_and_restore():
    import types

    from perfbench.layers import Boundaries

    mod = types.ModuleType("fake.ops")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    b = Boundaries(tracing.Spans())
    b._wrap(mod, "inner")
    b._wrap(mod, "outer", finish=lambda v: v + 100)
    assert mod.outer(1) == 104
    assert set(b.take()) == {"outer"}  # the nested call stays inside its caller's boundary
    assert mod.inner(1) == 2 and set(b.take()) == {"inner"}
    b.restore()
    assert mod.inner is inner and mod.outer is outer


def test_machado_mata_replay_is_seeded_and_additive():
    rng = np.random.default_rng(0)
    x = rng.normal(size=(2, 300))
    Xa, Xb = (np.column_stack([np.ones(300), v]) for v in x)
    ya, yb = 1.0 + 0.5 * x[0] + rng.normal(size=300), 0.8 + 0.4 * x[1] + rng.normal(size=300)
    a = checks.np_machado_mata(Xa, ya, Xb, yb, [0.1, 0.5, 0.9], 8, seed=3)
    b = checks.np_machado_mata(Xa, ya, Xb, yb, [0.1, 0.5, 0.9], 8, seed=3)
    assert a == b and sorted(a) == ["q10", "q50", "q90"]
    for gap, char, coef in a.values():
        assert gap == pytest.approx(char + coef)


class _FakeSparkContext(_Context):
    def __init__(self):
        super().__init__()
        self.props = {}

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeSampler:
    def __init__(self):
        self.calls = 0
        self.peak_mb = {"jvm": 900.0, "driver_py": 50.0, "pyworker": 120.0}

    def cpu(self):
        self.calls += 1
        return {"jvm": 2.0 * self.calls, "driver_py": 0.5 * self.calls, "pyworker": 1.0 * self.calls}


def test_call_tracer_summarises_per_round():
    sc = _FakeSparkContext()
    tracer = tracing.CallTracer(sc, _FakeSampler())
    for name in ("a", "b"):
        with tracer.call(name):
            assert sc.props["spark.jobGroup.id"].endswith(name)
        assert sc.props["spark.jobGroup.id"] is None  # cleared after the call
    out = tracer.round_metrics(rounds=2)
    # each call sees one CPU step: jvm +2, driver +0.5, workers +1; two calls over two rounds
    assert out["cpu.jvm_s"] == {"value": 2.0, "unit": "s"}
    assert out["cpu.driver_py_s"]["value"] == 0.5 and out["cpu.pyworker_s"]["value"] == 1.0
    # the fake tracker reports group "g" only, so no jobs are attributed to these groups
    assert out["spark.jobs"] == {"value": 0.0, "unit": "count"}
    assert out["mem.peak_rss_mb.jvm"]["value"] == 900.0 and out["trace.overhead_s"]["value"] >= 0.0
    assert [c["name"] for c in tracer.calls] == ["a", "b"]
