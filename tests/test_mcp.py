"""MCP server tests: tools/list parity with meridian-mcp and end-to-end tool
calls through the JSON-RPC handler."""

import json
import threading

from oaxaca_blinder_rs_spark.mcp_server import McpServer

CSV = """wage,education,gender
10.0,12.0,F
12.0,16.0,F
11.0,14.0,F
13.0,16.0,F
15.0,18.0,F
20.0,12.0,M
22.0,16.0,M
21.0,14.0,M
23.0,16.0,M
25.0,18.0,M
"""

BASE_ARGS = {
    "csv_content": CSV,
    "outcome_variable": "wage",
    "group_variable": "gender",
    "reference_group": "F",
    "predictors": ["education"],
}


def _call(server, name, extra=None):
    req = {
        "jsonrpc": "2.0",
        "id": 1,
        "method": "tools/call",
        "params": {"name": name, "arguments": {**BASE_ARGS, **(extra or {})}},
    }
    resp = server.handle(req)
    assert resp["result"]["isError"] is False, resp["result"]
    return json.loads(resp["result"]["content"][0]["text"])


def test_tools_list(spark):
    server = McpServer(spark)
    resp = server.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/list"})
    names = {t["name"] for t in resp["result"]["tools"]}
    assert names == {
        "forensic_decomposition",
        "simulate_remediation",
        "verify_adjustments",
        "check_defensibility",
        "generate_efficient_frontier",
    }


def test_initialize_and_unknown(spark):
    server = McpServer(spark)
    init = server.handle({"jsonrpc": "2.0", "id": 1, "method": "initialize"})
    assert init["result"]["serverInfo"]["name"] == "meridian-mcp-spark"
    bad = server.handle({"jsonrpc": "2.0", "id": 2, "method": "nope"})
    assert bad["error"]["code"] == -32601


def test_forensic_decomposition_tool(spark):
    server = McpServer(spark)
    out = _call(server, "forensic_decomposition", {"bootstrap_reps": 5})
    # library gap convention: mean(non-reference M) - mean(reference F) = +10
    assert abs(out["total_gap"] - 10.0) < 1e-6
    # engine summary convention: group A = reference (F)
    assert out["data_summary"]["group_a_count"] == 5


def test_remediation_and_verify_roundtrip(spark):
    server = McpServer(spark)
    # remediation standard = the advantaged group's wage model (M), so the
    # underpaid F rows are the target (engine convention: reference = fair
    # standard, analysis.rs:389-460)
    opt = _call(server, "simulate_remediation", {"budget": 0.0, "reference_group": "M"})
    assert opt["required_budget"] > 0
    adj = [
        {"index": a["index"], "value": a["adjustment"]}
        for a in opt["adjustments"]
        if a["adjustment"] > 0
    ]
    ver = _call(server, "verify_adjustments", {"adjustments": adj, "reference_group": "M"})
    assert abs(ver["total_gap"]) <= abs(opt["original_gap"]) + 1e-9


def test_frontier_tool(spark):
    server = McpServer(spark)
    out = _call(server, "generate_efficient_frontier", {"steps": 5})
    assert len(out["points"]) == 6
    assert out["points"][0]["budget"] == 0.0


def test_tool_error_is_not_protocol_error(spark):
    server = McpServer(spark)
    req = {
        "jsonrpc": "2.0", "id": 9, "method": "tools/call",
        "params": {"name": "forensic_decomposition",
                   "arguments": {**BASE_ARGS, "outcome_variable": "missing_col"}},
    }
    resp = server.handle(req)
    assert resp["result"]["isError"] is True
    assert "missing_col" in resp["result"]["content"][0]["text"]


def test_infinite_value_is_tool_error(spark):
    """An infinite predictor is refused by name (NonNumericData), not
    decomposed into a NaN estimate."""
    server = McpServer(spark)
    csv = CSV.replace("14.0,F", "inf,F", 1)
    for tool in ("forensic_decomposition", "simulate_remediation"):
        req = {
            "jsonrpc": "2.0", "id": 10, "method": "tools/call",
            "params": {"name": tool, "arguments": {**BASE_ARGS, "csv_content": csv, "budget": 0.0}},
        }
        res = server.handle(req)["result"]
        assert res["isError"] is True
        assert "'education' contains infinite values" in res["content"][0]["text"]


def test_failed_replicates_are_counted_in_responses(spark):
    """decompose and verify report how many bootstrap replicates failed,
    the same count the warning gives (5 rows a group leaves some resamples
    rank-deficient)."""
    import re
    import warnings

    server = McpServer(spark)
    for tool, extra in (
        ("forensic_decomposition", {"bootstrap_reps": 100}),
        ("verify_adjustments", {"adjustments": [{"index": 0, "value": 1.0}]}),
    ):
        with warnings.catch_warnings(record=True) as record:
            warnings.simplefilter("always")
            out = _call(server, tool, extra)
        warned = [re.match(r"(\d+) out of 100 bootstrap", str(w.message)) for w in record]
        counts = [int(m.group(1)) for m in warned if m]
        assert counts and out["n_failed_reps"] == counts[0] > 0, (tool, counts, out["n_failed_reps"])


def _review(server, call=_call, decompose=None):
    """One pay-equity review through all five tools, in client order."""
    call(server, "forensic_decomposition", decompose or {"bootstrap_reps": 5})
    opt = call(server, "simulate_remediation", {"budget": 0.0, "reference_group": "M"})
    call(server, "generate_efficient_frontier", {"steps": 5, "reference_group": "M"})
    adj = [{"index": a["index"], "value": a["adjustment"]} for a in opt["adjustments"] if a["adjustment"] > 0]
    call(server, "verify_adjustments", {"adjustments": adj, "reference_group": "M"})
    adj[0]["predictor_overrides"] = {"education": 18.0}
    call(server, "check_defensibility", {"adjustments": adj, "reference_group": "M"})


# Spark jobs per tool on CSV (local[4], 8 shuffle partitions), counted by
# job group, on a server that keeps each company's sufficient statistics.
# In ``_review`` decompose (reference F, 5 replicates) is the only call of
# its model spec; remediate's stats pass also makes the strict-cast check
# and its one collect of the scored rows leaves the greedy schedule on the
# server, so the frontier runs no job; defend takes its stats from it, and
# verify, whose 100 replicates the server does not hold, decomposes the
# adjusted data afresh. With a 7-job distributed prefix scan in remediate
# and in the frontier the same review ran 4 / 11 / 10 / 6 / 2 jobs; before
# the cache 8 / 13 / 15 / 11 / 8, and before the decision layer shared one
# cast, one stats pass and one prefix scan per request 8 / 32 / 36 / 14 / 8.
TOOL_JOB_CEILINGS = {
    "forensic_decomposition": 4,
    "simulate_remediation": 3,
    "generate_efficient_frontier": 0,
    "verify_adjustments": 6,
    "check_defensibility": 2,
}
# Each call of ``_review`` on a fresh server: what a library caller, or the
# first call of a model spec, pays.
TOOL_JOB_CEILINGS_COLD = {
    "forensic_decomposition": 4,
    "simulate_remediation": 3,
    "generate_efficient_frontier": 3,
    "verify_adjustments": 8,
    "check_defensibility": 4,
}
# Decompose with the other calls' reference group and its default 100
# replicates: remediate takes its stats from decompose and collects the
# scored rows once, and verify derives its bootstrap from decompose's
# replicates plus one aggregation over the adjusted rows.
TOOL_JOB_CEILINGS_SAME_SPEC = {**TOOL_JOB_CEILINGS, "simulate_remediation": 1, "verify_adjustments": 3}
SAME_SPEC_REVIEW_JOBS = 12


def _job_counts(spark, spark_jobs, review, fresh=False):
    """Spark jobs of each call of ``review``, on one server or (``fresh``)
    each on a new one."""
    server = McpServer(spark)
    jobs = {}

    def counting(server, name, extra):
        jobs[name], out = spark_jobs(lambda: _call(McpServer(spark) if fresh else server, name, extra))
        return out

    review(server, counting)
    return jobs


def test_tool_job_counts(spark, spark_jobs):
    jobs = _job_counts(spark, spark_jobs, _review)
    assert all(jobs[t] <= TOOL_JOB_CEILINGS[t] for t in TOOL_JOB_CEILINGS), jobs


def test_tool_job_counts_on_fresh_servers(spark, spark_jobs):
    jobs = _job_counts(spark, spark_jobs, _review, fresh=True)
    assert all(jobs[t] <= TOOL_JOB_CEILINGS_COLD[t] for t in TOOL_JOB_CEILINGS_COLD), jobs


def test_tool_job_counts_same_spec_review(spark, spark_jobs):
    def review(server, call):
        _review(server, call, {"reference_group": "M"})

    jobs = _job_counts(spark, spark_jobs, review)
    assert all(jobs[t] <= TOOL_JOB_CEILINGS_SAME_SPEC[t] for t in TOOL_JOB_CEILINGS_SAME_SPEC), jobs
    assert sum(jobs.values()) <= SAME_SPEC_REVIEW_JOBS, jobs


def test_reviews_release_pinned_blocks(spark):
    """A long-lived server holds no cached or checkpointed blocks between
    calls: no call of five reviews leaves a persistent RDD behind. Compared
    by id after every call, because the context cleaner may meanwhile drop
    blocks that earlier tests left."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    def checked(server, name, extra):
        out = _call(server, name, extra)
        assert set(jsc.getPersistentRDDs().keySet()) - before == set(), name
        return out

    server = McpServer(spark)
    for _ in range(5):
        _review(server, checked)


def _company_csv(n=300, seed=3, levels=("F", "M")):
    """A payroll with an unexplained gap: wage on education, experience and
    tenure plus a penalty for every level after the first."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    g = rng.choice(list(levels), n)
    edu = np.round(rng.normal(14.0, 2.0, n), 1)
    exp = np.round(rng.uniform(0.0, 25.0, n), 1)
    ten = np.round(rng.uniform(0.0, 10.0, n), 1)
    pen = np.array([-3000.0 * list(levels).index(x) for x in g])
    wage = np.round(30000 + 2500 * edu + 600 * exp + 400 * ten + pen + rng.normal(0, 6000, n), 2)
    pdf = pd.DataFrame({"wage": wage, "education": edu, "experience": exp, "tenure": ten, "gender": g})
    return pdf, pdf.to_csv(index=False)


def _company_args(csv):
    return {
        "csv_content": csv, "outcome_variable": "wage", "group_variable": "gender",
        "reference_group": "M", "predictors": ["education", "experience", "tenure"],
    }


def _tool(server, name, args):
    resp = server.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                          "params": {"name": name, "arguments": args}})
    assert resp["result"]["isError"] is False, resp["result"]
    return json.loads(resp["result"]["content"][0]["text"])


def _assert_close(got, want, path="", rel=1e-12):
    """Same structure and values; floats within ``rel`` relative (the
    summation order of a Spark aggregate is not fixed)."""
    if isinstance(want, dict):
        assert sorted(got) == sorted(want), path
        for k in want:
            _assert_close(got[k], want[k], f"{path}.{k}", rel)
    elif isinstance(want, list):
        assert len(got) == len(want), path
        for i, (g, w) in enumerate(zip(got, want)):
            _assert_close(g, w, f"{path}[{i}]", rel)
    elif isinstance(want, float) and isinstance(got, float):
        assert abs(got - want) <= rel * max(abs(got), abs(want)), (path, got, want)
    else:
        assert got == want, (path, got, want)


def _review_calls(pdf, remediation):
    """The follow-up calls a client makes after a remediation: verify its
    raises, and defend a few of them plus one raise of a reference-group
    (M) employee, two audited with an overridden predictor."""
    adj = [{"index": a["index"], "value": a["adjustment"]} for a in remediation["adjustments"] if a["adjustment"] > 0]
    ref_row = int(pdf.index[pdf["gender"] == "M"][0])
    defend = [dict(a) for a in adj[:8]] + [{"index": ref_row, "value": 250.0}]
    defend[0]["predictor_overrides"] = {"experience": 30.0}
    defend[-1]["predictor_overrides"] = {"education": 20.0, "tenure": 1.0}
    return [("verify_adjustments", {"adjustments": adj}), ("check_defensibility", {"adjustments": defend})]


def test_warm_server_matches_fresh_servers(spark):
    """Every tool answers the same from a server that already holds the
    company's statistics as from a fresh one: within 1e-12 relative, in the
    review's order and when the whole review is sent again. Verify derives
    its bootstrap from decompose's replicates; the defensibility audit
    overrides a predictor of a reference-group row."""
    pdf, csv = _company_csv()
    base = _company_args(csv)
    calls = [
        ("forensic_decomposition", {"bootstrap_reps": 100}),
        ("simulate_remediation", {"budget": 50000.0}),
        ("generate_efficient_frontier", {"steps": 8}),
    ]
    fresh = {name: _tool(McpServer(spark), name, {**base, **extra}) for name, extra in calls}
    calls += _review_calls(pdf, fresh["simulate_remediation"])
    for name, extra in calls[3:]:
        fresh[name] = _tool(McpServer(spark), name, {**base, **extra})

    warm = McpServer(spark)
    for _ in range(2):
        for name, extra in calls:
            _assert_close(_tool(warm, name, {**base, **extra}), fresh[name], name)


def test_verify_with_other_reps_than_decompose(spark):
    """A verify whose bootstrap the server does not hold (decompose ran 5
    replicates, verify runs 100) decomposes the adjusted data afresh."""
    pdf, csv = _company_csv(seed=4)
    base = _company_args(csv)
    server = McpServer(spark)
    _tool(server, "forensic_decomposition", {**base, "bootstrap_reps": 5})
    opt = _tool(server, "simulate_remediation", {**base, "budget": 50000.0})
    (name, extra), _ = _review_calls(pdf, opt)
    _assert_close(_tool(server, name, {**base, **extra}), _tool(McpServer(spark), name, {**base, **extra}), name)


def test_verify_sums_a_repeated_index(spark):
    """Two adjustments of one employee count as their sum, not as a second
    copy of the employee."""
    _, csv = _company_csv(n=400, seed=6)
    base = _company_args(csv)
    twice = _tool(McpServer(spark), "verify_adjustments",
                  {**base, "adjustments": [{"index": 7, "value": 500.0}, {"index": 7, "value": 500.0}]})
    once = _tool(McpServer(spark), "verify_adjustments", {**base, "adjustments": [{"index": 7, "value": 1000.0}]})
    assert twice["data_summary"]["total_count"] == 400
    _assert_close(twice, once, rel=1e-9)


def test_frontier_after_same_spec_remediation_runs_no_job(spark, spark_jobs):
    """Remediation of the default scoring leaves its greedy schedule on the
    server; the frontier that follows builds on it without a Spark job and
    answers as a fresh server does."""
    _, csv = _company_csv(seed=5)
    base = _company_args(csv)
    server = McpServer(spark)
    _tool(server, "simulate_remediation", {**base, "budget": 40000.0})
    args = {**base, "steps": 8}
    jobs, out = spark_jobs(lambda: _tool(server, "generate_efficient_frontier", args))
    assert jobs == 0
    _assert_close(out, _tool(McpServer(spark), "generate_efficient_frontier", args), rel=1e-9)


def test_frontier_of_another_spec_computes_afresh(spark, spark_jobs):
    """The kept schedule serves only its own company and scoring: a frontier
    with another ``max_budget`` steps through the same schedule, one after
    a remediation of another scoring (lower-bound targets) or of another
    company collects its own, and each answers as a fresh server does."""
    _, csv = _company_csv(seed=5)
    _, other_csv = _company_csv(seed=6)
    base, other = _company_args(csv), _company_args(other_csv)

    def fresh(args):
        return _tool(McpServer(spark), "generate_efficient_frontier", args)

    server = McpServer(spark)
    _tool(server, "simulate_remediation", {**base, "budget": 40000.0, "range_target": "LowerBound"})
    jobs, out = spark_jobs(lambda: _tool(server, "generate_efficient_frontier", base))
    assert jobs > 0
    _assert_close(out, fresh(base), rel=1e-9)
    capped = {**base, "steps": 6, "max_budget": 30000.0}
    _assert_close(_tool(server, "generate_efficient_frontier", capped), fresh(capped), rel=1e-9)
    jobs, out = spark_jobs(lambda: _tool(server, "generate_efficient_frontier", other))
    assert jobs > 0
    _assert_close(out, fresh(other), rel=1e-9)


def test_absent_reference_group_errors_alike_warm_and_fresh(spark):
    """A reference group with no rows is the same tool error whether or not
    the server already holds the company's statistics."""
    def error(server, name):
        req = {"jsonrpc": "2.0", "id": 1, "method": "tools/call", "params": {
            "name": name, "arguments": {**BASE_ARGS, "reference_group": "Z", "bootstrap_reps": 0,
                                        "adjustments": [{"index": 0, "value": 1.0}]}}}
        res = server.handle(req)["result"]
        assert res["isError"] is True
        return res["content"][0]["text"]

    warm = McpServer(spark)
    error(warm, "forensic_decomposition")
    for tool in ("check_defensibility", "verify_adjustments", "simulate_remediation"):
        assert error(warm, tool) == error(McpServer(spark), tool), tool


def test_stats_cache_is_bounded(spark):
    """More companies than the bound leave at most the bound of entries, and
    no persistent RDD."""
    from oaxaca_blinder_rs_spark.mcp_server import STATS_CACHE_ENTRIES

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    server = McpServer(spark)
    for i in range(STATS_CACHE_ENTRIES + 2):
        _call(server, "forensic_decomposition", {"bootstrap_reps": 0, "csv_content": CSV.replace("25.0", f"{25 + i}.5")})
        assert len(server._stats) <= STATS_CACHE_ENTRIES
    assert len(server._stats) == STATS_CACHE_ENTRIES
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_concurrent_calls_match_serial_calls(spark):
    """Two threads reviewing the same company on one server get the answers
    a serial review gets."""
    pdf, csv = _company_csv(n=200, seed=8)
    base = _company_args(csv)

    def review(server):
        out = [_tool(server, "forensic_decomposition", {**base, "bootstrap_reps": 100})]
        out.append(_tool(server, "simulate_remediation", {**base, "budget": 20000.0}))
        for name, extra in _review_calls(pdf, out[-1]):
            out.append(_tool(server, name, {**base, **extra}))
        return out

    serial = review(McpServer(spark))
    shared = McpServer(spark)
    results, errors = [None, None], []

    def run(i):
        try:
            results[i] = review(shared)
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for got in results:
        _assert_close(got, serial)


def test_stats_cache_under_threads():
    """Threads asking for the same companies at once share one entry per
    company (a lost update would hand two of them different entries), and
    a stream of new companies never leaves more than the bound."""
    import sys

    from oaxaca_blinder_rs_spark.mcp_server import STATS_CACHE_ENTRIES, _StatsCache

    cache = _StatsCache(STATS_CACHE_ENTRIES)
    shared = [{**BASE_ARGS, "csv_content": f"{CSV}# {i}"} for i in range(STATS_CACHE_ENTRIES // 2)]
    seen = [[] for _ in shared]
    sizes = []
    n_threads = 8
    barrier = threading.Barrier(n_threads, timeout=60)

    def work(t):
        for j in range(3000):
            i = j % len(shared)
            seen[i].append(cache.get(shared[i]))
        barrier.wait()  # evictions start only after every shared lookup
        for j in range(50):
            cache.get({**BASE_ARGS, "csv_content": f"{CSV}# {t}-{j}"})
            sizes.append(len(cache))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert all(len({id(e) for e in entries}) == 1 for entries in seen)
    assert max(sizes) <= STATS_CACHE_ENTRIES


# ---------------------------------------------------------------------------
# HTTP/SSE transport (meridian-mcp/src/main.rs:254-520 semantics)
# ---------------------------------------------------------------------------

import urllib.error
import urllib.request

import pytest

from oaxaca_blinder_rs_spark.mcp_server import McpServer, make_sse_server

API_KEY = "test-key-123"


@pytest.fixture(scope="module")
def sse_server(spark):
    httpd = make_sse_server(0, API_KEY, McpServer(spark))
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{port}"
    httpd._shutting_down = True
    httpd.shutdown()
    httpd.server_close()


def _post(base, payload, headers=None, path="/sse"):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json", **(headers or {})},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            return r.status, dict(r.headers), r.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read()


def _initialize(base):
    code, headers, body = _post(
        base,
        {"jsonrpc": "2.0", "id": 1, "method": "initialize"},
        {"x-api-key": API_KEY},
    )
    assert code == 200
    sid = headers.get("Mcp-Session-Id")
    assert sid
    assert json.loads(body)["result"]["serverInfo"]["name"] == "meridian-mcp-spark"
    return sid


def test_sse_initialize_and_tools_list(sse_server):
    sid = _initialize(sse_server)
    code, headers, body = _post(
        sse_server,
        {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
        {"x-api-key": API_KEY, "Mcp-Session-Id": sid},
    )
    assert code == 200
    assert headers.get("Content-Type") == "application/json"
    names = {t["name"] for t in json.loads(body)["result"]["tools"]}
    assert len(names) == 5 and "forensic_decomposition" in names


def test_sse_tools_call_end_to_end(sse_server):
    sid = _initialize(sse_server)
    code, _, body = _post(
        sse_server,
        {
            "jsonrpc": "2.0", "id": 3, "method": "tools/call",
            "params": {"name": "forensic_decomposition",
                       "arguments": {**BASE_ARGS, "bootstrap_reps": 0}},
        },
        {"authorization": f"Bearer {API_KEY}", "Mcp-Session-Id": sid},
        path="/messages",  # the alternate POST route
    )
    assert code == 200
    result = json.loads(body)["result"]
    assert result["isError"] is False
    payload = json.loads(result["content"][0]["text"])
    assert payload["total_gap"] == pytest.approx(10.0, abs=1e-6)


def test_sse_auth_and_session_gates(sse_server):
    # no key and no session -> 401 invalid key (auth gate fires first, so an
    # unauthenticated request can never touch or refresh session state)
    code, _, body = _post(sse_server, {"jsonrpc": "2.0", "id": 1, "method": "tools/list"})
    assert code == 401 and b"Invalid API Key" in body
    # authenticated but no session -> 401 naming the missing session header
    code, _, body = _post(
        sse_server,
        {"jsonrpc": "2.0", "id": 1, "method": "tools/list"},
        {"x-api-key": API_KEY},
    )
    assert code == 401 and b"Mcp-Session-Id" in body
    # live session but bad key -> 401 invalid key
    sid = _initialize(sse_server)
    code, _, body = _post(
        sse_server,
        {"jsonrpc": "2.0", "id": 1, "method": "tools/list"},
        {"x-api-key": "wrong", "Mcp-Session-Id": sid},
    )
    assert code == 401 and b"Invalid API Key" in body
    # notification (no id) -> 202 accepted, no body expected
    code, _, _ = _post(
        sse_server,
        {"jsonrpc": "2.0", "method": "notifications/initialized"},
        {"x-api-key": API_KEY, "Mcp-Session-Id": sid},
    )
    assert code == 202


def test_sse_get_stream_announces_endpoint_and_query_session_works(sse_server):
    req = urllib.request.Request(
        sse_server + "/sse", headers={"x-api-key": API_KEY}, method="GET"
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        assert r.status == 200
        assert r.headers.get("Content-Type") == "text/event-stream"
        assert r.readline() == b"event: endpoint\n"
        data = r.readline().decode()
    assert data.startswith("data: http://") and "sessionId=" in data
    sid = data.rsplit("sessionId=", 1)[1].strip()
    # the announced session is live: use it via query param, no header
    code, _, body = _post(
        sse_server,
        {"jsonrpc": "2.0", "id": 9, "method": "ping"},
        {"x-api-key": API_KEY},
        path=f"/sse?sessionId={sid}",
    )
    assert code == 200 and json.loads(body)["result"] == {}


def test_sse_keepalive_refreshes_session(spark):
    # a connected-but-quiet SSE client must not be TTL-swept: the keep-alive
    # loop refreshes the session's idle clock while the stream is open.
    import time as _time

    httpd = make_sse_server(0, API_KEY, McpServer(spark))
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    req = urllib.request.Request(
        base + "/sse", headers={"x-api-key": API_KEY}, method="GET"
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            r.readline()  # event: endpoint
            data = r.readline().decode()
            sid = data.rsplit("sessionId=", 1)[1].strip()
            # rewind the clock, then let at least one keep-alive tick fire
            httpd._sessions[sid] -= 10_000.0
            rewound = httpd._sessions[sid]
            deadline = _time.time() + 10.0
            while _time.time() < deadline and httpd._sessions.get(sid, rewound) <= rewound:
                _time.sleep(0.2)
        assert httpd._sessions[sid] > rewound  # refreshed by the live stream
    finally:
        httpd._shutting_down = True
        httpd.shutdown()
        httpd.server_close()


def test_sse_delete_session(sse_server):
    sid = _initialize(sse_server)
    req = urllib.request.Request(
        sse_server + "/sse",
        headers={"x-api-key": API_KEY, "Mcp-Session-Id": sid},
        method="DELETE",
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        assert r.status == 200
    # session is gone: a second delete 404s and the session no longer posts
    try:
        urllib.request.urlopen(req, timeout=30)
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404
    code, _, _ = _post(
        sse_server,
        {"jsonrpc": "2.0", "id": 1, "method": "tools/list"},
        {"x-api-key": API_KEY, "Mcp-Session-Id": sid},
    )
    assert code == 401


def test_sse_unauthenticated_initialize_mints_no_session(spark):
    # initialize with a bad key -> 401 and NO session minted (the reference
    # stores the session before auth, main.rs:309-373; we check auth first so
    # anonymous clients can't grow server state). Dedicated server so the
    # session map can be inspected directly.
    httpd = make_sse_server(0, API_KEY, McpServer(spark))
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    try:
        sid = _initialize(base)
        before = dict(httpd._sessions)
        code, _, _ = _post(
            base,
            {"jsonrpc": "2.0", "id": 1, "method": "initialize"},
            {"x-api-key": "wrong"},
        )
        assert code == 401
        assert httpd._sessions == before  # nothing minted, nothing refreshed
        # the pre-existing session still works (server state intact)
        code, _, _ = _post(
            base,
            {"jsonrpc": "2.0", "id": 2, "method": "ping"},
            {"x-api-key": API_KEY, "Mcp-Session-Id": sid},
        )
        assert code == 200
    finally:
        httpd._shutting_down = True
        httpd.shutdown()
        httpd.server_close()


def test_sse_unauthenticated_post_does_not_refresh_session(spark):
    # an unauthenticated request naming a live session must not refresh its
    # idle clock (else a keyless client could keep a session alive forever).
    httpd = make_sse_server(0, API_KEY, McpServer(spark))
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    try:
        sid = _initialize(base)
        stamp = httpd._sessions[sid]
        code, _, _ = _post(
            base,
            {"jsonrpc": "2.0", "id": 1, "method": "tools/list"},
            {"x-api-key": "wrong", "Mcp-Session-Id": sid},
        )
        assert code == 401
        assert httpd._sessions[sid] == stamp  # idle clock untouched
    finally:
        httpd._shutting_down = True
        httpd.shutdown()
        httpd.server_close()


def test_sse_session_ttl_sweep(spark):
    # an idle session past the TTL is swept and can no longer be used
    import oaxaca_blinder_rs_spark.mcp_server as m

    httpd = make_sse_server(0, API_KEY, McpServer(spark))
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    try:
        sid = _initialize(base)
        assert sid in httpd._sessions
        # age the session past the TTL by rewinding its last-seen stamp
        httpd._sessions[sid] -= m.SSE_SESSION_TTL_SECS + 1.0
        code, _, body = _post(
            base,
            {"jsonrpc": "2.0", "id": 1, "method": "tools/list"},
            {"x-api-key": API_KEY, "Mcp-Session-Id": sid},
        )
        assert code == 401 and b"Mcp-Session-Id" in body
        assert sid not in httpd._sessions
    finally:
        httpd._shutting_down = True
        httpd.shutdown()
        httpd.server_close()
