"""MCP server tests: tools/list parity with meridian-mcp and end-to-end tool
calls through the JSON-RPC handler."""

import json

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


def _review(server, call=_call):
    """One pay-equity review through all five tools, in client order."""
    call(server, "forensic_decomposition", {"bootstrap_reps": 5})
    opt = call(server, "simulate_remediation", {"budget": 0.0, "reference_group": "M"})
    call(server, "generate_efficient_frontier", {"steps": 5, "reference_group": "M"})
    adj = [{"index": a["index"], "value": a["adjustment"]} for a in opt["adjustments"] if a["adjustment"] > 0]
    call(server, "verify_adjustments", {"adjustments": adj, "reference_group": "M"})
    adj[0]["predictor_overrides"] = {"education": 18.0}
    call(server, "check_defensibility", {"adjustments": adj, "reference_group": "M"})


# Spark jobs per tool on CSV (local[4], 8 shuffle partitions), counted by
# job group. Before the decision layer shared one cast, one stats pass and
# one prefix scan per request, the same calls ran 8 / 32 / 36 / 14 / 8.
TOOL_JOB_CEILINGS = {
    "forensic_decomposition": 8,
    "simulate_remediation": 13,
    "generate_efficient_frontier": 15,
    "verify_adjustments": 11,
    "check_defensibility": 8,
}


def test_tool_job_counts(spark):
    sc = spark.sparkContext
    server = McpServer(spark)
    jobs = {}

    def counting(server, name, extra):
        group = f"test-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            out = _call(server, name, extra)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        return out

    _review(server, counting)
    assert all(jobs[t] <= TOOL_JOB_CEILINGS[t] for t in TOOL_JOB_CEILINGS), jobs


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


# ---------------------------------------------------------------------------
# HTTP/SSE transport (meridian-mcp/src/main.rs:254-520 semantics)
# ---------------------------------------------------------------------------

import threading
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
