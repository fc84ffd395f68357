"""MCP server exposing the engine as JSON tools over stdio AND HTTP/SSE
(SURVEY K6).

Mirrors meridian-mcp (reference meridian-mcp/src/main.rs): the same five
tools with the same input schemas, JSON-RPC 2.0 over stdin/stdout
(main.rs:193-239) or over HTTP with an SSE endpoint-announcement stream
(main.rs:254-520) — session handshake via Mcp-Session-Id header or
sessionId query param, x-api-key / Bearer auth, per-minute rate limit,
2 MiB body cap, CORS for 127.0.0.1. Dependency-free (stdlib json +
http.server); each tool call parses the request's CSV bytes into a Spark
frame and delegates to operators/engine_ops.

A review sends the same company CSV to all five tools, so the server keeps
each company's sufficient statistics between calls: a bounded, lock-guarded
LRU of ``engine_ops.ReviewStats``, keyed by the SHA-256 of ``csv_content``
and the model spec (outcome, group, reference group, predictors,
categorical predictors). An entry holds driver-side state only (the strict
cast's verdict, the per-level point stats, the last decomposition's
bootstrap replicate stats, the default scoring's greedy schedule: at most
``engine_ops.COLLECT_LIMIT`` rows, see ``engine_ops.ReviewStats`` for the
bytes), never a Spark block, and the engine uses it only for the frame
object and model spec it was handed with. The first tool to need an
aggregate computes it; the others skip the cast check and the stats pass,
``verify_adjustments`` derives its bootstrap from decompose's replicates
plus one aggregation over the adjusted rows, and a frontier after a
remediation of the default scoring runs no Spark job. Responses equal
those of a fresh server up to floating-point summation order.

    python -m oaxaca_blinder_rs_spark.mcp_server                 # stdio
    python -m oaxaca_blinder_rs_spark.mcp_server --transport sse \
        --port 8084 --api-key KEY                                # HTTP/SSE
"""

from __future__ import annotations

import hashlib
import json
import math
import sys
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import asdict

MAX_BODY_BYTES = 2 * 1024 * 1024
SSE_RATE_LIMIT_PER_MIN = 60
SSE_SESSION_TTL_SECS = 3600.0  # idle sessions swept after 1h (ref never expires)

RATE_LIMIT_PER_MIN = 30
STATS_CACHE_ENTRIES = 8  # companies whose sufficient statistics a server keeps

TOOLS = [
    {
        "name": "forensic_decomposition",
        "description": "Perform Oaxaca-Blinder pay equity decomposition.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "csv_content": {"type": "string"},
                "outcome_variable": {"type": "string"},
                "group_variable": {"type": "string"},
                "reference_group": {"type": "string"},
                "predictors": {"type": "array", "items": {"type": "string"}},
                "categorical_predictors": {"type": "array", "items": {"type": "string"}},
                "quantile": {"type": "number"},
                "reference_coefficients": {"type": "string", "enum": ["Pooled", "GroupA", "GroupB", "Weighted"]},
                "bootstrap_reps": {"type": "integer"},
            },
            "required": ["csv_content", "outcome_variable", "group_variable", "reference_group", "predictors"],
        },
    },
    {
        "name": "simulate_remediation",
        "description": "Simulate budget allocation to fix identified pay gaps.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "csv_content": {"type": "string"},
                "outcome_variable": {"type": "string"},
                "group_variable": {"type": "string"},
                "reference_group": {"type": "string"},
                "predictors": {"type": "array", "items": {"type": "string"}},
                "budget": {"type": "number"},
                "target": {"type": "string", "enum": ["Reference", "Pooled"]},
                "strategy": {"type": "string", "enum": ["Greedy", "Equitable"]},
                "range_target": {"type": "string", "enum": ["Midpoint", "LowerBound", "UpperBound"]},
            },
            "required": ["csv_content", "outcome_variable", "group_variable", "reference_group", "predictors", "budget"],
        },
    },
    {
        "name": "verify_adjustments",
        "description": "Validate a set of proposed wage adjustments by re-running the decomposition.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "csv_content": {"type": "string"},
                "outcome_variable": {"type": "string"},
                "group_variable": {"type": "string"},
                "reference_group": {"type": "string"},
                "predictors": {"type": "array", "items": {"type": "string"}},
                "adjustments": {
                    "type": "array",
                    "items": {
                        "type": "object",
                        "properties": {"index": {"type": "integer"}, "value": {"type": "number"}},
                        "required": ["index", "value"],
                    },
                },
            },
            "required": ["csv_content", "outcome_variable", "group_variable", "reference_group", "predictors", "adjustments"],
        },
    },
    {
        "name": "check_defensibility",
        "description": "Audit specific adjustments for legal/statistical defensibility with predictor overrides.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "csv_content": {"type": "string"},
                "outcome_variable": {"type": "string"},
                "group_variable": {"type": "string"},
                "reference_group": {"type": "string"},
                "predictors": {"type": "array", "items": {"type": "string"}},
                "adjustments": {
                    "type": "array",
                    "items": {
                        "type": "object",
                        "properties": {
                            "index": {"type": "integer"},
                            "value": {"type": "number"},
                            "predictor_overrides": {"type": "object"},
                        },
                        "required": ["index", "value"],
                    },
                },
            },
            "required": ["csv_content", "outcome_variable", "group_variable", "reference_group", "predictors", "adjustments"],
        },
    },
    {
        "name": "generate_efficient_frontier",
        "description": "Calculate the Efficient Frontier curve (Budget vs Statistical Significance).",
        "inputSchema": {
            "type": "object",
            "properties": {
                "csv_content": {"type": "string"},
                "outcome_variable": {"type": "string"},
                "group_variable": {"type": "string"},
                "reference_group": {"type": "string"},
                "predictors": {"type": "array", "items": {"type": "string"}},
            },
            "required": ["csv_content", "outcome_variable", "group_variable", "reference_group", "predictors"],
        },
    },
]


def _clean_floats(obj):
    if isinstance(obj, float):
        return None if (math.isnan(obj) or math.isinf(obj)) else obj
    if isinstance(obj, dict):
        return {k: _clean_floats(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_clean_floats(v) for v in obj]
    return obj


class _StatsCache:
    """LRU of ``engine_ops.ReviewStats`` by (CSV digest, model spec), at most
    ``bound`` entries; an entry dropped from it is garbage, as it pins no
    Spark block."""

    def __init__(self, bound: int) -> None:
        self.bound = bound
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, args: dict):
        from .operators.engine_ops import ReviewStats, model_spec

        csv = args["csv_content"]
        spec = model_spec(
            args["outcome_variable"], args["group_variable"], args["reference_group"],
            args["predictors"], args.get("categorical_predictors"),
        )
        key = (hashlib.sha256(csv if isinstance(csv, bytes) else csv.encode()).hexdigest(), spec)
        with self._lock:
            entry = self._entries.pop(key, None) or ReviewStats(spec)
            self._entries[key] = entry
            while len(self._entries) > self.bound:
                self._entries.popitem(last=False)
            return entry

    def __len__(self) -> int:
        return len(self._entries)


class McpServer:
    def __init__(self, spark=None):
        self._spark = spark
        self._calls: list[float] = []
        # handle() is invoked from ThreadingHTTPServer handler threads in the
        # SSE transport; guard the sliding-window limiter like the rest of the
        # shared state so concurrent calls can't miscount.
        self._calls_lock = threading.Lock()
        self._stats = _StatsCache(STATS_CACHE_ENTRIES)

    def spark(self):
        if self._spark is None:
            from .session import get_spark

            self._spark = get_spark("meridian-mcp-spark")
            self._spark.sparkContext.setLogLevel("ERROR")
        return self._spark

    # -- tool implementations ------------------------------------------------
    def _frame(self, args):
        from .sources.csv import read_csv_bytes

        return read_csv_bytes(self.spark(), args["csv_content"])

    def call_tool(self, name: str, args: dict):
        from .operators import engine_ops as eo

        if name not in {t["name"] for t in TOOLS}:
            raise ValueError(f"Unknown tool: {name}")
        df = self._frame(args)
        with eo.reusing(self._stats.get(args), df):
            return self._dispatch(name, df, args)

    def _dispatch(self, name: str, df, args: dict):
        from .operators import engine_ops as eo

        outcome = args["outcome_variable"]
        group = args["group_variable"]
        ref = args["reference_group"]
        preds = list(args["predictors"])
        cats = args.get("categorical_predictors")
        rid = "__ob_row_id__"

        if name == "forensic_decomposition":
            res = eo.run_decomposition(
                df, outcome, group, ref, preds, cats,
                bootstrap_reps=int(args.get("bootstrap_reps", 100)),
                reference_coefficients=args.get("reference_coefficients"),
                quantile=args.get("quantile"),
                id_col=rid,
            )
            return asdict(res)
        if name == "simulate_remediation":
            res = eo.optimize(
                df, outcome, group, ref, preds, cats,
                budget=float(args.get("budget", 0.0)),
                strategy=(args.get("strategy") or "Greedy").lower(),
                target=(args.get("target") or "Reference").lower(),
                range_target=(args.get("range_target") or "Midpoint").lower(),
                confidence_level=float(args.get("confidence_level", 0.95)),
                min_gap_pct=float(args.get("min_gap_pct", 0.0)),
                forensic_mode=bool(args.get("forensic_mode", False)),
                adjust_both_groups=bool(args.get("adjust_both_groups", False)),
                id_col=rid,
            )
            try:
                return {
                    "adjustments": [asdict(a) for a in res.adjustments],
                    "total_cost": res.total_cost,
                    "original_gap": res.original_gap,
                    "new_gap": res.new_gap,
                    "original_unexplained_gap": res.original_unexplained_gap,
                    "new_unexplained_gap": res.new_unexplained_gap,
                    "required_budget": res.required_budget,
                    "model_coefficients": [asdict(c) for c in res.model_coefficients],
                }
            finally:
                res.release()  # a long-lived server must not accumulate pinned blocks
        if name == "verify_adjustments":
            adj = [(a["index"], a["value"]) for a in args["adjustments"]]
            res = eo.verify_adjustments(df, adj, outcome, group, ref, preds, cats, id_col=rid)
            return asdict(res)
        if name == "check_defensibility":
            adj = [(a["index"], a["value"]) for a in args["adjustments"]]
            overrides = {
                a["index"]: {k: float(v) for k, v in (a.get("predictor_overrides") or {}).items()}
                for a in args["adjustments"]
                if a.get("predictor_overrides")
            }
            rows = eo.check_defensibility(
                df, adj, outcome, group, ref, preds, cats,
                overrides=overrides or None, id_col=rid,
            ).collect()
            return {"adjustments": [r.asDict() for r in rows]}
        if name == "generate_efficient_frontier":
            pts = eo.efficient_frontier(
                df, outcome, group, ref, preds, cats,
                steps=int(args.get("steps", 50)),
                max_budget=args.get("max_budget"),
                id_col=rid,
            )
            return {"points": [asdict(p) for p in pts]}

    # -- JSON-RPC ------------------------------------------------------------
    def handle(self, req: dict):
        method = req.get("method")
        rid = req.get("id")
        if method == "initialize":
            result = {
                "protocolVersion": "2024-11-05",
                "capabilities": {"tools": {}},
                "serverInfo": {"name": "meridian-mcp-spark", "version": "0.1.0"},
            }
        elif method == "tools/list":
            result = {"tools": TOOLS}
        elif method == "ping":
            result = {}
        elif method == "tools/call":
            now = time.time()
            with self._calls_lock:
                self._calls = [t for t in self._calls if now - t < 60.0]
                limited = len(self._calls) >= RATE_LIMIT_PER_MIN
                if not limited:
                    self._calls.append(now)
            if limited:
                return {
                    "jsonrpc": "2.0", "id": rid,
                    "error": {"code": -32000, "message": "Rate limit exceeded; retry later."},
                }
            params = req.get("params") or {}
            try:
                payload = self.call_tool(params.get("name"), params.get("arguments") or {})
                result = {
                    "content": [{"type": "text", "text": json.dumps(_clean_floats(payload))}],
                    "isError": False,
                }
            except Exception as e:  # tool errors return isError, not protocol errors
                result = {"content": [{"type": "text", "text": str(e)}], "isError": True}
        elif method and method.startswith("notifications/"):
            return None
        else:
            return {
                "jsonrpc": "2.0", "id": rid,
                "error": {"code": -32601, "message": f"Method not found: {method}"},
            }
        return {"jsonrpc": "2.0", "id": rid, "result": result}


# -- HTTP/SSE transport (main.rs:254-520) -----------------------------------


def make_sse_server(port: int, api_key: str, server: McpServer | None = None):
    """Build (not start) the HTTP/SSE transport. Returns a ThreadingHTTPServer
    whose handler mirrors the reference's axum routes:

    - POST /sse or /messages: JSON-RPC. `initialize` mints a session
      (Mcp-Session-Id response header); other calls must present a live
      session via the Mcp-Session-Id header or sessionId/session_id query
      param. Auth via x-api-key or Authorization (raw key or "Bearer key").
      Notifications (no id) return 202.
    - GET /sse: opens an SSE stream announcing the session endpoint
      (`event: endpoint`, data = http://{host}/sse?sessionId={uuid}), then
      keep-alives.
    - DELETE /sse: tears down the session named by Mcp-Session-Id.
    Rate limit: 60 req/min sliding window -> 429. Body cap 2 MiB -> 413.
    """
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    mcp = server or McpServer()
    sessions: dict[str, float] = {}
    hits: list[float] = []
    # ThreadingHTTPServer handles each request on its own thread; the reference
    # guards its session map with an RwLock (main.rs:83) — mirror that here so
    # sliding-window reassignment and session mutation can't race.
    state_lock = threading.Lock()

    def _sweep_expired(now: float) -> None:
        """Drop sessions idle past the TTL (caller holds state_lock). The
        reference never expires sessions (DELETE-only); the sweep bounds
        memory growth for long-lived servers without changing live-session
        behavior, since _session_from_request refreshes last-seen on use."""
        dead = [s for s, t in sessions.items() if now - t > SSE_SESSION_TTL_SECS]
        for s in dead:
            del sessions[s]

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        daemon_threads = True

        def log_message(self, *a):  # quiet
            pass

        # -- shared gates ---------------------------------------------------
        def _rate_ok(self) -> bool:
            now = time.time()
            with state_lock:
                hits[:] = [t for t in hits if now - t < 60.0]
                if len(hits) >= SSE_RATE_LIMIT_PER_MIN:
                    limited = True
                else:
                    hits.append(now)
                    limited = False
            if limited:
                self._plain(429, "Rate limit exceeded")
                return False
            return True

        def _auth_ok(self) -> bool:
            h = self.headers.get("x-api-key") or self.headers.get("authorization")
            if h == api_key or h == f"Bearer {api_key}":
                return True
            self._plain(401, "Invalid API Key")
            return False

        def _plain(self, code: int, msg: str):
            body = msg.encode()
            self.send_response(code)
            self._cors()
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _cors(self):
            self.send_header("Access-Control-Allow-Origin", "http://127.0.0.1")
            self.send_header("Access-Control-Allow-Methods", "GET, POST, DELETE")
            self.send_header(
                "Access-Control-Allow-Headers",
                "content-type, authorization, x-api-key, mcp-session-id",
            )
            self.send_header("Access-Control-Expose-Headers", "mcp-session-id")

        def _session_from_request(self) -> str | None:
            sid = self.headers.get("mcp-session-id")
            if not sid:
                q = parse_qs(urlparse(self.path).query)
                sid = (q.get("sessionId") or q.get("session_id") or [None])[0]
            if not sid:
                return None
            now = time.time()
            with state_lock:
                _sweep_expired(now)
                if sid in sessions:
                    sessions[sid] = now  # refresh idle clock on use
                    return sid
            return None

        # -- routes ---------------------------------------------------------
        def do_OPTIONS(self):  # CORS preflight
            self.send_response(200)
            self._cors()
            self.send_header("Content-Length", "0")
            self.end_headers()

        def do_POST(self):
            if urlparse(self.path).path not in ("/sse", "/messages"):
                return self._plain(404, "Not found")
            if not self._rate_ok():
                return
            try:
                length = int(self.headers.get("content-length", "0"))
            except ValueError:
                return self._plain(400, "Bad Content-Length")
            if length > MAX_BODY_BYTES:
                return self._plain(413, "Payload too large")
            try:
                req = json.loads(self.rfile.read(length))
            except json.JSONDecodeError:
                return self._plain(400, "Parse error")

            # Auth BEFORE any session mutation: the reference stores the
            # session first (main.rs:309-373) so unauthenticated initialize
            # still inserts an entry; checking auth first avoids both that
            # unauthenticated growth and unauthenticated idle-clock refreshes
            # (which would keep a known session alive past the TTL), while
            # keeping identical responses for every request the reference
            # answers (401 either way).
            if not self._auth_ok():
                return
            if req.get("method") == "initialize":
                sid = str(uuid.uuid4())
                now = time.time()
                with state_lock:
                    _sweep_expired(now)
                    sessions[sid] = now
            else:
                sid = self._session_from_request()
                if sid is None:
                    return self._plain(401, "Missing or invalid Mcp-Session-Id header")

            resp = mcp.handle(req)
            if req.get("id") is None:  # notification
                self.send_response(202)
                self._cors()
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body = json.dumps(resp).encode()
            self.send_response(200)
            self._cors()
            self.send_header("Content-Type", "application/json")
            self.send_header("Mcp-Session-Id", sid)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if urlparse(self.path).path != "/sse":
                return self._plain(404, "Not found")
            if not self._rate_ok():
                return
            if not self._auth_ok():
                return
            if self.headers.get("mcp-session-id"):
                return self._plain(405, "Method not allowed")
            host = self.headers.get("host", "localhost")
            sid = str(uuid.uuid4())
            now = time.time()
            with state_lock:
                _sweep_expired(now)
                sessions[sid] = now
            self.send_response(200)
            self._cors()
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            self.wfile.write(
                f"event: endpoint\ndata: http://{host}/sse?sessionId={sid}\n\n".encode()
            )
            self.wfile.flush()
            try:  # keep-alive comments until the client hangs up
                while not self.server._shutting_down:
                    time.sleep(1.0)
                    self.wfile.write(b": keep-alive\n\n")
                    self.wfile.flush()
                    # a live stream counts as activity: refresh the idle clock
                    # so the TTL sweep can't drop a connected-but-quiet client
                    # (don't resurrect a session torn down via DELETE)
                    with state_lock:
                        if sid in sessions:
                            sessions[sid] = time.time()
            except (BrokenPipeError, ConnectionResetError):
                pass

        def do_DELETE(self):
            if urlparse(self.path).path != "/sse":
                return self._plain(404, "Not found")
            if not self._rate_ok():
                return
            if not self._auth_ok():
                return
            sid = self.headers.get("mcp-session-id")
            with state_lock:
                removed = sid is not None and sessions.pop(sid, None) is not None
            if removed:
                return self._plain(200, "OK")
            return self._plain(404, "Not found")

    httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    httpd.daemon_threads = True
    httpd._shutting_down = False
    httpd._sessions = sessions  # exposed for tests
    return httpd


def run_sse_server(port: int, api_key: str, server: McpServer | None = None):  # pragma: no cover
    httpd = make_sse_server(port, api_key, server)
    try:
        httpd.serve_forever()
    finally:
        httpd._shutting_down = True
        httpd.server_close()


def main():  # pragma: no cover - interactive loop; logic covered via handle()
    import argparse

    ap = argparse.ArgumentParser(description="Meridian MCP server (Spark)")
    ap.add_argument("--transport", choices=["stdio", "sse"], default=None)
    ap.add_argument("--port", type=int, default=None)
    ap.add_argument("--api-key", default=None)
    args = ap.parse_args()

    # reference semantics (main.rs:172-188): --port implies SSE; SSE needs a key
    if args.transport == "sse" or args.port is not None:
        if not args.api_key:
            ap.error("--api-key is required for the SSE transport")
        run_sse_server(args.port or 8084, args.api_key)
        return

    server = McpServer()
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        try:
            req = json.loads(line)
        except json.JSONDecodeError:
            continue
        resp = server.handle(req)
        if resp is not None:
            sys.stdout.write(json.dumps(resp) + "\n")
            sys.stdout.flush()


if __name__ == "__main__":
    main()
