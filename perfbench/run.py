"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload mcp_review --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same workload with per-call job groups, /proc CPU
sampling and spans, prints the per-layer metrics, and writes the full trace
to ``.perfbench_work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oaxaca_blinder_rs_spark"
WORKLOAD_NAMES = ("mcp_review", "iterative_estimators")
END_TO_END = {"setup_s": "s", "round_s": "s"}
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "3g"
DEADLINE_S = 170.0
PROBE_MODULES = [
    f"{PACKAGE}.builder",
    f"{PACKAGE}.quantile_builder",
    f"{PACKAGE}.functions.linalg",
    f"{PACKAGE}.functions.mathx",
    f"{PACKAGE}.operators.bootstrap",
    f"{PACKAGE}.operators.glm",
    f"{PACKAGE}.operators.heckman",
]


class SetupFailed(Exception):
    pass


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_environment(work: str) -> None:
    """Everything this run writes stays under ``work``; the package zip that
    executors import is rebuilt from this tree; BLAS runs one thread per
    process so four executor workers do not oversubscribe the cores."""
    dirs = {k: os.path.join(work, k) for k in ("graft", "spark-local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_TMP": dirs["graft"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '{jvm_opts}' --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })


def probe_executor_code(spark, graft_dir: str) -> None:
    """Fail unless executor Python workers import the package from the tree
    being measured: same bytes as the driver's files, loaded from this run's
    freshly shipped zip or from the tree itself."""
    import hashlib

    want = {}
    for name in PROBE_MODULES:
        path = os.path.join(ROOT, *name.split(".")) + ".py"
        with open(path, "rb") as fh:
            want[name] = hashlib.sha256(fh.read()).hexdigest()
    names = list(want)

    def report(batches):
        import hashlib as hl
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        rows = []
        for n in names:
            mod = importlib.import_module(n)
            rows.append((n, mod.__file__, hl.sha256(mod.__loader__.get_data(mod.__file__)).hexdigest()))
        yield pd.DataFrame(rows, columns=["module", "file", "sha"])

    got = (spark.range(0, CPUS, numPartitions=CPUS)
           .mapInPandas(report, "module string, file string, sha string").collect())
    roots = (os.path.realpath(graft_dir) + os.sep, os.path.realpath(ROOT) + os.sep)
    bad = [r for r in got if r["sha"] != want[r["module"]] or not os.path.realpath(r["file"]).startswith(roots)]
    if not got or bad:
        raise SetupFailed(f"executors run other code than this tree: {bad[:3] or 'no probe rows'}")


class Runner:
    def __init__(self):
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.first_round: dict[str, float] = {}
        self.durations: dict[str, list[float]] = {}
        self.rounds: list[float] = []
        self.outputs: list[tuple] = []  # (call, output, round), checked after timing

    def invoke(self, call, r: int, tracer=None):
        """Run one call; return (output, seconds), or None if it failed."""
        self.attempted += 1
        try:
            with tracer.call(call.name) if tracer else contextlib.nullcontext():
                t = time.perf_counter()
                try:
                    out = call.fn()
                finally:
                    dt = time.perf_counter() - t
        except Exception:  # the program failed or refused the call
            self.failed += 1
            print(f"[perfbench] round {r} {call.name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        return out, dt

    def check_all(self) -> None:
        """Check every kept output, in call order, once timing is over."""
        from .checks import Checker

        for call, out, r in self.outputs:
            ck = Checker()
            try:
                call.check(ck, out)
            except Exception as e:
                ck.true(f"{call.name}.check_raised", False, f"{type(e).__name__}: {e}")
            self.failures += [f"round {r}: {m}" for m in ck.failures]

    def run_round(self, calls, r: int, tracer=None) -> None:
        """One round: the calls in order, each sent after the previous one
        returned. Round 0 warms every call shape and counts as set-up."""
        total = 0.0
        for call in calls:
            res = self.invoke(call, r, tracer)
            if res is None:
                continue
            out, dt = res
            self.outputs.append((call, out, r))
            total += dt
            if r == 0:
                self.first_round[call.name] = dt
            else:
                self.durations.setdefault(call.name, []).append(dt)
        if r:
            self.rounds.append(total)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"[perfbench] {PACKAGE} not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    configure_environment(work)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwind through the cleanup below
    gateway = {}
    watchdog = threading.Timer(DEADLINE_S, _abort, args=(gateway,))
    watchdog.daemon = True
    watchdog.start()
    try:
        result, trace = execute(args, gateway)
    except SetupFailed as e:
        print(f"[perfbench] setup failed: {e}", file=sys.stderr)
        return 3
    finally:
        watchdog.cancel()
        _stop(gateway)
        shutil.rmtree(work, ignore_errors=True)
    if trace is not None:
        out_dir = os.path.join(base, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(trace, fh, indent=1)
    print(json.dumps(result))
    return 0


def _abort(gateway) -> None:
    print("[perfbench] run exceeded its deadline", file=sys.stderr)
    _stop(gateway)
    os._exit(4)


def _stop(gateway) -> None:
    """Stop Spark, then the JVM (and with it the Python worker daemon), and
    wait for it to exit."""
    spark = gateway.pop("spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    except Exception:
        pass
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def execute(args, gateway: dict):
    from . import tracing
    from .workloads import WORKLOADS

    import oaxaca_blinder_rs_spark as ob

    runner = Runner()
    t0 = time.perf_counter()
    spark = ob.get_spark(f"perfbench-{args.workload}")
    gateway["spark"] = spark
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    probe_executor_code(spark, os.environ["SPARK_GRAFT_TMP"])
    probe_s = time.perf_counter() - t0 - get_spark_s
    wl = WORKLOADS[args.workload](spark, args.seed)
    wl.setup()
    inputs_s = time.perf_counter() - t0 - get_spark_s - probe_s
    runner.run_round(wl.round(0), 0)
    setup_s = time.perf_counter() - t0
    warmup_s = setup_s - get_spark_s - probe_s - inputs_s

    tracer = tracing.CallTracer(spark.sparkContext) if args.trace else None
    start, r = time.perf_counter(), 1
    while True:
        runner.run_round(wl.round(r), r, tracer=tracer)
        r += 1
        if time.perf_counter() - start >= args.seconds:
            break
    t = time.perf_counter()
    runner.check_all()
    checks_s = time.perf_counter() - t

    med = {name: tracing.median(v) for name, v in runner.durations.items()}
    for f in runner.failures[:20]:
        print(f"[perfbench] check failed: {f}", file=sys.stderr)
    detail = {"workload": args.workload, "seed": args.seed, "rounds_s": runner.rounds,
              "setup_s": setup_s, "get_spark_s": get_spark_s, "probe_s": probe_s, "inputs_s": inputs_s,
              "warmup_s": warmup_s, "checks_s": checks_s,
              "first_round_call_s": runner.first_round,
              "call_median_s": med, "check_failures": len(runner.failures)}
    if runner.durations and runner.failed == 0:
        detail.update(wl.detail(med))
    print("DETAIL " + json.dumps(detail), file=sys.stderr)
    result = {"correct": not runner.failures, "attempted": runner.attempted, "failed": runner.failed}
    if tracer is None:
        values = {
            "setup_s": setup_s,
            "round_s": tracing.median(runner.rounds),
        }
        result["metrics"] = {k: tracing.metric(values[k], unit) for k, unit in END_TO_END.items()}
        return result, None
    from . import layers
    from .checks import Checker

    ck = Checker()
    measured = layers.measure(spark, args.seed, tracer.spans, ck)
    for f in ck.failures:
        print(f"[perfbench] layer check failed: {f}", file=sys.stderr)
    result["correct"] = result["correct"] and not ck.failures
    metrics = {"session.get_spark_s": tracing.metric(get_spark_s, "s")}
    metrics.update(tracer.round_metrics(len(runner.rounds)))
    for name, value in measured.items():
        metrics[name] = tracing.metric(value, "ns" if name.endswith("_ns_per_value") else "s")
    result["metrics"] = metrics
    return result, {"detail": detail, "calls": tracer.calls, "spans": tracer.spans.records}


if __name__ == "__main__":
    if __package__ in (None, ""):
        sys.path.insert(0, ROOT)
        __package__ = "perfbench"
        import perfbench  # noqa: F401
    sys.exit(main())
