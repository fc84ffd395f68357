"""Measurement helpers: nested spans with self time, the CPU and peak RSS of
this process tree read from /proc, Spark job/task counts per job group, and
the summary statistics the benchmark reports."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

KINDS = ("jvm", "driver_py", "pyworker")
COUNTS = ("jobs", "tasks", "failed_tasks")


# -- spans ---------------------------------------------------------------------

class Spans:
    """In-memory spans. A span's self time is its duration minus the time
    covered by its direct children."""

    def __init__(self, clock=time.perf_counter):
        self._clock = clock
        self._stack: list[list] = []
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        start = self._clock()
        parent = self._stack[-1][0] if self._stack else None
        frame = [name, start, 0.0]
        self._stack.append(frame)
        try:
            yield attrs
        finally:
            self._stack.pop()
            dur = self._clock() - start
            if self._stack:
                self._stack[-1][2] += dur
            self.records.append(
                {"name": name, "parent": parent, "start": start, "dur": dur,
                 "self": dur - frame[2], **attrs}
            )


# -- /proc ---------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, str, float]:
    """(ppid, comm, cpu seconds incl. reaped children) from /proc/<pid>/stat."""
    lpar, rpar = text.index("("), text.rindex(")")
    comm = text[lpar + 1:rpar]
    rest = text[rpar + 2:].split()
    ppid = int(rest[1])
    ticks = sum(int(v) for v in rest[11:15])  # utime stime cutime cstime
    return ppid, comm, ticks / _CLK_TCK


def _peak_rss_mb(proc: str, pid: int) -> float:
    try:
        with open(f"{proc}/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def classify(pid: int, comm: str, root: int) -> str | None:
    if pid == root:
        return "driver_py"
    if comm == "java":
        return "jvm"
    if comm.startswith("python") or comm.startswith("pyspark"):
        return "pyworker"
    return None


def process_tree(root: int, proc: str = "/proc") -> dict[int, dict]:
    """Every live process descended from ``root`` (inclusive)."""
    table = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(f"{proc}/{entry}/stat") as fh:
                ppid, comm, cpu = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        table[int(entry)] = (ppid, comm, cpu)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid not in table:
            continue
        _, comm, cpu = table[pid]
        out[pid] = {"comm": comm, "cpu": cpu, "kind": classify(pid, comm, root)}
        todo.extend(children.get(pid, []))
    return out


class ProcSampler:
    """CPU seconds per process kind for this process tree, and the highest
    peak RSS seen per kind. CPU of a worker that exits is folded into its
    parent's reaped-children time, so tree totals stay monotone."""

    def __init__(self, root: int | None = None, proc: str = "/proc"):
        self.root = os.getpid() if root is None else root
        self.proc = proc
        self.peak_mb = {k: 0.0 for k in KINDS}

    def cpu(self) -> dict[str, float]:
        tree = process_tree(self.root, self.proc)
        out = {k: 0.0 for k in KINDS}
        for pid, p in tree.items():
            kind = p["kind"]
            if kind is None:
                continue
            out[kind] += p["cpu"]
            self.peak_mb[kind] = max(self.peak_mb[kind], _peak_rss_mb(self.proc, pid))
        return out


# -- Spark job groups ------------------------------------------------------------

def job_group_counts(sc, group_id: str, settle_s: float = 2.0) -> dict[str, int]:
    """Jobs, completed tasks and failed tasks the group ran. The status store
    is fed by an asynchronous listener, so poll until every job has ended
    and two reads agree."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + settle_s
    last = None
    while True:
        jobs = tracker.getJobIdsForGroup(group_id)
        done, tasks, failed = True, 0, 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                done = False
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        cur = {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
        if (done and cur == last) or time.monotonic() > deadline:
            return cur
        last = cur
        time.sleep(0.05)


# -- summaries -------------------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# -- traced calls ------------------------------------------------------------------

class CallTracer:
    """Per-call job group, job/task counts, CPU per process kind and a span.
    Time spent in the tracer itself is kept as ``overhead_s``."""

    def __init__(self, sc, sampler: ProcSampler | None = None):
        self.sc = sc
        self.sampler = sampler or ProcSampler()
        self.spans = Spans()
        self.calls: list[dict] = []
        self.overhead_s = 0.0
        self._seq = 0

    @contextmanager
    def call(self, name: str):
        t = time.perf_counter()
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(group, name)
        cpu0 = self.sampler.cpu()
        self.overhead_s += time.perf_counter() - t
        with self.spans.span(name, group=group):
            yield
        t = time.perf_counter()
        cpu1 = self.sampler.cpu()
        counts = job_group_counts(self.sc, group)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        rec = {"name": name, "dur": self.spans.records[-1]["dur"], **counts}
        rec.update({f"cpu_{k}": cpu1[k] - cpu0[k] for k in KINDS})
        self.calls.append(rec)
        self.overhead_s += time.perf_counter() - t

    def round_metrics(self, rounds: int) -> dict[str, dict]:
        """Per-round Spark counts and CPU per process kind over the traced
        rounds, peak RSS per kind, and the tracer's own time per round."""
        self.sampler.cpu()  # one last peak-RSS sample
        out = {}
        for c in COUNTS:
            out[f"spark.{c}"] = metric(sum(r[c] for r in self.calls) / rounds, "count")
        for k in KINDS:
            out[f"cpu.{k}_s"] = metric(sum(r[f"cpu_{k}"] for r in self.calls) / rounds, "s")
        for k in KINDS:
            out[f"mem.peak_rss_mb.{k}"] = metric(self.sampler.peak_mb[k], "MB")
        out["trace.overhead_s"] = metric(self.overhead_s / rounds, "s")
        return out
