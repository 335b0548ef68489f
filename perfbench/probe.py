"""Measurement plumbing: process CPU and memory from ``/proc``, the span
recorder used by traced runs, and Spark job/stage metrics.

Nothing here reaches into ``linkml_store_spark``; spans are recorded by
wrapping the benchmark's own calls into the package's public API.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

_CLK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> Optional[str]:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def _stat_fields(pid: int) -> Optional[List[str]]:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_start_time() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    btime = next(
        int(line.split()[1])
        for line in (_read("/proc/stat") or "").splitlines()
        if line.startswith("btime ")
    )
    return btime + int(_stat_fields(os.getpid())[19]) / _CLK


def process_tree(root: Optional[int] = None) -> List[int]:
    """``root`` (default: this process) and every live descendant: the
    Spark JVM, and the Python workers the JVM forks."""
    root = os.getpid() if root is None else root
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def is_running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def jvm_pid() -> Optional[int]:
    """The Spark driver JVM: the java child of this process."""
    for pid in process_tree()[1:]:
        cmd = _read(f"/proc/{pid}/cmdline") or ""
        if "java" in cmd.split("\0")[0]:
            return pid
    return None


def cpu_seconds(pids: List[int]) -> Dict[int, float]:
    """user+system CPU seconds per live pid."""
    out = {}
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            out[pid] = (int(f[11]) + int(f[12])) / _CLK
    return out


def cpu_delta_s(before: Dict[int, float], after: Dict[int, float]) -> float:
    """CPU spent between two snapshots; a process born in between counts
    from zero."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (``steal`` in /proc/stat), in seconds."""
    fields = (_read("/proc/stat") or "cpu 0").splitlines()[0].split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def peak_rss_mb(pid: Optional[int]) -> float:
    """VmHWM (peak resident set) of one process, in MiB."""
    if pid is None:
        return 0.0
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def pct(values: List[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100] (0.0 for no values)."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """Span recorder around the benchmark's calls into the package.

    Off (``enabled=False``) it only yields; on, each span records name,
    layer, start, end, parent and call id, and a top-level span sets the
    Spark job group to its call id so the jobs it launched can be found
    afterwards."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "group": None, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        if parent is None:
            rec["group"] = f"pb-{sid}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if parent is None:
                self.sc.setJobGroup("pb-idle", "idle")

    @staticmethod
    def self_times_of(spans: List[dict]) -> Dict[str, float]:
        """Per-layer self time in ms: each span minus the time its
        children cover (children run sequentially, so their durations
        add)."""
        child_ms: Dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]) * 1000
        out: Dict[str, float] = {}
        for s in spans:
            own = (s["end"] - s["start"]) * 1000 - child_ms.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out


def span_cost_s(sc, n_spans: int, reps: int = 200) -> float:
    """Tracing overhead of ``n_spans`` spans: the measured cost of an
    empty top-level span (bookkeeping plus two job-group calls) times the
    span count."""
    t = Tracer(sc, enabled=True)
    t0 = time.perf_counter()
    for _ in range(reps):
        with t.span("empty", "trace"):
            pass
    return (time.perf_counter() - t0) / reps * n_spans


STAGE_FIELDS = (
    "num_tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_ms",
)


def stage_table(sc, groups: List[str]) -> List[dict]:
    """One row per stage of every job launched under ``groups``, from the
    status tracker (job -> stage ids) and the in-process status store
    (per-stage executor metrics; available with the UI disabled)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    rows = []
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage never ran (skipped)
                    continue
                rows.append({
                    "group": group, "job": jid, "stage": sid,
                    "name": sd.name()[:80],
                    "num_tasks": sd.numTasks(),
                    "executor_run_ms": sd.executorRunTime(),
                    "executor_cpu_ms": sd.executorCpuTime() / 1e6,
                    "shuffle_read_bytes": sd.shuffleLocalBytesRead()
                    + sd.shuffleRemoteBytesRead(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "gc_ms": sd.jvmGcTime(),
                })
    return rows


def spark_totals(sc, groups: List[str], n_ops: int, stages: List[dict]) -> dict:
    """``spark.*_per_op`` metrics over the given job groups."""
    tracker = sc.statusTracker()
    jobs = sum(len(tracker.getJobIdsForGroup(g)) for g in groups)
    n = max(n_ops, 1)
    out = {
        "spark.jobs_per_op": jobs / n,
        "spark.stages_per_op": len(stages) / n,
        "spark.tasks_per_op": sum(r["num_tasks"] for r in stages) / n,
    }
    for f in STAGE_FIELDS[1:]:
        out[f"spark.{f}_per_op"] = sum(r[f] for r in stages) / n
    return out
