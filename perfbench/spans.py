"""Measurement helpers of the benchmark: host readings, process-tree CPU
and memory, an in-memory span tracer, and a parser for Spark's own
event log.

Everything here reads ``/proc`` or files the run itself wrote; nothing
reaches into the library under test.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ host
def host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    return {"nproc": os.cpu_count() or 1, "mem_total_gb": mem_kb / 2**20}


class HostSample:
    """Wall time, steal seconds and 1-minute load over one interval: the
    one noise helper every timing goes through.

    ``net_s`` is the wall time less the hypervisor's steal: /proc/stat
    sums steal over all vCPUs, and each running thread loses its own
    vCPU's share, so the wall time a thread loses is steal / vCPUs. On a
    host whose steal comes in bursts of tens of seconds, this is what
    keeps one run comparable with the next; ``wall_s`` stays recorded.
    """

    def __init__(self) -> None:
        self.t0, self.steal0 = time.perf_counter(), _steal_ticks()

    def close(self) -> dict:
        wall = time.perf_counter() - self.t0
        steal = (_steal_ticks() - self.steal0) / _CLK_TCK
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
        return {"wall_s": wall, "steal_s": steal, "load1": load1,
                "net_s": wall - steal / (os.cpu_count() or 1)}


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


# --------------------------------------------------------- process tree
def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # process ended between listing and reading
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> float:
    """utime+stime of ``root`` and all its live descendants, plus what
    they reaped from children that already ended."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after the name: utime=11 stime=12 cutime=13 cstime=14
        total += sum(int(v) for v in f[11:15])
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def reset_peak_rss(pid: int) -> None:
    """Restart VmHWM so it covers only what follows (Linux clear_refs 5).
    Where that is not allowed, VmHWM keeps the process's whole life."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("VmHWM:"))
    return kb / 1024


# ----------------------------------------------------------------- spans
class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    When enabled, each span also tags the Spark jobs it starts with
    ``setJobDescription("<run>/<span id>")`` so the event log can be cut
    per span afterwards. When disabled it only times, and tags nothing.
    """

    def __init__(self, sc, run_id: str, enabled: bool) -> None:
        self.sc, self.run_id, self.enabled = sc, run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.enabled:
            self.sc.setJobDescription(f"{self.run_id}/{rec['id']}")
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self._stack[-1] if self._stack else None
                self.sc.setJobDescription(
                    None if parent is None else f"{self.run_id}/{parent}")

    def descendants(self, span_id: int) -> set[int]:
        out = {span_id}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in out:
                out.add(s["id"])
        return out


# ------------------------------------------------------------- event log
_TASK_KEYS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.peakExecutionMemory": ("peak_exec_mem_bytes", 1),
}

#: SQL operator metrics by display name; timings scale to seconds by
#: their metric type
_SQL_KEYS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes",
    "time in aggregation build": "agg_build_s",
}
_TYPE_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Jobs and stages of one application, read from its uncompressed
    JSON event log, with each job keyed by the span that started it.
    ``log_dir`` is ``spark.eventLog.dir``; Spark 4 writes each
    application as a directory of rolled ``events_<n>_*`` files."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.sql_metric: dict[int, tuple[str, str, str, str]] = {}
        app, = os.listdir(log_dir)
        app = os.path.join(log_dir, app)
        files = [app]
        if os.path.isdir(app):
            rolled = [f for f in os.listdir(app) if f.startswith("events_")]
            files = [os.path.join(app, f) for f in
                     sorted(rolled, key=lambda f: int(f.split("_")[1]))]
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", ()):
            self.sql_metric[m["accumulatorId"]] = (
                info["nodeName"], info.get("simpleString", ""), m["name"],
                m.get("metricType", "sum"))
        for child in info.get("children", ()):
            self._plan(child)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            self.jobs[ev["Job ID"]] = {
                "span": desc, "start": ev["Submission Time"] / 1e3,
                "end": None, "stages": ev["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "tasks": info["Number of Tasks"],
                "acc": {a["ID"]: (a["Name"], _num(a.get("Value")))
                        for a in info.get("Accumulables", ())}}
        elif kind.endswith(("SQLExecutionStart",
                            "SQLAdaptiveExecutionUpdate")):
            self._plan(ev["sparkPlanInfo"])

    def jobs_of(self, run_id: str, span_ids: set[int]) -> list[dict]:
        tags = {f"{run_id}/{i}" for i in span_ids}
        return [j for j in self.jobs.values() if j["span"] in tags]

    def layer_totals(self, jobs: list[dict]) -> dict:
        """exec.* and SQL-operator totals over the stages of ``jobs``.

        ``scan_tasks`` counts only the tasks of stages that ran a file
        scan. ``pair_rows`` is the output of the Generate nodes that
        explode a member-array suffix (``explode(slice(ks, ...))``): the
        candidate pairs of the dedup pair expansion."""
        out = {k: 0.0 for k, _ in _TASK_KEYS.values()}
        out.update({k: 0.0 for k in _SQL_KEYS.values()})
        out.update(jobs=len(jobs), stages=0, tasks=0, scan_tasks=0,
                   pair_rows=0.0)
        peak = 0.0
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st is None:  # skipped: its output was reused
                    continue
                out["stages"] += 1
                out["tasks"] += st["tasks"]
                scans = False
                for acc_id, (name, value) in st["acc"].items():
                    if name in _TASK_KEYS:
                        key, scale = _TASK_KEYS[name]
                        if key == "peak_exec_mem_bytes":
                            peak = max(peak, value)
                        else:
                            out[key] += value * scale
                        continue
                    node, desc, metric, mtype = self.sql_metric.get(
                        acc_id, ("", "", name, "sum"))
                    scans = scans or node.startswith("Scan ")
                    if metric in _SQL_KEYS:
                        out[_SQL_KEYS[metric]] += (
                            value * _TYPE_SCALE.get(mtype, 1))
                    elif (node == "Generate"
                          and metric == "number of output rows"
                          and "explode(slice(" in desc):
                        out["pair_rows"] += value
                if scans:
                    out["scan_tasks"] += st["tasks"]
        out["peak_exec_mem_bytes"] = peak
        return out

    @staticmethod
    def busy_s(jobs: list[dict], start: float, end: float) -> float:
        """Wall time inside [start, end] covered by at least one job."""
        spans = sorted((max(j["start"], start), min(j["end"] or end, end))
                       for j in jobs)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy
