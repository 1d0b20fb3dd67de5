"""Measurement from outside the program: spans, Spark job counts, host
load, event-log task metrics, driver memory and warehouse file walks.

Nothing here calls into ``dupers_spark``; every number is taken around the
public calls the workloads make.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


# ------------------------------------------------------------ host load

def cpu_snap() -> list[int]:
    """/proc/stat cpu line: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:9]))


def host_load(c0: list[int], c1: list[int]) -> dict:
    """Busy core-seconds and steal% between two snapshots (USER_HZ=100)."""
    d = [b - a for a, b in zip(c0, c1)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {"busy_core_s": busy / 100.0,
            "steal_pct": 100.0 * d[7] / max(1, sum(d))}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------------ file walks

def walk(path: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) for every regular file under ``path``."""
    out: dict[str, tuple[int, int]] = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or rewritten between two walks."""
    new = [v[0] for p, v in after.items() if before.get(p) != v]
    return sum(new), len(new)


def tree_bytes(path: str) -> int:
    return sum(v[0] for v in walk(path).values())


# ------------------------------------------------------------ statistics

def summary(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (reported only when that percentile is at or above the median)."""
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "p50": statistics.median(vals) if vals else None}
    k = n - 10
    if n and k >= (n + 1) // 2:
        out["tail_pct"] = round(100.0 * k / n, 1)
        out["tail"] = vals[k - 1]
    return out


# ------------------------------------------------------------ spans

class Tracer:
    """Spans around public calls: name, start, end, parent, trace id, the
    Spark job-id range the call launched and host load over it. Kept in
    memory; :meth:`dump` writes them when the run ends."""

    def __init__(self, spark, trace_id: str) -> None:
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def last_job_id(self) -> int:
        """Highest job id submitted so far (-1 before any). Read from the
        scheduler's own counter, which moves when a job is submitted; the
        status tracker sees the same ids only once the listener bus has
        delivered the job-start event, which can trail the call's return."""
        return self.sc._jsc.sc().dagScheduler().nextJobId() - 1

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "trace_id": self.trace_id,
               "span_id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        rec["job_lo"] = self.last_job_id() + 1
        c0 = cpu_snap()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec.update(host_load(c0, cpu_snap()))
            rec["jobs"] = self.last_job_id() + 1 - rec["job_lo"]
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


# ------------------------------------------------------------ event log

def fold_event_log(path: str) -> dict[int, dict]:
    """Fold a Spark JSON event log into one record per job: tasks, executor
    CPU and run time, shuffle read/write bytes, spill, and per-stage task
    durations (for max-vs-median skew). A stage's tasks belong to the first
    job that lists the stage; later jobs only skip it."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
                             "shuffle_read_b": 0, "shuffle_write_b": 0,
                             "spill_b": 0, "stage_tasks": {}}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                rec = jobs[jid]
                rec["tasks"] += 1
                rec["cpu_s"] += (m.get("Executor CPU Time", 0)
                                 + m.get("Executor Deserialize CPU Time", 0)
                                 ) / 1e9
                rec["run_s"] += m.get("Executor Run Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics", {})
                rec["shuffle_read_b"] += (rd.get("Remote Bytes Read", 0)
                                          + rd.get("Local Bytes Read", 0))
                wr = m.get("Shuffle Write Metrics", {})
                rec["shuffle_write_b"] += wr.get("Shuffle Bytes Written", 0)
                rec["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                info = ev.get("Task Info", {})
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                rec["stage_tasks"].setdefault(ev["Stage ID"], []).append(dur)
    return jobs


def span_ledger(span: dict, jobs: dict[int, dict]) -> dict:
    """Sum the folded job records inside a span's job-id range."""
    lo, hi = span["job_lo"], span["job_lo"] + span["jobs"]
    out = {"jobs": span["jobs"], "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
           "shuffle_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
    for jid in range(lo, hi):
        rec = jobs.get(jid)
        if rec is None:
            continue
        out["tasks"] += rec["tasks"]
        out["cpu_s"] += rec["cpu_s"]
        out["run_s"] += rec["run_s"]
        out["shuffle_mb"] += (rec["shuffle_read_b"]
                              + rec["shuffle_write_b"]) / 2**20
        out["spill_mb"] += rec["spill_b"] / 2**20
        for durs in rec["stage_tasks"].values():
            if len(durs) >= 4:
                med = statistics.median(durs)
                out["task_skew"] = max(out["task_skew"],
                                       max(durs) / max(med, 1))
    return out


def find_event_log(directory: str) -> str:
    """The single application log Spark wrote into ``directory``."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {directory}: {names}")
    return os.path.join(directory, names[0])
