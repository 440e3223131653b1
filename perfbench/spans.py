"""Measurement: process CPU and memory from ``/proc``, and spans whose
Spark work is read back from Spark's own event log.

Every span sets a Spark job group named after it, so each job, stage
and task the program launches inside the span is attributed to it by
Spark itself. The event log is written uncompressed (the default
codec needs a module this environment lacks) and parsed once, after
the session stops.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
GROUP_PREFIX = "perfbench-"


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_table() -> dict[int, tuple[str, int, float]]:
    """pid -> (comm, ppid, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            raw = Path(f"/proc/{name}/stat").read_text()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        # fields after comm: state ppid ... utime(12) stime cutime cstime
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
        out[int(name)] = (comm, int(f[1]), cpu)
    return out


def _descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _jit_cpu(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            raw = Path(f"/proc/{pid}/task/{tid}/stat").read_text()
        except OSError:
            continue
        if raw[raw.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = raw[raw.rindex(")") + 2:].split()
            total += (int(f[11]) + int(f[12])) / _TICK
    return total


def cpu_split() -> dict[str, float]:
    """CPU seconds so far of this driver, its JVM (with the launcher
    that exec'd it, less its JIT compiler threads), those JIT threads,
    and the Python workers the JVM forked."""
    table = _stat_table()
    me = os.getpid()
    split = {"driver": 0.0, "jvm": 0.0, "jit": 0.0, "pyworker": 0.0}
    jvm_tree: set[int] = set()
    for pid in _descendants(table, me):
        comm, _, cpu = table[pid]
        if pid == me:
            split["driver"] += cpu
        elif comm == "java":
            jvm_tree.update(_descendants(table, pid))
            jit = _jit_cpu(pid)
            split["jit"] += jit
            split["jvm"] += cpu - jit
        elif pid in jvm_tree and comm.startswith("python"):
            split["pyworker"] += cpu
        else:
            split["jvm"] += cpu
    return split


def all_descendants() -> list[int]:
    return _descendants(_stat_table(), os.getpid())[1:]


def java_pids() -> list[int]:
    table = _stat_table()
    return [p for p in _descendants(table, os.getpid()) if table[p][0] == "java"]


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of this driver and of its JVM, in MiB."""
    out = {}
    for role, pids in (("driver", [os.getpid()]), ("jvm", java_pids())):
        kb = 0
        for pid in pids:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        out[role] = kb / 1024.0
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans in memory: name, start, end, parent, pass id, counts.

    When ``sc`` is None the tracer records nothing and sets no job
    group, so untraced passes pay only a context-manager call.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str, cpu: bool = False):
        """``cpu`` also records the CPU split across the span; reading
        it from ``/proc`` costs a few milliseconds, so only pass spans
        take it."""
        if self.sc is None:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "counts": {}}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        cpu0 = cpu_split() if cpu else None
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            if cpu:
                cpu1 = cpu_split()
                rec["counts"].update({f"{k}_cpu_s": cpu1[k] - cpu0[k] for k in cpu0})
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent}", self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def attach_spark(self, log: "EventLog") -> None:
        """Fill each span's counts with the Spark work of its own job
        group (self counts: a parent's jobs exclude its children's)."""
        for rec in self.spans:
            rec["counts"].update(log.group_counts(f"{GROUP_PREFIX}{rec['id']}"))

    def children(self, sid: int | None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(self.spans[s])
            todo.extend(c["id"] for c in self.children(s))
        return out

    def self_time(self, rec: dict) -> float:
        covered = union_length([(c["start"], c["end"]) for c in self.children(rec["id"])])
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


class EventLog:
    """Jobs, stages and task metrics from one uncompressed event log,
    keyed by the job group each was launched under."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0, "end": None}
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    self.stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                        "id": info["Stage ID"],
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "tasks": [], "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0}
                elif kind == "SparkListenerTaskEnd":
                    st = self.stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics")
                    if st is None or m is None:
                        continue
                    info = ev["Task Info"]
                    st["tasks"].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                    st["run_s"] += m["Executor Run Time"] / 1000.0
                    st["cpu_s"] += m["Executor CPU Time"] / 1e9
                    st["gc_s"] += m["JVM GC Time"] / 1000.0
                    st["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    st["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    st["input_bytes"] += m["Input Metrics"]["Bytes Read"]

    def group_counts(self, group: str) -> dict:
        jobs = [j for j in self.jobs.values() if j["group"] == group]
        stages = [s for s in self.stages.values() if s["group"] == group]
        return {
            "jobs": len(jobs),
            "job_spans": [(j["start"], j["end"]) for j in jobs if j["end"] is not None],
            "stages": len(stages),
            "tasks": sum(len(s["tasks"]) for s in stages),
            # the last stage to run: for a sink, the one that writes
            "final_stage_tasks": len(max(stages, key=lambda s: s["id"])["tasks"]) if stages else 0,
            "exec_run_s": sum(s["run_s"] for s in stages),
            "exec_cpu_s": sum(s["cpu_s"] for s in stages),
            "gc_s": sum(s["gc_s"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spill_bytes": sum(s["spill_bytes"] for s in stages),
            "input_bytes": sum(s["input_bytes"] for s in stages),
            # per stage: (executor seconds, task durations), for the
            # hottest-stage skew figures
            "stage_tasks": [(s["run_s"], s["tasks"]) for s in stages],
        }

    def jobs_between(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs.values() if start <= j["start"] <= end]
