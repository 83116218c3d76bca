"""Per-layer counters read from outside the package.

``StageReader`` turns the jobs of one Spark job group into the layer
metrics (jobs, stages, tasks, executor time, shuffle, spill, task skew,
driver gap) using the driver's status store, which is filled even with
the UI disabled. ``RssSampler`` tracks the peak resident memory of the
Spark JVM and its Python workers. ``session_cpu_s`` reads the CPU time
spent by the calling process, its JVM and the JVM's Python workers.
"""

from __future__ import annotations

import json
import os
import threading


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class StageReader:
    """``task_details=False`` skips the per-task records, and with them
    ``task_skew`` (reported as 1.0), to keep untraced runs short."""

    def __init__(self, sc, task_details: bool = True):
        jvm = sc._jvm
        self._sc = sc
        self._details = task_details
        self._store = sc._jsc.sc().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(scala_module.__getattr__("MODULE$"))
        # stageData(details=True) needs a non-null quantile array
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._all_status = jvm.java.util.ArrayList()

    def _load(self, obj) -> object:
        return json.loads(self._json.writeValueAsString(obj))

    def group_metrics(self, group: str | None, t0_ms: float, t1_ms: float) -> dict:
        """Metrics of every job in ``group`` (``None``: jobs with no
        group) whose call ran from ``t0_ms`` to ``t1_ms`` (epoch ms)."""
        job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        jobs = [self._load(self._store.job(j)) for j in job_ids]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        m = {"jobs": len(jobs), "stages": 0, "tasks": 0, "exec_run_s": 0.0,
             "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        spans, tail, typical = [], 0.0, 0.0
        for sid in stage_ids:
            for st in self._load(self._store.stageData(
                    sid, self._details, self._all_status, False, self._no_quantiles)):
                if st["status"] not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its shuffle output was reused
                m["stages"] += 1
                m["tasks"] += st["numTasks"]
                m["exec_run_s"] += st["executorRunTime"] / 1e3
                m["shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
                m["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                m["spill_mb"] += st["diskBytesSpilled"] / 1e6
                if st.get("submissionTime") and st.get("completionTime"):
                    spans.append((max(st["submissionTime"], t0_ms),
                                  min(st["completionTime"], t1_ms)))
                durations = sorted(t.get("duration") or 0
                                   for t in (st.get("tasks") or {}).values())
                if len(durations) >= 2:
                    tail += durations[-1]
                    typical += durations[(len(durations) - 1) // 2]
        m["driver_gap_s"] = max(t1_ms - t0_ms - _union_ms(spans), 0.0) / 1e3
        # summed over stages: how much longer stages ran than if every
        # task had taken the stage's median time
        m["task_skew"] = tail / typical if typical else 1.0
        m["supersteps"] = sum(1 for j in jobs if j["name"].startswith("localCheckpoint"))
        return m


_TICKS = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """User + system CPU seconds of every live process in this process's
    session, including the children each has reaped. The worker runs in
    a session of its own, so this covers the driver, the JVM it launched
    and the JVM's Python daemon and workers."""
    sid, ticks = os.getsid(0), 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while listing
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (JVM VmHWM + the VmHWM of its live descendants), sampled
    every ``period`` seconds on a daemon thread."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self._pid, self._period = jvm_pid, period
        self._stop = threading.Event()
        self.peak_kb = 0
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> int:
        kids, todo, total = _children(), [self._pid], 0
        while todo:
            p = todo.pop()
            total += _hwm_kb(p)
            todo.extend(kids.get(p, []))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self._period)

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, self._sample())
        return self.peak_kb / 1024
