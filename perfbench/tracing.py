"""Spans, Spark status-store readings and process probes.

Nothing here touches the engine's code: spans wrap the calls the
benchmark makes into the engine's public functions, and job/stage
numbers come from Spark's in-process status store, which is populated
with the UI disabled. Each span call runs under its own job group
(``<op id>|<span name>``), so the jobs it fires are attributed to it;
jobs started on other threads (streaming micro-batches) carry no
group of ours. A traced op first skips every job fired before it
(``skip_jobs``) and then takes the jobs fired while it ran
(``new_jobs``), so micro-batch jobs count toward the op that started
the stream, and no job of an earlier op or untraced pass does.
"""

from __future__ import annotations

import json
import os
import re
import signal
import threading
import time
from contextlib import contextmanager

# Python-worker operators in an executed plan: each is a crossing of
# rows out of the JVM into Python (Arrow or pickled batches).
PYTHON_NODES = re.compile(
    r"\b(MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|ArrowEvalPython|BatchEvalPython|AggregateInPandas|WindowInPandas"
    r"|FlatMapGroupsInPandasWithState)\b"
)
JOB_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
)


class Tracer:
    """Records spans in memory; ``dump`` writes them as JSON lines.

    A span is ``(name, start, end, parent, op_id)`` with times in
    seconds since the tracer was created (``time.perf_counter``)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.t0 = time.perf_counter()
        self.epoch0 = time.time()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._last_job = self._max_job_id()

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, op_id: str):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "start": self._now(), "end": None,
               "parent": parent, "op_id": op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(f"{op_id}|{name}", name)
        try:
            yield rec
        finally:
            rec["end"] = self._now()
            self._stack.pop()
            outer = self.spans[self._stack[-1]] if self._stack else None
            if outer is not None:
                self.sc.setJobGroup(f"{op_id}|{outer['name']}", outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def python_nodes(self, df) -> int:
        """Python-worker operators in ``df``'s executed plan (plans
        of persisted inputs are printed inline, so a cached Python
        stage counts wherever it is read)."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(PYTHON_NODES.findall(plan))

    # ----------------------------------------------------- status store

    def _max_job_id(self) -> int:
        jobs = self.jsc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def skip_jobs(self) -> None:
        """Mark every job submitted so far as seen, without reading it."""
        self.jsc.listenerBus().waitUntilEmpty()
        self._last_job = self._max_job_id()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, with stage totals.
        Waits for the listener bus first, so ended jobs are final."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jvm, gw = self.sc._jvm, self.sc._gateway
        jobs = store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            group = j.jobGroup()
            sub, end = j.submissionTime(), j.completionTime()
            rec = {
                "job_id": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "submit": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "complete": end.get().getTime() / 1000 if end.isDefined() else None,
                **{k: 0 for k in JOB_METRICS},
                "jobs": 1,
            }
            sids = j.stageIds()
            for k in range(sids.size()):
                attempts = store.stageData(
                    sids.apply(k), False, jvm.java.util.ArrayList(), False,
                    gw.new_array(jvm.double, 0),
                )
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += s.numTasks()
                    rec["executor_run_s"] += s.executorRunTime() / 1e3
                    rec["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    rec["gc_s"] += s.jvmGcTime() / 1e3
                    rec["input_bytes"] += s.inputBytes()
                    rec["shuffle_read_bytes"] += s.shuffleReadBytes()
                    rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out.append(rec)
        if out:
            self._last_job = max(r["job_id"] for r in out)
        return out

    def epoch(self, t: float) -> float:
        """Tracer time → wall-clock epoch seconds (job timestamps)."""
        return self.epoch0 + t

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


# ----------------------------------------------------------- process probes


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, CPU ticks of the process and its reaped
    children: utime + stime + cutime + cstime) for every process."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            table[int(pid)] = (int(fields[1]), sum(map(int, fields[11:15])))
        except (OSError, IndexError, ValueError):
            continue
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    """``root`` and every process below it."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``, the driver JVM and the
    Python workers (a worker that exited counts in its parent's
    reaped-children time). Unlike wall time, this does not grow when
    the hypervisor steals the machine's CPUs."""
    table = _proc_table()
    ticks = sum(table[p][1] for p in descendants(root, table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_descendants(root: int, timeout: float = 30.0) -> None:
    """SIGTERM every process below ``root``, then SIGKILL what is left
    after ``timeout`` seconds, and return once all of them are gone."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        left = descendants(root)[1:]
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
            try:  # reap our direct children; others are reaped by theirs
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def tree_pss_bytes(root: int) -> int:
    """Proportional resident bytes of ``root`` and all its descendants
    (the driver JVM and its Python workers are children of this
    process). PSS splits each shared page among the processes mapping
    it, so pages a forked Python worker shares with its parent daemon
    count once, however many workers are alive."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory (PSS) in a thread.
    Reading a large JVM's ``smaps_rollup`` walks its page tables
    (~20 ms), so keep ``interval`` well above that."""

    def __init__(self, interval: float) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float | None:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    if total <= 0 or len(delta) < 8:
        return None
    return 100.0 * delta[7] / total
