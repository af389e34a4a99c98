"""Engine counters read from outside the program.

* ``StatusStore``  -- Spark's AppStatusStore (the data behind the web UI),
  read as before/after deltas of jobs and stages around one call.
* ``child_cpu_s``  -- CPU seconds of the JVM's child processes (the pyspark
  daemon and its forked Python workers) from ``/proc``. Stage metrics only
  see JVM task threads, so pandas-UDF work is invisible without this.
* ``tree_cpu_s``   -- CPU seconds of this process and all its descendants.
* ``jit_cpu_s``    -- CPU seconds of the JVM's JIT compiler threads.
* ``RssSampler``   -- peak resident memory (PSS) of the driver Python, the
  JVM and the JVM's Python children, sampled from ``/proc`` on a thread.
* ``ProgressLog``  -- a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# AppStatusStore
# ---------------------------------------------------------------------------


@dataclass
class Delta:
    """Jobs and stages that ran during one call."""

    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)


class StatusStore:
    """Reads new jobs and stages from the live AppStatusStore.

    ``stageList`` has five Scala parameters with defaults; py4j cannot see
    Scala defaults, so a one-argument call fails with "Method
    stageList([null]) does not exist". Each default is fetched from its
    ``stageList$default$N`` accessor and passed explicitly. Both lists come
    newest first, so a delta reads only the head of each list and serialises
    it to JSON inside the JVM (one py4j round trip instead of one per field).
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        jvm = spark._jvm  # noqa: SLF001
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._stage_defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)
        ]
        self._bus.waitUntilEmpty()
        self._last_job = self._newest(self._jobs_seq(), "jobId")
        self._last_stage = self._newest(self._stages_seq(), "stageId")

    def _jobs_seq(self):
        return self._store.jobsList(None)

    def _stages_seq(self):
        return self._store.stageList(None, *self._stage_defaults)

    @staticmethod
    def _newest(seq, key: str) -> int:
        if seq.isEmpty():
            return -1
        head = seq.head()
        return head.jobId() if key == "jobId" else head.stageId()

    def _since(self, seq, key: str, last: int) -> list[dict]:
        newest = self._newest(seq, key)
        if newest <= last:
            return []
        # ids are dense, so the new entries are the first (newest - last)
        # ones; stage retries add attempts, hence the slack
        head = seq.take(newest - last + 16)
        rows = json.loads(self._json.writeValueAsString(self._conv.asJava(head)))
        return [r for r in rows if r[key] > last]

    def delta(self) -> Delta:
        """Jobs and stages started since the previous call (or construction).

        Waits for the listener bus first: task and stage-end events reach the
        status store asynchronously after an action returns.
        """
        self._bus.waitUntilEmpty()
        jobs = self._since(self._jobs_seq(), "jobId", self._last_job)
        stages = self._since(self._stages_seq(), "stageId", self._last_stage)
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        if stages:
            self._last_stage = max(s["stageId"] for s in stages)
        return Delta(jobs, stages)


def job_busy_s(jobs: list[dict], t0: float, t1: float) -> float:
    """Length of the union of job intervals inside [t0, t1] (epoch seconds)."""
    spans = sorted(
        (max(j["submissionTime"] / 1e3, t0), min(j["completionTime"] / 1e3, t1))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    )
    busy, end = 0.0, t0
    for a, b in spans:
        a = max(a, end)
        if b > a:
            busy += b - a
            end = b
    return busy


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    rest = raw[raw.rindex(b")") + 2 :].split()
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return int(rest[1]), ticks / _TICK


def _processes() -> dict[int, tuple[int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, procs: dict[int, tuple[int, float]] | None = None) -> list[int]:
    """Pids of every live descendant of ``root``."""
    procs = _processes() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def child_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used by the JVM's child processes so far.

    Live children (the pyspark daemon and its workers) report their own
    utime/stime plus the c-times of children they reaped; children the JVM
    itself reaped are in the JVM's cutime/cstime. Together that is every
    Python worker's CPU, dead or alive, and excludes the JVM's own threads.
    """
    procs = _processes()
    try:
        with open(f"/proc/{jvm_pid}/stat", "rb") as f:
            rest = f.read().rsplit(b")", 1)[1].split()
    except OSError:
        return 0.0
    # rest[0] is field 3 (state); cutime and cstime are fields 16 and 17
    reaped = (int(rest[13]) + int(rest[14])) / _TICK
    return reaped + sum(procs[p][1] for p in descendants(jvm_pid, procs))


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant, reaped
    or alive: the driver Python, the JVM (every thread, including JIT and
    GC), the launcher it reaped and the Python workers. Time the hypervisor
    steals from a virtual CPU is charged to none of them."""
    procs = _processes()
    return sum(procs[p][1] for p in [os.getpid(), *descendants(os.getpid(), procs)] if p in procs)


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. They must
    live as long as the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``):
    the CPU of a thread that exited can no longer be told apart."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index(b"(") + 1 : raw.rindex(b")")]
        if name.startswith((b"C1 CompilerThre", b"C2 CompilerThre")):
            rest = raw[raw.rindex(b")") + 2 :].split()
            total += int(rest[11]) + int(rest[12])
    return total / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes sharing it. Forked pyspark workers share most of their
    pages with the daemon, so summing plain RSS would count them repeatedly."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of this process, the JVM and the
    JVM's descendants."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.25) -> None:
        self._jvm_pid = jvm_pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self.peak_bytes = 0

    def sample(self) -> int:
        pids = [os.getpid(), self._jvm_pid, *descendants(self._jvm_pid)]
        total = sum(_pss_bytes(p) for p in pids)
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress report, in arrival order.

    Reports reach Python on the listener bus; ``StatusStore``-style callers
    wait for ``listenerBus().waitUntilEmpty()`` before reading them.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = list(p.stateOperators)
        row = {
            "name": p.name,
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
        }
        with self._lock:
            self._batches.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def since(self, start: int) -> list[dict]:
        with self._lock:
            return list(self._batches[start:])

    def __len__(self) -> int:
        with self._lock:
            return len(self._batches)
