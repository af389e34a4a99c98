"""The workloads and the passes that drive them.

Every workload is a closed loop with one client: the next query or drain is
submitted only after the previous one returned. A pass runs the workload's
whole mix once, in an order drawn from the run's seed.

* ``batch_sql``        -- lazy catalog builders plus a noop write: JVM scan,
  filter, aggregate and join plans with no driver loop, no Python worker and
  no streaming state.
* ``streaming_replay`` -- the events table replayed as chronological chunk
  files (one chunk per micro-batch) through stateful streaming operators;
  it never calls ``load_table``.

The engine is driven only through its public calls: ``session.get_spark``,
``sources.load_table``, the ``plans.catalog.CATALOG`` builders,
``streaming.sources.replay_to_files``, the streaming operator functions and
``streaming.queries.drain_availablenow``.
"""

from __future__ import annotations

import contextlib
import gc
import os
import random
import sys
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime

from flink_training_exercises_spark.operators.sessions import streaming_sessionize
from flink_training_exercises_spark.plans.catalog import CATALOG
from flink_training_exercises_spark.sources import load_table
from flink_training_exercises_spark.streaming.queries import drain_availablenow
from flink_training_exercises_spark.streaming.sources import events_stream, replay_to_files
from flink_training_exercises_spark.streaming.stateful import streaming_zscore

from . import probes
from .inputs import row_counts

# The operators/streaming module whose code a builder runs; a query's engine
# counters are charged to it.
MODULE = {
    "ride_cleansing": "operators.relational",
    "popular_places": "operators.windows",
    "travel_time_prediction": "operators.stateful",
    "tpch_q1_pricing_summary": "operators.tpch",
    "tpch_q5_local_supplier": "operators.tpch",
    "sessionize": "streaming.queries",
    "zscore": "streaming.stateful",
}
MODULES = (
    "operators.relational",
    "operators.windows",
    "operators.stateful",
    "operators.tpch",
    "streaming.queries",
    "streaming.stateful",
)
# Input tables each query reads, for rows_per_s on the catalog workloads.
READS = {
    "ride_cleansing": ("events",),
    "popular_places": ("events",),
    "travel_time_prediction": ("events",),
    "tpch_q1_pricing_summary": ("lineitem",),
    "tpch_q5_local_supplier": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
}

# Chunked streaming drains: label -> streaming operator function.
DRAINS = {
    "sessionize": streaming_sessionize,
    "zscore": streaming_zscore,
}
EVENTS_SCHEMA = (
    "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)
REPLAY_CHUNKS = 3


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...] = ()
    drains: tuple[str, ...] = ()

    @property
    def ops(self) -> tuple[str, ...]:
        return self.drains + self.queries

    @property
    def scan_tables(self) -> tuple[str, ...]:
        return tuple(sorted({t for q in self.queries for t in READS.get(q, ())}))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_sql",
            queries=(
                "ride_cleansing",
                "popular_places",
                "travel_time_prediction",
                "tpch_q1_pricing_summary",
                "tpch_q5_local_supplier",
            ),
        ),
        Workload("streaming_replay", drains=("sessionize", "zscore")),
    )
}


# ---------------------------------------------------------------------------
# Results of one pass
# ---------------------------------------------------------------------------


@dataclass
class Counters:
    """Engine counters of one module, summed over calls."""

    jobs: int = 0
    stages: int = 0
    task_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    python_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0

    def add(self, delta: probes.Delta, python_cpu_s: float) -> None:
        self.jobs += len(delta.jobs)
        self.stages += len(delta.stages)
        self.python_cpu_s += python_cpu_s
        for s in delta.stages:
            self.task_run_s += s["executorRunTime"] / 1e3
            self.jvm_cpu_s += s["executorCpuTime"] / 1e9
            self.shuffle_write_mb += s["shuffleWriteBytes"] / 2**20
            self.input_mb += s["inputBytes"] / 2**20
            self.spill_mb += s["diskBytesSpilled"] / 2**20
            self.failed_tasks += s["numFailedTasks"]


@dataclass
class PassResult:
    """One pass, or the part of it that ran before the measuring deadline."""

    op_wall_s: dict[str, float] = field(default_factory=dict)
    op_cpu_s: dict[str, float] = field(default_factory=dict)
    op_rows: dict[str, int] = field(default_factory=dict)  # input rows per operation
    driver_gap_s: float = 0.0
    modules: dict[str, Counters] = field(default_factory=dict)
    batches: list[dict] = field(default_factory=list)


class Failures:
    """Operations attempted and failed (raised, or returned a wrong result)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)


# ---------------------------------------------------------------------------
# Runner
# ---------------------------------------------------------------------------


class Runner:
    """Drives one workload on one session and checks every result."""

    def __init__(self, spark, workload: Workload, sf_dir: str, seed: int, work: str, tracer):
        self.spark = spark
        self.w = workload
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.failures = Failures()
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()  # noqa: SLF001
        self._bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001
        self.status: probes.StatusStore | None = None
        self.progress = probes.ProgressLog()
        spark.streams.addListener(self.progress)
        self.chunk_dir = os.path.join(work, "replay")
        self.expected: dict[str, set] = {}  # drain -> rows of the single-batch drain
        self._table_rows: dict[str, int] = {}

    def cpu_s(self) -> float:
        """CPU seconds so far of this process and its descendants, without
        the JVM's JIT compiler threads."""
        return probes.tree_cpu_s() - probes.jit_cpu_s(self.jvm_pid)

    # -- set-up ------------------------------------------------------------

    def stage(self) -> None:
        """Write the chronological replay chunks (streaming workload only)."""
        if self.w.drains:
            events = self.spark.read.parquet(os.path.join(self.sf_dir, "events.parquet"))
            replay_to_files(events, "ts", self.chunk_dir, n_chunks=REPLAY_CHUNKS)

    def warm_pass(self, oracle) -> tuple[float, float]:
        """One untimed pass that also checks every result.

        Catalog results are collected and compared with the DuckDB oracle;
        chunked drains are compared with a single-batch drain of the same
        function over the whole events file. Returns the wall and CPU
        seconds spent in the engine, which count as set-up; the checks do not.
        """
        engine_s = engine_cpu_s = 0.0
        for op in self.w.ops:
            self.failures.attempted += 1
            t0 = time.perf_counter()
            c0 = self.cpu_s()
            try:
                if op in DRAINS:
                    got = self._take_rows(self._drain(op, self._chunked_stream()))
                    engine_s += time.perf_counter() - t0
                    engine_cpu_s += self.cpu_s() - c0
                    want = self._take_rows(self._drain(op, events_stream(self.spark, self.sf_dir)))
                    self.expected[op] = want
                    ok, why = got == want and len(want) > 0, "chunked != single-batch drain"
                else:
                    pdf = CATALOG[op].spark(self.spark, self.sf_dir).toPandas()
                    engine_s += time.perf_counter() - t0
                    engine_cpu_s += self.cpu_s() - c0
                    ok, why = oracle(op, pdf)
            except Exception as ex:  # noqa: BLE001 -- a failing op is a counted outcome
                ok, why = False, f"raised {type(ex).__name__}: {str(ex)[:300]}"
            if not ok:
                self.failures.fail(f"{op} (warm pass): {why}")
            print(f"warm {op}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
            self._hygiene()
        return engine_s, engine_cpu_s

    # -- timed passes --------------------------------------------------------

    def run_pass(self, traced: bool, deadline: float | None = None) -> PassResult:
        """One pass over the mix in a seeded order; checks what it can.

        With a ``deadline`` (a ``time.perf_counter()`` value) no operation
        starts after it, so the pass may end early.
        """
        res = PassResult()
        if traced and self.status is None:
            self.status = probes.StatusStore(self.spark)
        first_batch = len(self.progress)
        outputs = []
        with self.tracer.span("pass") if traced else contextlib.nullcontext():
            for op in self.rng.sample(self.w.ops, len(self.w.ops)):
                if deadline is not None and time.perf_counter() >= deadline:
                    break
                outputs.append((op, self._timed_op(op, res, traced)))
                self._hygiene()
        self._bus.waitUntilEmpty()  # every progress report is now logged
        res.batches = self.progress.since(first_batch)
        for op, out in outputs:
            if op in DRAINS:
                res.op_rows[op] = sum(b["input_rows"] for b in res.batches if b["name"] == out)
            else:
                res.op_rows[op] = self._rows_read(op)
        self._check(outputs)
        return res

    def _timed_op(self, op: str, res: PassResult, traced: bool):
        """Run one query or drain, adding its times to ``res``; returns its
        output (the memory-sink view name for drains) or None if it raised."""
        self.failures.attempted += 1
        tr = self.tracer if traced else None
        if traced:
            self.status.delta()
            cpu0 = probes.child_cpu_s(self.jvm_pid)
        out = None
        c0 = self.cpu_s()
        t0 = time.time()
        b0 = time.perf_counter()
        with tr.span("op", op=op, module=MODULE[op]) if tr else contextlib.nullcontext() as span:
            try:
                with tr.span("plans.build") if tr else contextlib.nullcontext():
                    if op in DRAINS:
                        built = DRAINS[op](self._chunked_stream())
                    else:
                        built = CATALOG[op].spark(self.spark, self.sf_dir)
                with tr.span("plans.action") if tr else contextlib.nullcontext():
                    if op in DRAINS:
                        view = self._query_name(op)
                        drain_availablenow(built, view)
                        out = view
                    else:
                        built.write.format("noop").mode("overwrite").save()
                        out = built
            except Exception as ex:  # noqa: BLE001 -- a failing op is a counted outcome
                self.failures.fail(f"{op}: raised {type(ex).__name__}: {str(ex)[:300]}")
        b2 = time.perf_counter()
        t1 = time.time()
        res.op_wall_s[op] = b2 - b0
        res.op_cpu_s[op] = self.cpu_s() - c0
        print(f"timed {op}: {b2 - b0:.2f}s wall, {res.op_cpu_s[op]:.2f}s cpu", file=sys.stderr)
        if traced:
            delta = self.status.delta()
            cpu = probes.child_cpu_s(self.jvm_pid) - cpu0
            res.modules.setdefault(MODULE[op], Counters()).add(delta, cpu)
            res.driver_gap_s += (t1 - t0) - probes.job_busy_s(delta.jobs, t0, t1)
            span.attrs.update(jobs=len(delta.jobs), stages=len(delta.stages))
        return out

    def _check(self, outputs) -> None:
        """Chunked drains must equal the single-batch drain. Lazy catalog
        queries were checked against the oracle in the warm pass; re-running
        them here would double the work of a pass."""
        for op, out in outputs:
            if op in DRAINS and out is not None and self._take_rows(out) != self.expected[op]:
                self.failures.fail(f"{op}: chunked drain differs from single-batch drain")

    # -- per-layer extras ------------------------------------------------------

    def scan(self) -> tuple[float, int]:
        """load_table plus a noop write of each input table; (seconds, rows)."""
        total_s = 0.0
        for t in self.w.scan_tables:
            with self.tracer.span("sources.scan", table=t):
                t0 = time.perf_counter()
                load_table(self.spark, t, self.sf_dir).write.format("noop").mode("overwrite").save()
                total_s += time.perf_counter() - t0
        return total_s, sum(self._counts(self.w.scan_tables).values())

    def add_batch_spans(self, batches: list[dict]) -> None:
        """Micro-batch spans, each parented to the drain that ran it."""
        ops = [s for s in self.tracer.spans if s.name == "op"]
        for b in batches:
            start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
            end = start + b["duration_ms"].get("triggerExecution", 0) / 1e3
            parent = next((s for s in ops if s.start <= start <= s.end), None)
            self.tracer.add("streaming.microbatch", start, end, parent, query=b["name"])

    # -- helpers ---------------------------------------------------------------

    @staticmethod
    def _query_name(op: str) -> str:
        return f"perfbench_{op}_{uuid.uuid4().hex[:8]}"

    def _chunked_stream(self):
        return (
            self.spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(self.chunk_dir)
        )

    def _drain(self, op: str, stream) -> str:
        """Drain ``op`` over ``stream``; returns the memory-sink view name."""
        view = self._query_name(op)
        drain_availablenow(DRAINS[op](stream), view)
        return view

    def _take_rows(self, view: str) -> set:
        """Rows of a drained memory-sink table, whose view is then dropped."""
        rows = {tuple(r) for r in self.spark.table(view).collect()}
        self.spark.catalog.dropTempView(view)
        return rows

    def _counts(self, tables) -> dict[str, int]:
        missing = [t for t in tables if t not in self._table_rows]
        self._table_rows.update(row_counts(self.sf_dir, missing))
        return {t: self._table_rows[t] for t in tables}

    def _rows_read(self, op: str) -> int:
        return sum(self._counts(READS.get(op, ())).values())

    def _hygiene(self) -> None:
        # the per-query hygiene of the repository's bench.py: drop caches and
        # Python refs to localCheckpoint RDDs
        self.spark.catalog.clearCache()
        gc.collect()

