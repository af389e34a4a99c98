"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 10 --trace 0

Run from anywhere inside a checkout of the repository; everything the run
writes goes under ``.perfbench_work/`` at the checkout root. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (see ``END_TO_END``); with ``--trace 1`` they are the
per-layer ones (``per_layer``), measured on traced passes. README.md in this
directory lists which per-layer metric should move which end-to-end metric.

A run: fit the session to the machine, write the seed's permuted input
tables (untimed), start the session, warm up, make one untimed warm pass
that checks every result against the DuckDB oracle and one uncounted pass
like the timed ones, then run passes over the workload's mix until
``--seconds`` have been measured.

Set-up and passes are measured in CPU seconds of this process and all its
descendants (the JVM and its Python workers), leaving out the JVM's JIT
compiler threads. On a shared virtual machine the hypervisor steals CPU
from the guest in bursts, which stretches wall times by up to three times
from one minute to the next; stolen time is charged to no process, so CPU
seconds repeat where wall times do not. JIT compilation is left out
because it is warm-up whose amount in a measured pass depends on timing:
it was 1-3 s of the 2.5-5 s of CPU a batch query took in the first passes.
Wall times are reported too, per layer, by traced runs. A pass is reported
as the sum over its operations of each operation's median across the run's
passes.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "1g"
# stop starting passes after this long, so a run ends well inside 180 s
PASS_DEADLINE_S = 120

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}
COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "task_run_s": "s",
    "jvm_cpu_s": "s",
    "python_cpu_s": "s",
    "busy_ratio": "ratio",
    "shuffle_write_mb": "MB",
    "input_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
}
STREAM_STAGES = {  # per-layer name -> StreamingQueryProgress.durationMs key
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
}


def per_layer_units(modules) -> dict[str, str]:
    units = {
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "session.setup_wall_s": "s",
        "sources.scan_s": "s",
        "sources.scan_rows_per_s": "rows/s",
        "plans.build_s": "s",
        "plans.action_s": "s",
        "plans.driver_gap_s": "s",
    }
    units.update({f"{m}.{c}": u for m in modules for c, u in COUNTERS.items()})
    units.update({k: "ms" for k in STREAM_STAGES})
    units.update(
        {
            "streaming.microbatch_p50_ms": "ms",
            "streaming.microbatch_p90_ms": "ms",
            "streaming.state_commit_ms": "ms",
            "streaming.state_rows": "count",
            "streaming.state_mb": "MB",
            "streaming.microbatches": "count",
            "trace.pass_wall_s": "s",
            "trace.untraced_pass_wall_s": "s",
            "trace.untraced_rows_per_s": "rows/s",
            "trace.overhead_pct": "%",
        }
    )
    return units


def fit_box(run_dir: str) -> dict[str, str]:
    """Size the session to this machine and keep every file it writes in
    ``run_dir``. Sets environment variables read by the engine and returns
    ``get_spark(extra_conf=...)``; must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    scratch = os.path.join(run_dir, "scratch")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    # a heap of fixed size: a growing heap reaches a different size in every
    # run, depending on when its collections happen
    # and JIT compiler threads that never exit, so their CPU can be left out
    driver_opts = f"{java_opts} -Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads"
    os.makedirs(tmp)
    os.makedirs(scratch)
    pythonpath = [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            # pandas-UDF workers unpickle functions from the package by name
            "PYTHONPATH": os.pathsep.join(pythonpath),
            "TMPDIR": tmp,
            "SPARK_GRAFT_SCRATCH": scratch,
            "SPARK_LOCAL_DIRS": scratch,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
            "SPARK_LAUNCHER_OPTS": java_opts,  # the JVM that builds the driver command
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": driver_opts,
    }


def warm_up(spark) -> None:
    """The first leg of the repository's bench.py warm-up: session and
    codegen bootstrap. The warm pass that follows warms everything else the
    workload uses (scans, Python workers)."""
    spark.range(1000).selectExpr("sum(id)").collect()


def oracle_check(check_oracle, sf_dir: str):
    """(query name, Spark result) -> (ok, reason), against the DuckDB oracle
    of ``tools/check_oracle.py``."""
    from flink_training_exercises_spark.plans.catalog import CATALOG

    con = check_oracle.duck_con(sf_dir)

    def check(name: str, sdf) -> tuple[bool, str]:
        sql = CATALOG[name].oracle
        if sql is None:
            return len(sdf) > 0, "no rows (query has no oracle)"
        # compare() prints dtype-width notes; keep stdout for the result line
        with contextlib.redirect_stdout(sys.stderr):
            problems = check_oracle.compare(name, sdf, con.execute(sql).df())
        return not problems, "; ".join(problems)

    return check


def shutdown(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from perfbench import probes

    gateway = SparkContext._gateway  # noqa: SLF001
    jvm_pid = spark._jvm.ProcessHandle.current().pid()  # noqa: SLF001
    children = probes.descendants(jvm_pid)
    spark.stop()
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in children:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values, q: int) -> float:
    """The q-th percentile (1-99) by linear interpolation; 0 without samples."""
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def op_medians(passes, attr: str) -> dict[str, float]:
    """Operation -> median of ``attr`` (a per-operation dict of each pass)
    over the passes that ran it."""
    samples: dict[str, list[float]] = {}
    for p in passes:
        for op, v in getattr(p, attr).items():
            samples.setdefault(op, []).append(v)
    return {op: median(v) for op, v in samples.items()}


def pass_wall_s(passes) -> float:
    """Wall of one pass: the sum of each operation's median wall."""
    return sum(op_medians(passes, "op_wall_s").values())


def end_to_end(setup_cpu_s: float, passes, peak_rss_bytes: int) -> dict[str, float]:
    return {
        "setup_s": setup_cpu_s,
        "pass_cpu_s": sum(op_medians(passes, "op_cpu_s").values()),
        "peak_rss_mb": peak_rss_bytes / 2**20,
    }


def per_layer(runner, session_s, traced, untraced, scan, modules) -> dict[str, float]:
    """Per-layer values per traced pass (session values per run)."""
    n = len(traced)
    self_s = runner.tracer.self_times()
    scan_s, scan_rows = scan
    out = {
        "session.get_spark_s": session_s[0],
        "session.warmup_s": session_s[1],
        "session.setup_wall_s": session_s[2],
        "sources.scan_s": scan_s,
        "sources.scan_rows_per_s": scan_rows / scan_s if scan_s else 0.0,
        "plans.build_s": self_s.get("plans.build", 0.0) / n,
        "plans.action_s": self_s.get("plans.action", 0.0) / n,
        "plans.driver_gap_s": sum(p.driver_gap_s for p in traced) / n,
    }
    for m in modules:
        cs = [p.modules[m] for p in traced if m in p.modules]
        for c in COUNTERS:
            if c != "busy_ratio":
                out[f"{m}.{c}"] = sum(getattr(x, c) for x in cs) / n
        run_s = out[f"{m}.task_run_s"]
        cpu_s = out[f"{m}.jvm_cpu_s"] + out[f"{m}.python_cpu_s"]
        out[f"{m}.busy_ratio"] = cpu_s / run_s if run_s else 0.0
    batches = [b for p in traced for b in p.batches]
    trigger_ms = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    out["streaming.microbatch_p50_ms"] = percentile(trigger_ms, 50)
    out["streaming.microbatch_p90_ms"] = percentile(trigger_ms, 90)
    for name, key in STREAM_STAGES.items():
        out[name] = median([b["duration_ms"].get(key, 0) for b in batches])
    out["streaming.state_commit_ms"] = median([b["state_commit_ms"] for b in batches])
    out["streaming.state_rows"] = max((b["state_rows"] for b in batches), default=0)
    out["streaming.state_mb"] = max((b["state_bytes"] for b in batches), default=0) / 2**20
    out["streaming.microbatches"] = len(batches) / n
    traced_wall = pass_wall_s(traced)
    untraced_wall = pass_wall_s(untraced)
    out["trace.pass_wall_s"] = traced_wall
    out["trace.untraced_pass_wall_s"] = untraced_wall
    out["trace.untraced_rows_per_s"] = sum(op_medians(untraced, "op_rows").values()) / untraced_wall
    out["trace.overhead_pct"] = 100 * (traced_wall - untraced_wall) / untraced_wall
    return out


def run(args, run_dir: str, extra_conf: dict[str, str]) -> dict:
    from perfbench import probes
    from perfbench.inputs import seeded_tables

    t0, c0 = time.perf_counter(), probes.tree_cpu_s()
    sf_dir = seeded_tables(args.scale, args.seed, WORK)
    inputs_s, inputs_cpu_s = time.perf_counter() - t0, probes.tree_cpu_s() - c0

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle

    from flink_training_exercises_spark.session import get_spark
    from perfbench.trace import Tracer
    from perfbench.workloads import MODULES, WORKLOADS, Runner

    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf=extra_conf)
    get_spark_s = time.perf_counter() - PROCESS_START - inputs_s
    try:
        with tracer.span("session.warmup"):
            t0 = time.perf_counter()
            warm_up(spark)
            warmup_s = time.perf_counter() - t0
        runner = Runner(spark, WORKLOADS[args.workload], sf_dir, args.seed, run_dir, tracer)
        t0 = time.perf_counter()
        runner.stage()
        stage_s = time.perf_counter() - t0
        staged_cpu_s = runner.cpu_s() - inputs_cpu_s
        warm_s, warm_cpu_s = runner.warm_pass(oracle_check(check_oracle, sf_dir))
        # one more pass like the timed ones, not counted: the first pass
        # after the warm pass still runs up to twice as slow per operation
        settle = runner.run_pass(traced=False)
        setup_s = get_spark_s + warmup_s + stage_s + warm_s + sum(settle.op_wall_s.values())
        setup_cpu_s = staged_cpu_s + warm_cpu_s + sum(settle.op_cpu_s.values())

        # a traced run alternates untraced (U) and traced (T) passes as
        # U T T U, so the tracing overhead is measured inside the same run
        # without favouring the later, warmer passes; its passes are whole.
        # An untraced run makes one whole pass, then starts operations until
        # --seconds have been measured.
        order = (False, True, True, False) if args.trace else (False,)
        traced, untraced = [], []
        with probes.RssSampler(runner.jvm_pid) as rss:
            t0 = time.perf_counter()
            deadline = t0 + min(args.seconds, PASS_DEADLINE_S)
            for i in itertools.count():
                elapsed = time.perf_counter() - t0
                whole = i > 0 and i % len(order) == 0
                if whole and (elapsed >= args.seconds or elapsed >= PASS_DEADLINE_S):
                    break
                trace_this = order[i % len(order)]
                cut = deadline if i > 0 and not args.trace else None
                (traced if trace_this else untraced).append(runner.run_pass(trace_this, cut))
        if args.trace:
            with tracer.span("sources"):
                scan = runner.scan()
            runner.add_batch_spans([b for p in traced for b in p.batches])
            metrics = per_layer(runner, (get_spark_s, warmup_s, setup_s), traced, untraced, scan, MODULES)
            units = per_layer_units(MODULES)
            tracer.write(os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(setup_cpu_s, untraced, rss.peak_bytes)
            units = END_TO_END
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    f = runner.failures
    trigger_ms = [b["duration_ms"].get("triggerExecution", 0) for p in untraced for b in p.batches]
    ops = sum(len(p.op_wall_s) for p in untraced + traced)
    print(
        f"workload={args.workload} seed={args.seed} passes={len(untraced)}+{len(traced)}traced "
        f"timed_ops={ops} "
        f"failure_rate={f.failed / f.attempted:.4f} microbatches={len(trigger_ms)} "
        f"microbatch_p50_ms={percentile(trigger_ms, 50):.1f} "
        f"microbatch_p90_ms={percentile(trigger_ms, 90):.1f} "
        f"inputs_s={inputs_s:.2f} get_spark_s={get_spark_s:.2f} warmup_s={warmup_s:.2f} "
        f"stage_s={stage_s:.2f} warm_pass_s={warm_s:.2f} setup_wall_s={setup_s:.2f} "
        f"pass_wall_s={pass_wall_s(untraced):.2f} total_s={time.perf_counter() - PROCESS_START:.1f}",
        flush=True,
    )
    return {
        "correct": f.failed == 0,
        "attempted": f.attempted,
        "failed": f.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", help="base table set under perfbench/data")
    args = ap.parse_args(argv)
    for need in ("flink_training_exercises_spark", os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    if not os.path.isdir(os.path.join(HERE, "data", args.scale)):
        print(f"perfbench: no base tables for scale {args.scale}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    extra_conf = fit_box(run_dir)  # before anything imports the engine
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    print(json.dumps(run(args, run_dir, extra_conf)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
