"""Self-test of the benchmark.

    python3 -m pytest perfbench -q

Runs one short run of every workload at sf0.001, untraced and traced, and
checks that every metric named in BENCHMARK.json is printed with its unit
and that no operation failed. Also tests the engine-counter readers on a
small session of their own.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


WORKLOADS = [w["name"] for w in _bench()["workloads"]]


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", "7",
        "--seconds", "1",
        "--trace", str(trace),
        "--scale", "sf0.001",
    ]  # fmt: skip
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = _run(workload, trace=0)
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] > 0
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


# per workload, per-layer metrics that must be non-zero because that layer
# does work there
BUSY_LAYERS = {
    "batch_sql": [
        "sources.scan_s",
        "operators.tpch.jobs",
        "operators.windows.stages",
        "plans.build_s",
        "plans.driver_gap_s",
    ],
    "streaming_replay": [
        "streaming.stateful.python_cpu_s",
        "streaming.queries.jobs",
        "streaming.microbatches",
        "streaming.state_rows",
        "streaming.add_batch_ms",
    ],
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    res = _run(workload, trace=1)
    assert res["correct"] is True and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name in BUSY_LAYERS[workload]:
        assert res["metrics"][name]["value"] > 0, name
    assert res["metrics"]["trace.pass_wall_s"]["value"] > 0


def test_bare_directory_fails_without_result(tmp_path):
    """Without the program next to it the benchmark exits non-zero and
    prints no result line."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in ("run.py", "__init__.py"):
        with open(os.path.join(HERE, name)) as f:
            (bench / name).write_text(f.read())
    out = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "batch_sql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=60, cwd=tmp_path,
    )  # fmt: skip
    assert out.returncode != 0
    assert "correct" not in out.stdout


# ---------------------------------------------------------------------------
# counter readers
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-probes")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_status_store_reads_job_and_stage_deltas(spark):
    from perfbench.probes import StatusStore, job_busy_s

    store = StatusStore(spark)
    assert store.delta().jobs == []  # nothing ran since construction
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    d = store.delta()
    assert len(d.jobs) >= 1
    assert len(d.stages) >= 2  # map side and reduce side of the shuffle
    assert sum(s["shuffleWriteBytes"] for s in d.stages) > 0
    assert all(s["executorRunTime"] >= 0 for s in d.stages)
    t0 = min(j["submissionTime"] for j in d.jobs) / 1e3
    t1 = max(j["completionTime"] for j in d.jobs) / 1e3
    assert 0 < job_busy_s(d.jobs, t0, t1) <= t1 - t0 + 1e-9
    assert store.delta().stages == []  # a second read sees nothing new


def test_child_cpu_counts_python_workers(spark):
    from perfbench.probes import child_cpu_s

    jvm_pid = spark._jvm.ProcessHandle.current().pid()  # noqa: SLF001

    def burn(batches):
        for b in batches:
            sum(i * i for i in range(2_000_000))
            yield b

    before = child_cpu_s(jvm_pid)
    spark.range(4).repartition(2).mapInPandas(burn, "id long").collect()
    assert child_cpu_s(jvm_pid) - before > 0.1


def test_tree_cpu_counts_reaped_children():
    from perfbench.probes import tree_cpu_s

    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(5_000_000))"], check=True)
    assert tree_cpu_s() - before > 0.1


def test_job_busy_merges_overlapping_jobs():
    from perfbench.probes import job_busy_s

    jobs = [
        {"submissionTime": 1000, "completionTime": 3000},
        {"submissionTime": 2000, "completionTime": 4000},
        {"submissionTime": 6000, "completionTime": 7000},
    ]
    assert job_busy_s(jobs, 0.0, 10.0) == pytest.approx(4.0)
    assert job_busy_s(jobs, 2.5, 6.5) == pytest.approx(2.0)
