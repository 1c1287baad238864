"""The benchmark's own tests.

    python3 -m pytest perfbench -q

Run from the repository root.  The smoke and gate tests start the
benchmark as a subprocess at smoke size (``--small``: 500 documents, a
short CDC stream), so each costs one Spark start.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# spans a traced run must record at least once, per workload: a rename
# in the program must fail here instead of silently zeroing a layer
REQUIRED_SPANS = {
    "corpus_pipeline": [
        "plans.flow", "plans.job_params", "plans.expand_path", "job.etl", "job.build",
        "job.pk_check", "sources.save_output", "sources.load_input",
        *[f"operators.{fn}" for _mod, fn in run.OPERATORS],
    ],
    "cdc_upsert": ["streaming.merge", "streaming.read", "entry.build", "entry.exec"],
}


def _bench(*args: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--small", "--seconds", "0", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    detail_line, result_line = out.stdout.strip().splitlines()[-2:]
    return json.loads(detail_line)["detail"], json.loads(result_line)


def _task_end(stage, run_ms, cpu_ns, reason="Success", accum=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Failed": reason != "Success",
                      "Accumulables": [{"ID": i, "Update": str(v)} for i, v in accum]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
            "Input Metrics": {"Bytes Read": 100},
            "Output Metrics": {"Bytes Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40,
                                     "Fetch Wait Time": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
        },
    }


def test_event_log_rollup(tmp_path):
    """Task metrics roll up per job group, across the parts of a
    rolling event-log directory, with Python time from plan metrics."""
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    part1 = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w:p1:q"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "WholeStageCodegen", "metrics": [], "children": [
             {"nodeName": "MapInPandas", "children": [], "metrics": [
                 {"name": "time to run Python workers", "accumulatorId": 7,
                  "metricType": "timing"}]}]}},
        _task_end(0, 200, 100_000_000, accum=[(7, 1500), (8, 999)]),
    ]
    part2 = [
        _task_end(1, 300, 50_000_000, reason="ExceptionFailure"),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5_000,
         "Stage IDs": [2], "Properties": {}},
        _task_end(2, 10, 1_000_000),
    ]
    # part 10 sorts before part 2 as text; the reader must order numerically
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in part1))
    (app / "events_10_local-1").write_text("")
    (app / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in part2))
    (app / "appstatus_local-1").write_text("")
    groups, starts = tracing.rollup_event_log(str(tmp_path))
    g = groups["w:p1:q"]
    assert (g["jobs"], g["stages"], g["tasks"], g["failed_tasks"]) == (1, 2, 2, 1)
    assert g["executor_run_s"] == pytest.approx(0.5)
    assert g["executor_cpu_s"] == pytest.approx(0.15)
    assert g["gc_s"] == pytest.approx(0.01)
    assert g["python_s"] == pytest.approx(1.5)
    assert (g["input_bytes"], g["shuffle_write_bytes"], g["shuffle_read_bytes"]) == (200, 100, 80)
    assert g["spill_bytes"] == 14 and g["fetch_wait_s"] == pytest.approx(0.006)
    assert groups[None]["jobs"] == 1 and groups[None]["tasks"] == 1
    assert starts == [(1_000, "w:p1:q"), (5_000, None)]
    assert tracing.jobs_in(starts, [(0.5, 1.5)]) == 1
    assert tracing.jobs_in(starts, [(2.0, 4.0)]) == 0


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_smoke_run(workload):
    """One cold and three warm passes at smoke size: correct, every
    per-layer metric reported, and every span the workload must use
    recorded at least once."""
    detail, result = _bench("--workload", workload, "--seed", "5", "--trace", "1")
    assert result["correct"] and result["failed"] == 0, detail["errors"]
    assert set(result["metrics"]) == set(run.PER_LAYER)
    assert detail["warm_passes"] >= 3
    with open(os.path.join(ROOT, detail["trace_file"])) as fh:
        spans = json.load(fh)["spans"]
    seen = {s["name"] for s in spans}
    missing = [n for n in REQUIRED_SPANS[workload] if n not in seen]
    assert not missing, f"{workload}: no span recorded for {missing}"
    assert result["metrics"]["spark.tasks"]["value"] > 0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_corrupted_output_fails_the_gate(workload):
    detail, result = _bench("--workload", workload, "--seed", "5", "--trace", "0",
                            "--corrupt-output")
    assert result["failed"] > 0 and not result["correct"]
    assert detail["failed_frac"] > 0
    assert set(result["metrics"]) == set(run.END_TO_END)


def test_benchmark_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_upsert", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


# Two program defects the benchmark inputs step around (README.md);
# strict, so fixing either one turns its test red until the mark goes.
@pytest.fixture(scope="module")
def spark():
    from yaetos_spark.session import get_spark

    run._environ()
    return get_spark(app_name="perfbench_tests")


@pytest.mark.xfail(strict=True, reason="gopher_filter divides by the word count: "
                   "an empty document raises DIVIDE_BY_ZERO under ANSI mode")
def test_quality_filter_accepts_an_empty_document(spark):
    from yaetos_spark.operators.curation import gopher_filter

    docs = spark.createDataFrame([(1, ""), (2, "a b c")], "doc_id long, text string")
    rows = {r["doc_id"]: r["passes"] for r in gopher_filter(docs, min_words=1).collect()}
    assert rows[1] is False


@pytest.mark.xfail(strict=True, reason="merge_batch_into_snapshot lets a later batch "
                   "replace a row with a newer order_col (arrival order wins)")
def test_late_row_in_a_later_batch_loses(spark, tmp_path):
    from yaetos_spark.streaming.upsert import merge_batch_into_snapshot, read_snapshot

    snap = str(tmp_path / "snap")
    schema = "id long, ts long, v string"
    merge_batch_into_snapshot(spark.createDataFrame([(1, 20, "new")], schema), snap, ["id"], "ts", 4)
    merge_batch_into_snapshot(spark.createDataFrame([(1, 10, "late")], schema), snap, ["id"], "ts", 4)
    assert [r["v"] for r in read_snapshot(spark, snap).collect()] == ["new"]


@pytest.mark.xfail(strict=True, reason="merge_batch_into_snapshot lets a later batch "
                   "replace a row with a newer order_col (arrival order wins)")
def test_benchmark_gate_with_late_rows_across_batches():
    """The CDC stream variant whose late rows arrive one batch late:
    the benchmark's own gate must hold once the merge orders across
    batches."""
    # traced: three warm batches, so late rows reach the snapshot
    detail, result = _bench("--workload", "cdc_upsert", "--seed", "5", "--trace", "1",
                            "--late-across-batches")
    assert result["correct"], detail["errors"]
