"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 1 --trace 0

Run from the repository root.  The run generates its inputs from
``--seed`` (cached under ``.bench_build/perfbench``), builds the session
the way the CLI does (``get_spark()``, ``local[nproc]``), runs one cold
pass, then warm passes until ``--seconds`` have been measured (at
least one), checks the outputs, and prints one JSON object as the last
stdout line:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
is a detail record: host shape and noise probes, seed, versions and
the figures that are not metrics.

``--trace 1`` installs call-span wrappers, sets a Spark job group per
operation and turns the Spark event log on; its metrics are the
per-layer ones (see BENCHMARK.json).  Warm passes then alternate
spans off / on (at least three passes), and ``trace.overhead_s`` is the
difference of their medians.  Spans and the per-job-group event-log roll-up are
written to ``.bench_build/perfbench/trace/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
import tracing  # noqa: E402


def _environ() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let Python workers import the repo's packages."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class Ctx:
    def __init__(self, args):
        self.build = os.path.join(BUILD, args.workload)
        self.tracer = None
        self.corrupt = args.corrupt_output
        self.late_across_batches = args.late_across_batches


def _setup(workload, extra_conf=None):
    """Imports + get_spark + input listing: the timed set-up."""
    t = time.perf_counter()
    import pyspark  # noqa: F401
    from yaetos_spark.session import get_spark

    import_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_spark(extra_conf=extra_conf)
    get_spark_s = time.perf_counter() - t
    inputs = workload.list_inputs()
    return spark, import_s, get_spark_s, time.perf_counter() - t, inputs


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits
    when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _install_spans(tracer) -> None:
    from yaetos_spark.job import SparkJob
    from yaetos_spark.plans.flow import Flow
    from yaetos_spark.plans.registry import Registry

    tracer.wrap(Flow, "run_pipeline", "plans.flow")
    tracer.wrap(Registry, "job_params", "plans.job_params")
    tracer.wrap("yaetos_spark.job", "expand_path", "plans.expand_path")
    tracer.wrap(SparkJob, "etl", "job.etl")
    tracer.wrap(SparkJob, "etl_no_io", "job.build")
    tracer.wrap("yaetos_spark.job", "check_pk", "job.pk_check")
    tracer.wrap("yaetos_spark.job", "save_output", "sources.save_output", after=_write_sizes)
    tracer.wrap("yaetos_spark.job", "load_input", "sources.load_input")
    tracer.wrap("yaetos_spark.sources.readers", "load_input", "sources.load_input")
    for mod, fn in OPERATORS:
        tracer.wrap(mod, fn, f"operators.{fn}")
    tracer.wrap("yaetos_spark.streaming.upsert", "merge_batch_into_snapshot", "streaming.merge")


# the operators each corpus job calls, at the name the job module uses
OPERATORS = [
    ("jobs.examples.bpe_tokenize_job", "bpe_train"),
    ("jobs.examples.dedup_pipeline_job", "minhash_lsh_pairs"),
    ("jobs.examples.dedup_pipeline_job", "dedup_clusters"),
    ("jobs.examples.quality_filter_job", "gopher_filter"),
    ("jobs.examples.line_dedup_job", "dedup_corpus_lines"),
    ("jobs.examples.mix_corpus_job", "mix_to_target"),
]

SPARK_LAYER = [
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
    "python_s", "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "input_bytes", "output_bytes",
]


def _write_sizes(rec, args, kwargs, _out) -> None:
    from workloads import _data_files, _local

    spec = args[1] if len(args) > 1 else kwargs.get("spec", {})
    files = _data_files(_local(spec.get("path", "")))
    rec["files"] = len(files)
    rec["bytes"] = sum(os.path.getsize(f) for f in files)


def _percentile(values: list[float], q: float) -> float:
    xs = sorted(values)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _tail(values: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least 10 samples beyond it."""
    for q in (99, 95, 90, 75, 50):
        if len(values) * (100 - q) / 100 >= 10:
            return f"op_p{q}_s", _percentile(values, q / 100)
    return None


def _layer_metrics(w, tracer, rollup, job_starts, warm, traced, wall_per_pass, cores) -> dict:
    n_tr = max(1, len(traced))
    n_warm = max(1, len(warm))
    per = lambda v: v / n_tr  # noqa: E731
    m = {
        "job.build_s": per(tracer.total("job.build", traced)),
        "job.build_spark_jobs": per(
            tracing.jobs_in(job_starts, tracer.intervals("job.build", traced))
        ),
        "job.pk_check_s": per(tracer.total("job.pk_check", traced)),
        "job.etl_s": per(tracer.total("job.etl", traced)),
        "sources.save_output_s": per(tracer.total("sources.save_output", traced)),
        "sources.bytes_written": per(tracer.field_sum("sources.save_output", "bytes", traced)),
        "sources.files_written": per(tracer.field_sum("sources.save_output", "files", traced)),
        "sources.load_input_s": per(tracer.total("sources.load_input", traced)),
        "plans.flow_self_s": per(tracer.total("plans.flow", traced) - tracer.total("job.etl", traced)),
        "plans.job_params_s": per(tracer.total("plans.job_params", traced)),
        "plans.expand_path_s": per(tracer.total("plans.expand_path", traced)),
        "plans.expand_path_calls": per(tracer.count("plans.expand_path", traced)),
    }
    for _mod, fn in OPERATORS:
        m[f"operators.{fn}.build_s"] = per(tracer.total(f"operators.{fn}", traced))
    n_q = max(1, tracer.count("entry.build", traced))
    m.update({
        "entry.build_s": tracer.total("entry.build", traced) / n_q,
        "entry.exec_s": tracer.total("entry.exec", traced) / n_q,
        "entry.build_spark_jobs": tracing.jobs_in(job_starts, tracer.intervals("entry.build", traced)) / n_q,
    })
    n_b = max(1, tracer.count("streaming.merge", traced))
    st = getattr(w, "stream", None) or {}
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    m.update({
        "streaming.spark_jobs_per_batch": tracing.jobs_in(
            job_starts, tracer.intervals("streaming.merge", traced)
        ) / n_b,
        "streaming.buckets_touched": mean(st.get("buckets_touched", [])),
        "streaming.files_written_per_batch": mean(st.get("files_written", [])),
        "streaming.write_amp": mean(st.get("write_amp", [])),
        "streaming.read_p50_s": statistics.median(w.reads[1:]) if getattr(w, "reads", [])[1:] else 0.0,
        "streaming.snapshot_bytes_per_row": getattr(w, "snapshot_bytes_per_row", 0.0),
    })
    totals = dict.fromkeys(SPARK_LAYER, 0.0)
    for group, acc in rollup.items():
        if _pass_of(group) in warm:
            for k in SPARK_LAYER:
                totals[k] += acc[k]
    for k in SPARK_LAYER:
        m[f"spark.{k}"] = totals[k] / n_warm
    base = wall_per_pass * cores
    m["spark.cpu_util"] = m["spark.executor_cpu_s"] / base if base else 0.0
    m["spark.cpu_util_base_s"] = base
    return m


def _pass_of(group) -> int | None:
    if not group or ":p" not in group:
        return None
    try:
        return int(group.split(":")[1][1:])
    except ValueError:
        return None


END_TO_END = {"setup_s": "s", "cold_s": "s", "pass_s": "s", "op_p50_s": "s"}

# per-layer metric -> unit; job/plans/sources/operators/spark figures are
# per warm pass, entry.* per query, streaming.* per micro-batch
PER_LAYER = {
    "job.build_s": "s", "job.build_spark_jobs": "count",
    **{f"operators.{fn}.build_s": "s" for _mod, fn in OPERATORS},
    "job.pk_check_s": "s", "job.etl_s": "s",
    "sources.save_output_s": "s", "sources.bytes_written": "B",
    "sources.files_written": "count", "sources.load_input_s": "s",
    "plans.flow_self_s": "s", "plans.job_params_s": "s",
    "plans.expand_path_s": "s", "plans.expand_path_calls": "count",
    "entry.build_s": "s", "entry.exec_s": "s", "entry.build_spark_jobs": "count",
    "streaming.spark_jobs_per_batch": "count", "streaming.buckets_touched": "count",
    "streaming.files_written_per_batch": "count", "streaming.write_amp": "ratio",
    "streaming.read_p50_s": "s", "streaming.snapshot_bytes_per_row": "B/row",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.fetch_wait_s": "s", "spark.spill_bytes": "B", "spark.python_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.input_bytes": "B",
    "spark.output_bytes": "B", "spark.cpu_util": "ratio", "spark.cpu_util_base_s": "s",
    "session.get_spark_s": "s", "session.peak_rss_mb": "MB", "trace.overhead_s": "s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="smoke size: 500 documents, a short CDC stream")
    ap.add_argument("--corrupt-output", action="store_true",
                    help="corrupt one checked output row (tests the correctness gate)")
    ap.add_argument("--late-across-batches", action="store_true",
                    help="cdc_upsert: late rows arrive one batch after the newer row")
    args = ap.parse_args(argv)

    from workloads import WORKLOADS

    if importlib.util.find_spec("yaetos_spark") is None:
        raise SystemExit(f"yaetos_spark is not importable from {ROOT}")
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    _environ()
    ctx = Ctx(args)
    w = WORKLOADS[args.workload](ctx)
    cache = os.path.join(BUILD, "inputs")

    pre_import_s = time.perf_counter() - T_START
    noise_before = host.noise()
    t = time.perf_counter()
    w.prepare(cache, args.seed, args.small)
    gen_s = time.perf_counter() - t

    extra = None
    log_dir = os.path.join(ctx.build, "eventlog")
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        extra = tracing.event_log_conf(log_dir)
    spark, import_s, get_spark_s, rest_s, inputs = _setup(w, extra)
    setup_s = pre_import_s + import_s + rest_s
    cores = spark.sparkContext.defaultParallelism
    w.start(spark)
    if args.trace:
        ctx.tracer = tracing.Tracer()
        _install_spans(ctx.tracer)
        ctx.tracer.enabled = True
        spark.sparkContext.setJobGroup("bench:other", "bench:other")

    # cold pass, then warm passes for the measured window
    if ctx.tracer is not None:
        ctx.tracer.pass_no = 0
    cold = w.run_pass(0)
    warm: list[dict] = []
    traced: list[int] = []
    # traced runs: spans off, on, off, so warm-up trends do not read as
    # tracing overhead
    min_warm = 3 if args.trace else 1
    limit = w.max_passes() - 1
    t_win = time.perf_counter()
    while len(warm) < limit and (
        len(warm) < min_warm or time.perf_counter() - t_win < args.seconds
    ):
        i = len(warm) + 1
        if ctx.tracer is not None:
            ctx.tracer.pass_no = i
            ctx.tracer.enabled = (i % 2 == 0)
            if ctx.tracer.enabled:
                traced.append(i)
        warm.append(w.run_pass(i))
    measured_s = time.perf_counter() - t_win
    if ctx.tracer is not None:
        ctx.tracer.enabled = False
        spark.sparkContext.setJobGroup("bench:verify", "bench:verify")
    t = time.perf_counter()
    details = w.verify()
    verify_s = time.perf_counter() - t

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = host.vm_hwm_mb(jvm_pid) + host.vm_hwm_mb()
    versions = {"spark": spark.version, "pyspark": __import__("pyspark").__version__,
                "python": sys.version.split()[0]}
    t = time.perf_counter()
    _stop(spark)
    stop_s = time.perf_counter() - t

    pass_times = [p["pass_s"] for p in warm]
    ops = [x for p in warm for x in p["ops"]]
    e2e = {
        "setup_s": setup_s,
        "cold_s": cold["pass_s"],
        "pass_s": statistics.median(pass_times),
        "op_p50_s": statistics.median(ops),
    }
    tail = _tail(ops)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {**host.shape(), "cores_used": cores, "noise_before": noise_before,
                 "noise_after": host.noise()},
        "versions": versions,
        "get_spark_s": get_spark_s,
        "input_gen_s": gen_s,
        "verify_s": verify_s,
        "stop_s": stop_s,
        "inputs": inputs,
        "warm_passes": len(warm),
        "measured_s": measured_s,
        "pass_times_s": pass_times,
        "op_times_s": [p["ops"] for p in [cold, *warm]],
        "ops": len(ops),
        "op_tail": {tail[0]: tail[1]} if tail else None,
        "failed_frac": w.failed / max(1, w.attempted),
        "peak_rss_mb": peak_rss_mb,
        "errors": w.errors[:20],
        **details,
    }
    if hasattr(w, "reads"):
        detail["read_p50_s"] = statistics.median(w.reads[1:]) if w.reads[1:] else None
        detail["snapshot_bytes_per_row"] = getattr(w, "snapshot_bytes_per_row", None)
        n_q = len(w.QUERIES)
        detail["query_p50_s"] = (
            statistics.median(w.query_times[n_q:]) if w.query_times[n_q:] else None
        )

    if args.trace:
        rollup, job_starts = tracing.rollup_event_log(log_dir)
        untraced = [p["pass_s"] for i, p in enumerate(warm, 1) if i not in traced]
        traced_t = [p["pass_s"] for i, p in enumerate(warm, 1) if i in traced]
        layer = _layer_metrics(
            w, ctx.tracer, rollup, job_starts, set(range(1, len(warm) + 1)), set(traced),
            statistics.mean(pass_times), cores,
        )
        layer["session.get_spark_s"] = get_spark_s
        layer["session.peak_rss_mb"] = peak_rss_mb
        layer["trace.overhead_s"] = statistics.median(traced_t) - statistics.median(untraced)
        detail["trace_file"] = _write_trace(ctx, args, rollup)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    detail["end_to_end"] = e2e

    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": metrics,
    }))
    return 0


def _write_trace(ctx, args, rollup) -> str:
    out_dir = os.path.join(BUILD, "trace")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}_seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"spans": ctx.tracer.spans, "job_groups": {str(k): v for k, v in rollup.items()}}, fh)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
