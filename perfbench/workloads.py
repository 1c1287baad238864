"""The two benchmark workloads.

Each workload runs passes in one SparkSession: ``run_pass(i)`` returns
the pass wall time and its per-operation latencies, ``verify()`` checks
the outputs after the measured window.  An operation that raises, and
an output that fails its check, both count as failed.

- ``corpus_pipeline``: ``Flow.run_pipeline`` to ``shard_corpus`` over
  the six-job registry DAG in ``corpus_jobs.yml``, real parquet writes
  under a fresh ``base_path`` every pass.  Operation = one job's
  ``etl``.
- ``cdc_upsert``: ``streaming.upsert.merge_batch_into_snapshot`` of one
  micro-batch, a ``read_snapshot`` scan to the noop sink, then two
  ``__spark_entry__.queries()`` analytics queries, each built and run
  to the noop sink with ``session.materialize_fully`` (bench.py's
  method).  Operation = one merge.  The snapshot is checked against a
  DuckDB latest-per-key over every merged batch row, each query
  against its ``oracle_sql()`` on DuckDB.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import time

import pyarrow.parquet as pq
import yaml

import datagen
from checks import digest, same_rows

HERE = os.path.dirname(os.path.abspath(__file__))


def _data_files(path: str) -> list[str]:
    """Data files under ``path``: not hidden, not ``_SUCCESS``-style
    markers, not inside ``_meta``-style sidecar directories (partition
    directories such as ``_bucket=3`` are data)."""
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_")) or "=" in d]
        out += [
            os.path.join(root, n) for n in names
            if not n.startswith((".", "_"))
        ]
    return out


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []

    def max_passes(self) -> int:
        return 10 ** 6

    # -- helpers -------------------------------------------------------
    def op(self, op_id: str, fn, *args):
        """Run one operation; returns (seconds, result or None)."""
        self.attempted += 1
        if self.ctx.tracer is not None:
            self.spark.sparkContext.setJobGroup(op_id, op_id)
            self.ctx.tracer.op = op_id
        t = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as exc:  # a failing op is a measured outcome
            self.failed += 1
            self.errors.append(f"{op_id}: {type(exc).__name__}: {str(exc)[:300]}")
            _log(self.errors[-1])
            out = None
        dt = time.perf_counter() - t
        if self.ctx.tracer is not None:
            self.spark.sparkContext.setJobGroup("bench:other", "bench:other")
            self.ctx.tracer.op = None
        return dt, out

    def check(self, label: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.errors.append(f"check {label}: {problem}")
            _log(self.errors[-1])


# ---------------------------------------------------------------------
class CorpusPipeline(Workload):
    name = "corpus_pipeline"
    TARGET = "shard_corpus"

    def prepare(self, cache: str, seed: int, small: bool) -> None:
        self.n_docs = 500 if small else 5000
        self.digest_key = f"seed{seed}:docs{self.n_docs}"
        self.input_dir = datagen.ensure_documents(cache, seed, self.n_docs)
        with open(os.path.join(HERE, "corpus_jobs.yml")) as fh:
            self.manifest = yaml.safe_load(fh)
        self.manifest["common_params"]["all_mode_params"]["bench_input"] = self.input_dir
        self.digests: list[str] = []
        self.work = os.path.join(self.ctx.build, "corpus")
        shutil.rmtree(self.work, ignore_errors=True)

    def list_inputs(self) -> list[str]:
        return sorted(os.listdir(self.input_dir))

    def start(self, spark) -> None:
        from yaetos_spark.cli import job_factory
        from yaetos_spark.plans.flow import Flow
        from yaetos_spark.plans.registry import Registry

        self.spark = spark
        self.Flow, self.Registry, self.job_factory = Flow, Registry, job_factory
        self.input_ids = set(
            pq.read_table(os.path.join(self.input_dir, "documents.parquet"), columns=["doc_id"])
            .column("doc_id").to_pylist()
        )

    def run_pass(self, i: int) -> dict:
        base = os.path.join(self.work, f"pass{i}")
        manifest = json.loads(json.dumps(self.manifest))
        manifest["common_params"]["all_mode_params"]["base_path"] = base
        registry = self.Registry(manifest)
        make = self.job_factory(registry)
        ops: list[float] = []
        workload = self

        def factory(job_name, params):
            job = make(job_name, params)
            etl = job.etl

            def timed_etl(spark):
                dt, out = workload.op(f"{workload.name}:p{i}:{job_name}", etl, spark)
                ops.append(dt)
                if out is None:
                    raise RuntimeError(f"{job_name} failed")
                return out

            job.etl = timed_etl
            return job

        t = time.perf_counter()
        try:
            self.Flow(registry).run_pipeline(self.spark, self.TARGET, factory)
            ok = True
        except Exception as exc:
            ok = False
            self.errors.append(f"pass {i}: {type(exc).__name__}: {str(exc)[:300]}")
        pass_s = time.perf_counter() - t
        self._check_pass(i, base, ok)
        shutil.rmtree(base, ignore_errors=True)
        return {"pass_s": pass_s, "ops": ops}

    def _check_pass(self, i: int, base: str, ok: bool) -> None:
        if not ok:
            self.check(f"pass {i}", "pipeline did not finish")
            return
        out_root = os.path.join(base, "corpus_shards")
        stamp = sorted(os.listdir(out_root))[-1]
        df = pq.read_table(os.path.join(out_root, stamp)).to_pandas()
        if self.ctx.corrupt and i == 0:
            df.loc[df.index[0], "doc_id"] = -1
        problem = None
        d = digest(df)
        if self.digests and d != self.digests[0]:
            problem = f"row-set digest {d[:12]} differs from pass 0 {self.digests[0][:12]}"
        self.digests.append(d)
        stray = set(df["doc_id"].tolist()) - self.input_ids
        if stray:
            problem = problem or f"{len(stray)} output doc_id not in the input, e.g. {sorted(stray)[:3]}"
        self.check(f"pass {i}", problem)

    def verify(self) -> dict:
        with open(os.path.join(HERE, "digests.json")) as fh:
            recorded = json.load(fh).get(self.digest_key)
        if recorded is not None and self.digests:
            problem = None if self.digests[0] == recorded else (
                f"digest {self.digests[0][:12]} != recorded {recorded[:12]}"
            )
            self.check("recorded digest", problem)
        return {
            "digest": self.digests[0] if self.digests else None,
            "digest_recorded": recorded is not None,
            "n_docs": self.n_docs,
        }


# ---------------------------------------------------------------------
class CdcUpsert(Workload):
    name = "cdc_upsert"
    N_BUCKETS = 64
    # analytics on the same session after every batch, over sf0.01
    # tables: a join tree and an Arrow kernel from bench.HEADLINE
    QUERIES = ["region_revenue", "ann_cosine_topk"]
    SF = 0.01

    def prepare(self, cache: str, seed: int, small: bool) -> None:
        # batches of 64 rows (about 50 distinct keys) touch about 35 of
        # the 64 buckets, so the touched-bucket count can move
        self.base_rows, self.batch_rows, self.n_batches = (
            (2_000, 64, 6) if small else (20_000, 64, 8)
        )
        self.batch_dir = datagen.ensure_cdc(
            cache, seed, self.base_rows, self.batch_rows, self.n_batches,
            self.ctx.late_across_batches,
        )
        self.sf_dir = datagen.ensure_star(cache, seed, self.SF)
        self.snapshot = os.path.join(self.ctx.build, "cdc", "snapshot")
        shutil.rmtree(os.path.dirname(self.snapshot), ignore_errors=True)
        self.merged: list[str] = []
        self.reads: list[float] = []
        self.query_times: list[float] = []
        self.stream: dict[str, list[float]] = {
            "buckets_touched": [], "files_written": [], "write_amp": [],
        }

    def _batch_files(self) -> list[str]:
        return sorted(f for f in os.listdir(self.batch_dir) if f.endswith(".parquet"))

    def list_inputs(self) -> list[str]:
        return self._batch_files() + sorted(os.listdir(self.sf_dir))

    def start(self, spark) -> None:
        import __spark_entry__ as entrymod
        from yaetos_spark.session import materialize_fully
        from yaetos_spark.streaming import upsert

        self.spark = spark
        self.upsert = upsert
        self.materialize = materialize_fully
        self.batches = [os.path.join(self.batch_dir, f) for f in self._batch_files()]
        self.queries = entrymod.queries()
        self.oracles = entrymod.oracle_sql()

    def max_passes(self) -> int:
        return len(self.batches)

    def _files(self) -> dict[str, int]:
        return {p: os.path.getsize(p) for p in _data_files(self.snapshot)} if os.path.isdir(self.snapshot) else {}

    def _merge(self, path: str):
        batch = self.spark.read.parquet(path)
        self.upsert.merge_batch_into_snapshot(
            batch, self.snapshot, keys=["id"], order_col="ts", n_buckets=self.N_BUCKETS
        )

    def _read(self):
        tr = self.ctx.tracer
        fn = lambda: self.materialize(self.upsert.read_snapshot(self.spark, self.snapshot))  # noqa: E731
        return fn() if tr is None else tr.span("streaming.read", fn)

    def _query(self, name: str):
        tr = self.ctx.tracer
        if tr is None:
            return self.materialize(self.queries[name](self.spark, self.sf_dir))
        df = tr.span("entry.build", self.queries[name], self.spark, self.sf_dir)
        return tr.span("entry.exec", self.materialize, df)

    def run_pass(self, i: int) -> dict:
        path = self.batches[i]
        # layout figures of the warm batches, in traced runs only
        before = self._files() if self.ctx.tracer is not None and i > 0 else None
        dt, _ = self.op(f"{self.name}:p{i}:merge", self._merge, path)
        self.merged.append(path)
        if before is not None:
            after = self._files()
            new = {p: s for p, s in after.items() if p not in before}
            touched = {os.path.dirname(p) for p in new} | {
                os.path.dirname(p) for p in before if p not in after
            }
            self.stream["buckets_touched"].append(len(touched))
            self.stream["files_written"].append(len(new))
            self.stream["write_amp"].append(sum(new.values()) / os.path.getsize(path))
        rt, _ = self.op(f"{self.name}:p{i}:read", self._read)
        self.reads.append(rt)
        qt = 0.0
        for name in self.QUERIES:
            t, _ = self.op(f"{self.name}:p{i}:{name}", self._query, name)
            self.query_times.append(t)
            qt += t
            # bench.py's release between queries: operators persist()
            # for their own lifetime
            self.spark.catalog.clearCache()
            gc.collect()
        return {"pass_s": dt + rt + qt, "ops": [dt]}

    def verify(self) -> dict:
        import duckdb

        files = ", ".join(f"'{p}'" for p in self.merged)
        want = duckdb.sql(
            f"SELECT * FROM read_parquet([{files}]) "
            "QUALIFY row_number() OVER (PARTITION BY id ORDER BY ts DESC) = 1"
        ).df()
        try:
            got = self.upsert.read_snapshot(self.spark, self.snapshot).toPandas()
        except Exception as exc:
            self.check("snapshot", f"{type(exc).__name__}: {str(exc)[:300]}")
            return {}
        if self.ctx.corrupt and len(got):
            got.loc[got.index[0], "value"] = -1.0
        self.check("snapshot", same_rows(got, want))
        size = sum(os.path.getsize(p) for p in _data_files(self.snapshot))
        self.snapshot_bytes_per_row = size / max(1, len(got))
        self._verify_queries()
        return {"batches_merged": len(self.merged), "snapshot_rows": len(got)}

    def _verify_queries(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name in self.QUERIES:
                try:
                    got = self.queries[name](self.spark, self.sf_dir).toPandas()
                    want = con.execute(self.oracles[name]).df()
                except Exception as exc:
                    self.check(name, f"{type(exc).__name__}: {str(exc)[:300]}")
                    continue
                self.check(name, same_rows(got, want))
                self.spark.catalog.clearCache()
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (CorpusPipeline, CdcUpsert)}
