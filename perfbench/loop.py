"""The closed loop: set-up, the timed pass and the per-op measurements.

One client in one driver process sends the workload's ops one after
another, in one timed pass.  Each op is timed from the call into the
registry function to the end of its ``noop`` write.  Between ops, untimed,
the benchmark checks the op's result against its DuckDB oracle and isolates
the next op from this one: it drops the ``mem_*`` temp views, requires that no
stream is left running, and empties the scratch space after recording what
the op left there.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import procstat, spans, sparkstats
from perfbench.oracle import Oracle
from perfbench.workloads import pass_order

#: run on the fresh session, on the small tables, as bench.py does: q01
#: compiles the JVM's SQL paths, m02 starts the Python workers through
#: mapInPandas
WARM_QUERIES = ("q01_pricing_summary", "m02_image_pixel_stats")

#: span names, by the per-layer store metric that sums their time
STORE_SPANS = {
    "commit": ("projectone_spark.store.TableStore.append",
               "projectone_spark.store.TableStore.overwrite",
               "projectone_spark.store.TableStore.selective_overwrite"),
    "read": ("projectone_spark.store.TableStore.read",
             "projectone_spark.store.TableStore.read_version",
             "projectone_spark.store.read_changes",
             "projectone_spark.store.skipping.read_where"),
    "dml": ("projectone_spark.store.dml.delete_where",
            "projectone_spark.store.dml.update_where",
            "projectone_spark.store.dml.merge_into"),
    "index": ("projectone_spark.store.indexes.save_index",
              "projectone_spark.store.indexes.open_index",
              "projectone_spark.store.indexes.drop_from_index"),
    "model": ("projectone_spark.store.models.save_model",
              "projectone_spark.store.models.load_model"),
    "state": ("projectone_spark.store.state.StateStore.get",
              "projectone_spark.store.state.StateStore.set"),
}
COMMIT_SPAN = "projectone_spark.store.TableStore._commit"


@dataclass
class OpRun:
    name: str
    start: float  # epoch seconds
    end: float
    key: str = ""  # the op id its spans carry
    build_s: float = 0.0
    execute_s: float = 0.0
    cpu_s: float = 0.0
    error: str | None = None
    triggers: list = field(default_factory=list)
    scratch_bytes: int = 0
    input_bytes: int = 0
    jobs: list = field(default_factory=list)
    stages: sparkstats.StageTotals | None = None
    py_worker_cpu_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Pass:
    ops: list[OpRun]
    cpu_s: float
    peak_rss_bytes: int
    load1_start: float
    load1_end: float
    steal_s: float

    @property
    def run_s(self) -> float:
        return sum(op.wall for op in self.ops)


@dataclass
class Setup:
    start_s: float
    warm_s: float

    @property
    def total_s(self) -> float:
        return self.start_s + self.warm_s


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def _empty_dir(path: str) -> None:
    for entry in os.scandir(path):
        if entry.is_dir(follow_symlinks=False):
            shutil.rmtree(entry.path, ignore_errors=True)
        else:
            os.unlink(entry.path)


class _DagWatch:
    """Records every DAG task that did not end in SUCCESS."""

    def __init__(self):
        from projectone_spark.task.dag import PipelineRunner

        self.failures: list[str] = []
        run = PipelineRunner.run

        def checked(*args, **kwargs):
            runs = run(*args, **kwargs)
            self.failures += [f"DAG task {n} {r.status}"
                              for n, r in runs.items() if r.status != "SUCCESS"]
            return runs

        PipelineRunner.run = checked

    def take(self) -> list[str]:
        out, self.failures = self.failures, []
        return out


class _LoadWatch:
    """Records the bytes of every test table an op loads, the input size
    that store write amplification is measured against."""

    def __init__(self, queries_pkg):
        self.bytes = 0
        load = queries_pkg.load

        def recorded(spark, sf_dir, table):
            try:
                self.bytes += os.path.getsize(f"{sf_dir}/{table}.parquet")
            except OSError:
                pass
            return load(spark, sf_dir, table)

        queries_pkg.load = recorded

    def take(self) -> int:
        out, self.bytes = self.bytes, 0
        return out


class Loop:
    def __init__(self, workload: str, seed: int, trace: bool, repo: Path,
                 sf_dir: str, warm_dir: str, work: Path):
        self.workload, self.seed = workload, seed
        self.sf_dir, self.warm_dir, self.work = sf_dir, warm_dir, work
        self.tracer = spans.Tracer() if trace else None
        self.repo = repo
        self.spark = None
        self.setup_times: Setup | None = None
        self.timed: Pass | None = None
        self.failures: dict[str, list[str]] = {}
        self.attempted = 0
        self.failed = 0

    # -- set-up --------------------------------------------------------------

    def _import_program(self) -> None:
        if self.tracer is not None:
            spans.install(self.tracer)
        import projectone_spark.queries as qpkg

        self._dag = _DagWatch()
        self._loads = _LoadWatch(qpkg) if self.tracer is not None else None
        self.queries = qpkg.queries()
        self.oracles = qpkg.oracle_sql()

    def setup(self) -> None:
        """Import the program, launch the JVM, start the session in it and
        run the warm-up queries: the set-up that is timed."""
        from projectone_spark.session import get_spark

        t0 = time.perf_counter()
        self._import_program()
        self.spark = get_spark("perfbench", {
            "spark.sql.warehouse.dir": str(self.work / "warehouse")})
        t1 = time.perf_counter()
        for name in WARM_QUERIES:
            _force(self.queries[name](self.spark, self.warm_dir))
        self.setup_times = Setup(t1 - t0, time.perf_counter() - t1)
        self.triggers = sparkstats.TriggerLog()
        self.spark.streams.addListener(self.triggers)
        self.oracle = Oracle(self.repo, self.sf_dir)
        import projectone_spark.session as po_session

        po_session.scratch_dir("perfbench_")  # create the scratch root
        self.scratch = po_session._SCRATCH_ROOT

    # -- the pass ------------------------------------------------------------

    def run(self) -> None:
        """One timed pass over the workload's ops; each op's result is
        checked against its oracle after the op's timed window."""
        if self.tracer is not None:
            self.jobs = sparkstats.JobLog(self.spark)
            self._loads.take()
        pid = os.getpid()
        ops: list[OpRun] = []
        peak = 0
        load_start = os.getloadavg()[0]
        steal0 = procstat.steal_seconds()
        for name in pass_order(self.workload, self.seed):
            pids = procstat.tree(pid)
            procstat.reset_peak_rss(pids)
            cpu0 = procstat.cpu_seconds(pids)
            op, df = self._run_op(name, traced=self.tracer is not None)
            pids = procstat.tree(pid)
            op.cpu_s = procstat.cpu_seconds(pids) - cpu0
            peak = max(peak, procstat.peak_rss_bytes(pids))
            self._settle(op, df)
            ops.append(op)
        self.timed = Pass(ops, sum(op.cpu_s for op in ops), peak, load_start,
                          os.getloadavg()[0], procstat.steal_seconds() - steal0)

    def _run_op(self, name: str, traced: bool):
        """Build and force one op; returns its record and its DataFrame."""
        fn = self.queries[name]
        tr = self.tracer if traced else None
        span = tr.span if tr else (lambda *_: nullcontext())
        py0 = procstat.py_worker_cpu_seconds(os.getpid()) if tr else 0.0
        key = f"{name}#{self.attempted}"
        start = time.time()
        build_s = execute_s = 0.0
        df = error = None
        try:
            with tr.op(key) if tr else nullcontext():
                t0 = time.perf_counter()
                with span("build", "queries"):
                    df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with span("execute", "execute"):
                    _force(df)
                t2 = time.perf_counter()
            build_s, execute_s = t1 - t0, t2 - t1
        except Exception:  # an op failure is a result, not a crash
            error = traceback.format_exc(limit=3).strip().splitlines()[-1]
            df = None
        op = OpRun(name, start, time.time(), key, build_s, execute_s,
                   error=error)
        if tr is not None:
            op.py_worker_cpu_s = procstat.py_worker_cpu_seconds(os.getpid()) - py0
            op.jobs = [j for j in self.jobs.new_jobs()
                       if op.start - 0.005 <= j.start <= op.end + 0.005]
            op.stages = self.jobs.stage_totals(op.jobs)
            op.input_bytes = self._loads.take()
        return op, df

    def _settle(self, op: OpRun, df) -> None:
        """Collect the op's failures and triggers, check its result against
        the oracle, and clear what it left behind."""
        problems = [op.error] if op.error else []
        problems += self._dag.take()
        op.triggers = self.triggers.take()
        if df is not None and not problems:
            try:
                self.oracle.check(df, self.oracles[op.name])
            except Exception as exc:
                problems.append("oracle mismatch: "
                                + (str(exc) or repr(exc)).splitlines()[0])
        op.scratch_bytes, left = self._isolate()
        if left:
            problems.append(f"left {left} stream(s) running")
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.setdefault(op.name, []).extend(problems)

    def _isolate(self) -> tuple[int, int]:
        """Clear what an op left behind: running streams, ``mem_*`` temp
        views and scratch files.  Returns the scratch bytes and the number
        of streams it had to stop."""
        active = self.spark.streams.active
        for q in active:
            q.stop()
        for t in self.spark.catalog.listTables():
            if t.name.startswith("mem_"):
                self.spark.catalog.dropTempView(t.name)
        scratch = _dir_bytes(self.scratch)
        _empty_dir(self.scratch)
        return scratch, len(active)

    # -- shutdown ------------------------------------------------------------

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until every process the run
        started has ended."""
        from pyspark import SparkContext

        if getattr(self, "oracle", None) is not None:
            self.oracle.close()
        started = procstat.tree(os.getpid())[1:]
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        procstat.wait_ended(started)


# -- metrics -----------------------------------------------------------------

def tail_percentile(values: list[float], beyond: int = 10):
    """The latency at the highest percentile that leaves at least `beyond`
    samples above it, as (percentile, value), or None with too few."""
    n = len(values)
    if n < 2 * beyond:
        return None
    ordered = sorted(values)
    k = n - beyond  # samples at or below the reported one
    return 100.0 * k / n, ordered[k - 1]


def end_to_end(loop: Loop) -> dict:
    """The metrics BENCHMARK.json bounds."""
    return {
        "run_s": (loop.timed.run_s, "s"),
        "cpu_s": (loop.timed.cpu_s, "s"),
        "setup_s": (loop.setup_times.total_s, "s"),
    }


def end_to_end_printed(loop: Loop) -> dict:
    """End-to-end figures printed next to the bounded ones.  They are not
    bounded: their run-to-run spread is wider than any bound allowed, or
    they are zero or absent on some workloads."""
    ops = loop.timed.ops
    walls = [op.wall for op in ops]
    out = {
        "op_p50_s": (statistics.median(walls), f"s/n{len(walls)}"),
        "peak_rss_mb": (loop.timed.peak_rss_bytes / 2**20, "MB"),
        "error_rate": (loop.failed / loop.attempted, "ratio"),
    }
    tail = tail_percentile(walls)
    if tail is not None:
        out["op_tail_s"] = (tail[1], f"s@p{tail[0]:.1f}/n{len(walls)}")
    trig = [t.duration_ms.get("triggerExecution", 0) / 1e3
            for op in ops for t in op.triggers]
    if trig:
        out["trigger_p50_s"] = (statistics.median(trig), f"s/n{len(trig)}")
    return out


def per_layer(loop: Loop) -> dict:
    tr = loop.tracer
    ops = loop.timed.ops
    cores = loop.spark.sparkContext.defaultParallelism
    out: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        out[name] = (value, unit)

    put("session.start_s", loop.setup_times.start_s, "s")
    put("session.warm_s", loop.setup_times.warm_s, "s")
    put("queries.build_s", sum(op.build_s for op in ops), "s")
    put("queries.execute_s", sum(op.execute_s for op in ops), "s")

    by_op: dict[str, list[spans.Span]] = {}
    for s in tr.spans:
        by_op.setdefault(s.op, []).append(s)
    layers = sorted(set(spans.LAYERS.values()))
    calls = dict.fromkeys(layers, 0)
    self_s = dict.fromkeys(layers, 0.0)
    jobs = dict.fromkeys(layers, 0)
    store = {k: 0.0 for k in STORE_SPANS}
    commits = conflicts = 0
    for op in ops:
        op_spans = by_op.get(op.key, [])
        selfs = spans.self_times(op_spans)
        for s in op_spans:
            if s.layer in calls:
                calls[s.layer] += 1
                self_s[s.layer] += selfs[s.id]
            if s.name == COMMIT_SPAN and s.error == "ConcurrentWriteError":
                conflicts += 1
            if s.name in STORE_SPANS["commit"]:
                commits += 1
        for kind, names in STORE_SPANS.items():
            store[kind] += spans.union_length(
                (s.start, s.end) for s in op_spans if s.name in names)
        for j in op.jobs:
            owner = spans.innermost(op_spans, j.start)
            if owner is not None and owner.layer in jobs:
                jobs[owner.layer] += 1
    for layer in layers:
        put(f"{layer}.calls", calls[layer], "count")
        put(f"{layer}.self_s", self_s[layer], "s")
        put(f"{layer}.jobs", jobs[layer], "count")

    written = sum(op.scratch_bytes for op in ops)
    loaded = sum(op.input_bytes for op in ops)
    put("store.commits", commits, "count")
    for kind in STORE_SPANS:
        put(f"store.{kind}_s", store[kind], "s")
    put("store.mb_written", written / 1e6, "MB")
    out["store.write_amp"] = (written / loaded if loaded else 0.0, "ratio")
    put("store.commit_conflicts", conflicts, "count")

    trig = [t for op in ops for t in op.triggers]

    def dur(*keys):
        return sum(t.duration_ms.get(k, 0) for t in trig for k in keys) / 1e3

    put("streaming.triggers", len(trig), "count")
    put("streaming.trigger_s", dur("triggerExecution"), "s")
    put("streaming.add_batch_s", dur("addBatch"), "s")
    put("streaming.planning_s", dur("queryPlanning"), "s")
    put("streaming.wal_commit_s", dur("walCommit", "commitOffsets"), "s")
    put("streaming.offset_s", dur("latestOffset", "getBatch"), "s")
    out["streaming.empty_trigger_ratio"] = (
        sum(t.input_rows == 0 for t in trig) / len(trig) if trig else 0.0,
        "ratio")

    job_s = sum(spans.union_length([(j.start, j.end) for j in op.jobs],
                                   op.start, op.end) for op in ops)
    gap_s = sum(spans.gap_seconds([(j.start, j.end) for j in op.jobs],
                                  op.start, op.end) for op in ops)
    st = [op.stages for op in ops]
    run_s = sum(s.executor_run_s for s in st)
    put("spark.jobs", sum(len(op.jobs) for op in ops), "count")
    put("spark.tasks", sum(s.tasks for s in st), "count")
    put("spark.job_s", job_s, "s")
    put("spark.gap_s", gap_s, "s")
    put("spark.executor_run_s", run_s, "s")
    put("spark.executor_cpu_s", sum(s.executor_cpu_s for s in st), "s")
    put("spark.gc_s", sum(s.gc_s for s in st), "s")
    put("spark.py_worker_cpu_s", sum(op.py_worker_cpu_s for op in ops), "s")
    put("spark.shuffle_mb", sum(s.shuffle_bytes for s in st) / 1e6, "MB")
    put("spark.spill_mb", sum(s.spill_bytes for s in st) / 1e6, "MB")
    out["spark.core_busy_frac"] = (run_s / (job_s * cores) if job_s else 0.0,
                                   "ratio")
    put("spark.checkpoint_jobs", sum(sparkstats.is_checkpoint_job(j)
                                     for op in ops for j in op.jobs), "count")
    put("spark.failed_tasks", sum(s.failed_tasks for s in st), "count")

    put("trace.run_s", loop.timed.run_s, "s")
    put("trace.spans", len(tr.spans), "count")
    out["trace.wrapped"] = (len(tr.wrapped), "count")
    return out


def op_rows(loop: Loop) -> list[dict]:
    """One row per op of the timed pass, for the printed table and the
    written trace."""
    rows = []
    for op in loop.timed.ops:
        row = {"op": op.name, "wall_s": op.wall, "build_s": op.build_s,
               "execute_s": op.execute_s, "cpu_s": op.cpu_s,
               "ok": op.name not in loop.failures,
               "triggers": len(op.triggers)}
        if loop.tracer is not None:
            iv = [(j.start, j.end) for j in op.jobs]
            row.update({
                "jobs": len(op.jobs),
                "job_s": spans.union_length(iv, op.start, op.end),
                "gap_s": spans.gap_seconds(iv, op.start, op.end),
                "executor_cpu_s": op.stages.executor_cpu_s,
                "py_worker_cpu_s": op.py_worker_cpu_s,
                "checkpoint_jobs": sum(sparkstats.is_checkpoint_job(j)
                                       for j in op.jobs),
                "scratch_mb": op.scratch_bytes / 1e6,
            })
        rows.append(row)
    return rows
