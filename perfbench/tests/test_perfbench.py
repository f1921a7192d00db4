"""Tests of the benchmark itself: the interval maths, span self times, job
attribution across threads, and end-to-end passes at sf0.001.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

from perfbench import procstat, spans
from perfbench.loop import tail_percentile
from perfbench.oracle import conftest
from perfbench.workloads import WORKLOADS, pass_order

REPO = Path(__file__).resolve().parents[2]
SMALL_SF = str(Path(conftest(REPO).SF_DIR).parent / "sf0.001")
needs_data = pytest.mark.skipif(
    not os.path.isdir(SMALL_SF), reason="sf0.001 test tables not present")


def _span(i, start, end, parent=None, depth=0, layer="x"):
    return spans.Span(i, "op", f"s{i}", layer, start, parent, depth, end)


# -- interval maths ----------------------------------------------------------

def test_union_of_overlapping_job_intervals():
    # three DAG-thread jobs: two overlap, one stands apart
    jobs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert spans.union_length(jobs) == pytest.approx(4.0)
    assert spans.gap_seconds(jobs, 0.0, 10.0) == pytest.approx(6.0)


def test_union_clips_to_the_window_and_ignores_order():
    jobs = [(9.0, 12.0), (-1.0, 0.5), (2.0, 2.0), (4.0, 5.0), (4.5, 4.6)]
    assert spans.union_length(jobs, 0.0, 10.0) == pytest.approx(2.5)
    gap = spans.gap_seconds(jobs, 0.0, 10.0)
    assert gap + spans.union_length(jobs, 0.0, 10.0) == pytest.approx(10.0)


def test_nested_jobs_do_not_double_count():
    assert spans.union_length([(0.0, 10.0), (1.0, 2.0), (3.0, 4.0)]) == 10.0
    assert spans.gap_seconds([], 3.0, 5.0) == pytest.approx(2.0)


# -- self time ---------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    root = _span(0, 0.0, 10.0)
    a = _span(1, 1.0, 4.0, parent=0, depth=1)
    b = _span(2, 3.0, 6.0, parent=0, depth=1)  # overlaps a: another thread
    g = _span(3, 2.0, 3.0, parent=1, depth=2)
    selfs = spans.self_times([root, a, b, g])
    assert selfs[0] == pytest.approx(10.0 - 5.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.0)
    # self times of a tree on one thread add up to the root's duration
    assert selfs[0] + selfs[1] + selfs[3] + selfs[2] >= 10.0


def _in_thread(fn):
    t = threading.Thread(target=fn)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()


def test_tracer_parents_other_threads_to_the_waiting_span():
    ticks = iter(range(100))
    tr = spans.Tracer(clock=lambda: float(next(ticks)))

    def side(name):
        with tr.span(name, "task"):
            pass

    with tr.op("op1"):
        with tr.span("outer", "store"):
            with tr.span("inner", "writers"):
                pass
            _in_thread(lambda: side("dag_thread"))
        _in_thread(lambda: side("late_thread"))
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == by_name["outer"].id
    assert by_name["outer"].parent == by_name["op1"].id
    # a thread with no span of its own nests under the span waiting for it
    assert by_name["dag_thread"].parent == by_name["outer"].id
    assert by_name["late_thread"].parent == by_name["op1"].id
    assert {s.op for s in tr.spans} == {"op1"}
    assert all(s.end > s.start for s in tr.spans)
    # outside an op nothing is recorded
    with tr.span("after", "store") as s:
        assert s is None
    assert len(tr.spans) == 5


# -- attribution -------------------------------------------------------------

def test_innermost_prefers_depth_then_latest_start():
    root = _span(0, 0.0, 10.0, layer="op")
    a = _span(1, 1.0, 5.0, parent=0, depth=1, layer="store")
    b = _span(2, 2.0, 6.0, parent=0, depth=1, layer="task")
    c = _span(3, 3.0, 4.0, parent=1, depth=2, layer="writers")
    all_spans = [root, a, b, c]
    assert spans.innermost(all_spans, 0.5).layer == "op"
    assert spans.innermost(all_spans, 1.5).layer == "store"
    assert spans.innermost(all_spans, 2.5).layer == "task"
    assert spans.innermost(all_spans, 3.5).layer == "writers"
    assert spans.innermost(all_spans, 11.0) is None


def test_tail_percentile_leaves_ten_samples_above():
    assert tail_percentile(list(range(19))) is None
    pct, value = tail_percentile([float(v) for v in range(1, 31)])
    assert value == 20.0 and pct == pytest.approx(200 / 3)


def test_peak_rss_is_reset_between_ops():
    pid = os.getpid()
    before = procstat.peak_rss_bytes([pid])
    block = bytearray(256 * 2**20)  # touched: bytearray zero-fills
    assert procstat.peak_rss_bytes([pid]) >= before + 200 * 2**20
    del block
    procstat.reset_peak_rss([pid])
    assert procstat.peak_rss_bytes([pid]) < before + 200 * 2**20


def test_seed_sets_the_order_only():
    for name, ops in WORKLOADS.items():
        a, b = pass_order(name, 1), pass_order(name, 2)
        assert sorted(a) == sorted(b) == sorted(ops)
        assert pass_order(name, 1) == a


@needs_data
def test_jobs_from_two_threads_belong_to_the_op():
    from perfbench import sparkstats
    from projectone_spark.session import get_spark

    spark = get_spark("perfbench-tests")
    log = sparkstats.JobLog(spark)
    tr = spans.Tracer()
    errors = []

    def job(layer):
        try:
            with tr.span(layer, layer):
                spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    with tr.op("two_threads") as root:
        threads = [threading.Thread(target=job, args=(layer,))
                   for layer in ("store", "task")]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    assert not errors and not any(t.is_alive() for t in threads)
    jobs = [j for j in log.new_jobs() if root.start <= j.start <= root.end]
    assert len(jobs) >= 2
    iv = [(j.start, j.end) for j in jobs]
    wall = root.end - root.start
    assert spans.gap_seconds(iv, root.start, root.end) + \
        spans.union_length(iv, root.start, root.end) == pytest.approx(wall)
    owners = {spans.innermost(tr.spans, j.start).layer for j in jobs}
    assert owners <= {"store", "task", "op"}
    assert owners & {"store", "task"}


# -- end to end --------------------------------------------------------------

_FINGERPRINT = """
import hashlib, sys
sys.path.insert(0, {repo!r})
from perfbench import spans
tracer = spans.Tracer()
if {traced}:
    spans.install(tracer)
from projectone_spark.queries import queries
from projectone_spark.session import get_spark
spark = get_spark("perfbench-fingerprint")
fn = queries()[{op!r}]
with tracer.op({op!r}):
    df = fn(spark, {sf!r})
rows = sorted(repr(tuple(r)) for r in df.collect())
digest = hashlib.sha256(repr((df.columns, rows)).encode()).hexdigest()
print("FP", digest, len(tracer.spans))
"""


def _fingerprint(op: str, traced: bool) -> tuple[str, int]:
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", _FINGERPRINT.format(
            repo=str(REPO), traced=traced, op=op, sf=SMALL_SF)],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("FP ")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    _, fp, n = lines[-1].split()
    return fp, int(n)


@needs_data
def test_tracing_leaves_results_unchanged():
    op = "st17_stream_index_maintenance"
    plain, plain_spans = _fingerprint(op, traced=False)
    traced, traced_spans = _fingerprint(op, traced=True)
    assert plain == traced
    assert plain_spans == 1  # only the op's root span
    assert traced_spans > 1


def _run(workload: str, trace: int) -> tuple[dict, str]:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SMALL_SF)
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=900, env=env, cwd=REPO)
    assert out.returncode == 0, out.stderr[-3000:]
    assert time.monotonic() - t0 < 900
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


@needs_data
@pytest.mark.parametrize("workload",
                         ["analytics_read", "ingest_write", "curation_tail"])
def test_smoke_pass(workload):
    result, text = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, text
    # a run makes exactly one pass
    assert result["attempted"] == len(WORKLOADS[workload])
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    assert set(result["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


@needs_data
def test_traced_smoke_pass_reports_every_layer():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    result, text = _run("curation_tail", trace=1)
    assert result["correct"], text
    assert set(result["metrics"]) == {m["name"] for m in bench["per_layer"]}
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.executor_cpu_s"] > 0
    assert m["spark.gap_s"] + m["spark.job_s"] == pytest.approx(
        m["trace.run_s"], rel=1e-6)
    assert m["trace.wrapped"] > 50
