"""Per-query job-level profiler (r12 optimization round).

For each named query, runs it once (noop sink, same methodology as
bench.py) and prints a job-level timeline from Spark's AppStatusStore:
every job that ran during the query window with its wall, task time,
and description, plus the DRIVER GAP — wall time not covered by any
running job (query planning, store commits, py4j round trips, stream
trigger latency, sleeps). The gap is what per-task optimization cannot
touch; guide §1.2 says fix the algorithm (fewer jobs/passes) first.

Usage:
    python tools/profile_query.py q1 q2 ...     # profile named queries
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_query.py st17_stream_index_maintenance
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _jobs_between(spark, t0_ms: int, t1_ms: int) -> list[dict]:
    jstore = spark.sparkContext._jsc.sc().statusStore()
    jobs = jstore.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        if not sub.isDefined():
            continue
        sub_ms = sub.get().getTime()
        if sub_ms < t0_ms - 50 or sub_ms > t1_ms + 50:
            continue
        comp = j.completionTime()
        comp_ms = comp.get().getTime() if comp.isDefined() else t1_ms
        out.append({
            "jobId": j.jobId(),
            "desc": (j.description().get() if j.description().isDefined()
                     else j.name())[:90],
            "sub_ms": sub_ms,
            "dur_s": (comp_ms - sub_ms) / 1e3,
            "nstage": j.stageIds().size(),
            "ntask": j.numTasks(),
        })
    out.sort(key=lambda r: r["sub_ms"])
    return out


def _gap_seconds(jobs: list[dict], t0_ms: int, t1_ms: int) -> float:
    """Wall seconds in [t0, t1] during which NO job was running."""
    iv = sorted((j["sub_ms"], j["sub_ms"] + j["dur_s"] * 1e3) for j in jobs)
    covered = 0.0
    cur_s, cur_e = None, None
    for s, e in iv:
        if cur_s is None:
            cur_s, cur_e = s, e
        elif s <= cur_e:
            cur_e = max(cur_e, e)
        else:
            covered += cur_e - cur_s
            cur_s, cur_e = s, e
    if cur_s is not None:
        covered += cur_e - cur_s
    return max(0.0, (t1_ms - t0_ms) - covered) / 1e3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    from projectone_spark.queries import queries
    from projectone_spark.session import get_spark

    spark = get_spark("projectone_spark-profile")
    all_queries = queries()
    for warm_name in ("q01_pricing_summary", "m02_image_pixel_stats",
                      "st08_stream_from_table"):
        all_queries[warm_name](spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()

    verbose = os.environ.get("PROFILE_VERBOSE", "0") == "1"
    for name in names:
        spark.sparkContext.setJobDescription(None)
        t0_ms = int(time.time() * 1e3)
        t0 = time.perf_counter()
        all_queries[name](spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        t1_ms = int(time.time() * 1e3)
        time.sleep(0.5)  # let the listener bus drain
        jobs = _jobs_between(spark, t0_ms, t1_ms)
        gap = _gap_seconds(jobs, t0_ms, t1_ms)
        print(f"== {name}: wall={wall:.2f}s jobs={len(jobs)} "
              f"driver_gap={gap:.2f}s load1={os.getloadavg()[0]:.1f}")
        if verbose:
            for j in jobs:
                off = (j["sub_ms"] - t0_ms) / 1e3
                print(f"   +{off:7.2f}s job {j['jobId']:>4} "
                      f"{j['dur_s']:6.2f}s st={j['nstage']} "
                      f"tk={j['ntask']:>3}  {j['desc']}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
