"""Closed-loop benchmark of the projectone_spark engine.

    python3 perfbench/run.py --workload ingest_write --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.py``) against the sf0.1 test tables,
checks every op's result against its DuckDB oracle, and prints one line per
metric followed, as the last line, by one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the program's layer modules in
spans and reports the per-layer metrics instead.  See README.md.

Everything the run writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

T0 = time.monotonic()

REPO = Path(__file__).resolve().parent.parent


def _parse(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the command line; a run always makes "
                         "exactly one timed pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _missing_program() -> str | None:
    for path in (REPO / "projectone_spark" / "__init__.py",
                 REPO / "tests" / "conftest.py"):
        if not path.is_file():
            return f"{path.relative_to(REPO)} not found: run from a full checkout"
    return None


def _missing_tables(tables, sf_dir: str, warm_dir: str) -> str | None:
    for d in (sf_dir, warm_dir):
        for t in tables:
            if not os.path.isfile(f"{d}/{t}.parquet"):
                return f"test table {d}/{t}.parquet not found"
    return None


def _isolate(work: Path) -> None:
    """Point every temp and scratch location of the driver, the JVM and the
    Python workers into the run's own directory, and put the checkout on
    the workers' module path so they import this checkout's package."""
    tmp = work / "tmp"
    for d in (tmp, work / "local"):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}")))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (
        str(REPO), os.environ.get("PYTHONPATH"))))


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, timeout=10,
                             capture_output=True, text=True)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _metadata(loop, args, sf_dir: str) -> dict:
    sc = loop.spark.sparkContext
    return {
        "workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
        "nproc": len(os.sched_getaffinity(0)),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master, "spark": sc.version,
        "python": platform.python_version(), "commit": _git_commit(),
        "sf_dir": sf_dir,
        "load1": [loop.timed.load1_start, loop.timed.load1_end],
        "steal_s": loop.timed.steal_s,
    }


def main(argv=None) -> int:
    sys.path.insert(0, str(REPO))
    args = _parse(argv)
    problem = _missing_program()
    if problem is None:
        from perfbench.oracle import conftest

        suite = conftest(REPO)
        # by default the sf0.1 tables sit next to the suite's sf0.001 ones
        default = Path(suite.SF_DIR).parent / "sf0.1"
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", str(default)).rstrip("/")
        warm_dir = str(Path(sf_dir).parent / "sf0.001")
        problem = _missing_tables(suite.TABLES, sf_dir, warm_dir)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    work = REPO / ".perfbench" / f"work-{os.getpid()}"
    _isolate(work)

    from perfbench import loop as bench

    lp = bench.Loop(args.workload, args.seed, bool(args.trace), REPO, sf_dir,
                    warm_dir, work)
    phases = {"start": time.monotonic() - T0}
    try:
        t = time.monotonic()
        lp.setup()
        phases["setup"] = time.monotonic() - t
        t = time.monotonic()
        lp.run()
        phases["pass"] = time.monotonic() - t
        meta = _metadata(lp, args, sf_dir)
        shown = bench.end_to_end(lp) | bench.end_to_end_printed(lp)
        reported = bench.per_layer(lp) if args.trace else bench.end_to_end(lp)
        rows = bench.op_rows(lp)
    finally:
        t = time.monotonic()
        lp.close()
        shutil.rmtree(work, ignore_errors=True)
        phases["close"] = time.monotonic() - t
    meta["phase_s"] = phases

    out_dir = REPO / ".perfbench" / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    dump = {"meta": meta, "ops": rows, "failures": lp.failures,
            "metrics": shown | reported}
    if lp.tracer is not None:
        dump["wrapped"] = lp.tracer.wrapped
        dump["spans"] = lp.tracer.dump()
    out_path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out_path.write_text(json.dumps(dump, indent=1, default=str))

    print("# " + json.dumps(meta))
    for r in rows:
        print("# op " + " ".join(f"{k}={v:.4g}" if isinstance(v, float)
                                 else f"{k}={v}" for k, v in r.items()))
    for name, msgs in sorted(lp.failures.items()):
        for m in msgs:
            print(f"# FAILED {name}: {m}")
    for name, (value, unit) in (shown | reported).items():
        print(f"{name} {value:.6g} {unit}")
    print(f"# written {out_path.relative_to(REPO)}")
    print(json.dumps({
        "correct": lp.failed == 0,
        "attempted": lp.attempted,
        "failed": lp.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
