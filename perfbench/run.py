"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads: ``etl_crawl`` and
``registry_mix`` (see perfbench/README.md).

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it records
the harness version, the host state and the raw samples. A traced run
also writes its spans to ``.perfbench_out/``. Any failed operation or
wrong output makes the exit code 1; a run that cannot start exits 2
without printing a result.

Everything the run reads and writes stays inside the repository root.
The registry tables are under ``perfbench/data/``; pipeline checkpoints,
Spark's scratch space, temporary files and fixture caches live under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import time

_STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))


def _parse(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=["etl_crawl", "registry_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every scratch location of Python, Spark and the program at
    ``work`` and make the repository importable by executor workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Every JVM (Spark's launcher and the driver) keeps its temporary
    # files here and writes no /tmp/hsperfdata_* file.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Half the cores for Spark's task threads leaves the rest to the
    # Python workers, the JIT and GC threads, the driver and the fake API.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, NPROC // 2)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    for p in (ROOT, os.path.join(ROOT, "tests"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait(timeout=30)


def run(workload_cls, seed: int, seconds: float, trace: int):
    """Set up, measure and check one workload in an isolated work
    directory. Returns (run information, result line, workload)."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload_cls.name}-{seed}-{os.getpid()}")
    _isolate(work)

    from harness import Tracer, git_commit, harness_sha256, host_state
    from workloads import RunConfig

    info = {
        "harness_sha256": harness_sha256(ROOT),
        "git_commit": git_commit(ROOT),
        "workload": workload_cls.name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": NPROC,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "host_start": host_state(),
    }
    tracer = Tracer(bool(trace))
    cfg = RunConfig(work, seed, seconds, _STARTED, tracer)
    workload = None
    try:
        workload = workload_cls(cfg)
        workload.execute()
        metrics = workload.per_layer() if trace else workload.end_to_end()
    finally:
        try:
            if workload is not None:
                workload.close()
            _shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # kept while other runs use it
            except OSError:
                pass
    if trace:
        tracer.dump(
            os.path.join(ROOT, ".perfbench_out", f"trace-{workload_cls.name}-seed{seed}.json"),
            workload.op_records(),
        )
    info["host_end"] = host_state()
    info["samples"] = workload.summary()
    result = {
        "correct": not workload.failures,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }
    return info, result, workload


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_mapwarper_spark")):
        print(f"perfbench: no etl_mapwarper_spark package under {ROOT}", file=sys.stderr)
        return 2
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    from workloads import WORKLOADS

    info, result, workload = run(WORKLOADS[args.workload], args.seed, args.seconds, args.trace)
    print(json.dumps({"run_info": info}))
    print(json.dumps(result), flush=True)
    if workload.failures:
        print("\n".join(workload.failures[:10]), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
