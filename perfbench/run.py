"""Crawl-round benchmark: named workloads against the public crawl API.

    python3 perfbench/run.py --workload frontier_heavy --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its workload's inputs from
``--seed`` as Parquet (``perfbench/gen.py``), starts a fresh ``local[nproc]``
Spark session, sets up several times (session start + input load + one
warm-up round), then repeats the workload's unit of work for ``--seconds``
and checks the outputs. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` reports its per-layer
metrics, from a traced crawl that forces every layer's result
(``perfbench/layers.py``).

Everything the run writes goes under ``.perfbench_work/`` in the repository
and is removed at exit; ``SPARK_GRAFT_DRIVER_MEM`` sets the driver heap
(default 2g). See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "openreviewcrawler_spark", "__init__.py")


def _configure_env(work: str) -> None:
    """Pin parallelism to the machine and keep every file inside ``work``.
    Must run before pyspark starts the JVM."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_SHUFFLE"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)  # after this directory


def _shutdown() -> None:
    """Stop Spark, end the JVM and wait for every process the run started."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from procstat import ProcTree

    pids = ProcTree().pids()
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _metric_specs(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(PACKAGE):
        print(f"perfbench: the crawl package is missing ({PACKAGE})", file=sys.stderr)
        return 2
    specs = _metric_specs(bool(args.trace))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work)
    try:
        from harness import Bench

        bench = Bench(args.workload, args.seed, work)
        values = bench.run(args.seconds, bool(args.trace))
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for e in bench.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
