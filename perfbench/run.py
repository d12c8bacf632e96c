"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Everything the run writes goes under
``.perfbench_work/`` in the current directory and is removed at exit.

Each workload generates its inputs from ``--seed``, starts the Spark session,
warms its own operation mix to a plateau (all of that is ``setup_s``), then
runs whole passes of the mix, closed loop with one client, for at least
``--seconds`` seconds. The outputs are checked against independent
references; failed operations and failed checks are counted against
attempts. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` repeats the run with spans around each layer call and reports
the per-layer metrics instead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import the benchmark as the ``perfbench`` package from the checkout root,
# so none of its modules shadows a standard-library module
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

CPUS = 4  # local[4]: the load is sized for four cores
DRIVER_MEMORY = "3g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """What a workload gets: seed, window length, tracer, work directory
    and the Spark session (started by ``start_session`` inside the
    workload's set-up)."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        from perfbench.spans import Tracer

        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(enabled=False)  # workloads switch it on
        self.phases: dict[str, float] = {}  # set-up phase durations, seconds
        self.work = work
        self.spark = None
        self.counters = None

    def start_session(self):
        from soict20221_bigdata_financialplatform_spark.session import get_spark
        from perfbench.spans import SparkCounters

        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{CPUS}]",
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark)
        self.phases["start_s"] = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop the session, then end the JVM and wait for it, so nothing it
        runs (state-store maintenance, Python workers) outlives the run."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    import soict20221_bigdata_financialplatform_spark  # noqa: F401  (fail fast)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    parent = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"  # Python-side timestamps match the session's
    time.tzset()
    os.makedirs(os.environ["TMPDIR"])
    ctx = Context(args.seed, args.seconds, bool(args.trace), work)
    try:
        result = workloads.WORKLOADS[args.workload](ctx, PROCESS_START)
    finally:
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass

    names = [m["name"] for m in wanted]
    if sorted(names) != sorted(result.metrics):
        raise RuntimeError(
            f"metrics {sorted(result.metrics)} do not match BENCHMARK.json {names}"
        )
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {
            m["name"]: {"value": result.metrics[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
