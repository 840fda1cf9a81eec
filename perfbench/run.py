"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,batch} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  The run generates
its inputs from ``--seed`` under ``.perfbench_tmp/`` in the checkout,
drives the program in this process on ``local[nproc]``, checks every
output, removes what it wrote and prints two JSON lines: the run's
context (host, inputs, sample counts, failures), then the result

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  ``--trace 1`` also writes its spans to
``.perfbench_out/`` in the checkout.  ``--scale`` shrinks the inputs
(the self-tests use it); runs compared with each other use the default.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 170  # a run must end within 180 s, its clean-up included


def _isolate(work: str) -> None:
    """Keep everything the program and Spark write inside ``work``.
    Must run before pyspark (and with it the JVM) starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp}/java -XX:-UsePerfData"
    )
    os.environ["TZ"] = "UTC"  # collect() renders timestamps in local time
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def _out_of_time(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _stop_jvm(graceful: bool) -> None:
    """Stop the session and the JVM it runs in, and wait for it; kill
    the JVM outright when not ``graceful``."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if graceful:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
    if proc is not None:
        if graceful:
            proc.terminate()
        else:
            proc.kill()
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tweetdb_spark", "__init__.py")):
        print(f"perfbench: no tweetdb_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S
    signal.signal(signal.SIGALRM, _out_of_time)
    signal.alarm(RUN_LIMIT_S)
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    work = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    _isolate(work)

    from perfbench import host
    from perfbench.workloads import Run

    ctx = host.context()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              fixture_dir=os.path.join(work, "fixture"),
              tmp_dir=os.environ["TMPDIR"], scale=args.scale, deadline=deadline)
    try:
        res = run.execute()
        layer = run.layer_metrics() if args.trace else None
        if args.trace:
            res["context"]["self_times_s"] = {
                "setup": {k: round(v, 3) for k, v in run.tracer.self_times("setup").items()},
                "window": {k: round(v, 3) for k, v in run.tracer.self_times("window").items()},
            }
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            res["context"]["per_key_trace"] = run.per_key_trace
            run.tracer.dump(
                os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                calls=[{k: v for k, v in c.items() if k != "cols"}
                       for c in run.calls],
            )
    finally:
        signal.alarm(0)
        # past the limit the JVM may be what hangs: kill it
        _stop_jvm(graceful=time.monotonic() < deadline)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it

    metrics = layer if args.trace else res["e2e"]
    res["context"]["host"] = ctx
    if args.trace:  # end-to-end figures under tracing, for the overhead
        res["context"]["traced_e2e"] = {k: v for k, (v, _) in res["e2e"].items()}
    print(json.dumps(res["context"], default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
