"""IoT telemetry benchmark for the eventhub_to_timescale_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads: ``dashboard`` and ``live_mixed`` (see ``workloads.py`` and
``README.md``). The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (which also writes the run's spans to
``.perfbench_out/``). Exit code 1 when any output was wrong, 2 when
the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "eventhub_to_timescale_spark"
WORKLOADS = ("dashboard", "live_mixed")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _prepare_env(tmp: str) -> None:
    """Process hygiene, set before the JVM starts: the package on every
    Python worker's path, one Spark core per CPU this process may use,
    and every scratch file (Spark local dirs, JVM and Python temp
    files) inside this run's own directory."""
    for sub in ("local", "py", "jtmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["TZ"] = "UTC"
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def remove_run_dir(tmp: str) -> None:
    """Delete a run's directory, and its parent once no run uses it."""
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))
    except OSError:  # another run still uses it
        pass


def _stop_jvm() -> None:
    """Stop Spark and wait for the JVM this process launched."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # the JVM ignored EOF: kill it, then reap it
            proc.kill()
            proc.wait(timeout=30)


def execute(workload: str, seed: int, seconds: float, trace: bool, sizes, tmp: str):
    """Set up, run one workload (plus the per-layer probes when
    traced) and stop the Spark session; the JVM stays up. → (bench,
    result line as a dict)."""
    from workloads import Bench

    spec = _load_spec()
    os.makedirs(tmp, exist_ok=True)
    bench = Bench(ROOT, tmp, seed, seconds, trace, sizes)
    try:
        bench.setup()
        bench.warm_up()
        e2e = getattr(bench, workload)()
        if trace:
            bench.query_layer()
            bench.ingest_layers()
            bench.single_core_drain()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
    e2e["ok_ratio"] = ((bench.attempted - bench.failed) / max(bench.attempted, 1), "ratio")
    if trace:
        values = dict(bench.layer)
        for name in ("setup_s", "ingest_msgs_per_s", "query_p50_ms", "fresh_p50_ms"):
            values[f"traced.{name}"] = e2e[name][0]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    return bench, result


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    _prepare_env(tmp)
    sys.path.insert(0, HERE)
    from workloads import Sizes

    bench = None
    try:
        bench, result = execute(args.workload, args.seed, args.seconds, bool(args.trace), Sizes(), tmp)
    finally:
        _stop_jvm()
        remove_run_dir(tmp)

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        bench.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"))
    for err in bench.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
