"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload reference_ranges --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it gives the workload's metrics under
their own names. A fuller record goes to ``perfbench/.out/``.

Spark runs in this process as ``local[CORES]``; its scratch space, the
generated inputs and every file a run writes stay under the git-ignored
``perfbench/.cache`` and ``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Spark cores; fixed here because the same code reads very differently
#: on 4 and 32 cores
CORES = 4
WORKLOADS = ("reference_ranges", "dashboard_rollups", "stream_ingest", "hybrid_retrieval")


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs and short phases: runs every check end to end",
    )
    return ap.parse_args(argv)


def _set_env(cache: str) -> None:
    """Keep every file Spark and its Python workers write in ``cache``."""
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--driver-java-options", java_opts,
            "--conf", f"spark.sql.warehouse.dir={os.path.join(cache, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    import tempfile

    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit. The py4j gateway
    is not shut down from Python: with a streaming callback server up,
    its socket close blocks forever; closing the JVM's stdin ends the
    JVM, and with it every py4j connection."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — still end the JVM below
        traceback.print_exc()
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait(timeout=10)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "uwheel_datafusion_spark")):
        _fail(f"no uwheel_datafusion_spark package under {ROOT}; run from a checkout")
    # the script's own directory must not shadow top-level modules
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.path.insert(0, ROOT)
    try:
        import uwheel_datafusion_spark  # noqa: F401
    except ImportError as exc:
        _fail(f"cannot import uwheel_datafusion_spark: {exc}")

    from perfbench.common import Ctx, median
    from perfbench.metrics import END_TO_END, NAMED, PER_LAYER, PHASES

    cache = os.path.join(HERE, ".cache")
    outdir = os.path.join(HERE, ".out")
    os.makedirs(outdir, exist_ok=True)
    _set_env(cache)
    work = os.path.join(cache, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGHUP, _terminate)

    wl = importlib.import_module(f"perfbench.workloads.{args.workload}")
    spark = None
    ctx = None
    try:
        from uwheel_datafusion_spark import get_spark

        spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES
        )
        spark.sparkContext.setLogLevel("ERROR")
        # one unrelated job, so set-up is timed in a warm session
        spark.range(0, 100_000, numPartitions=CORES).selectExpr("sum(id)").collect()
        ctx = Ctx(
            spark=spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), smoke=args.smoke, work=work,
        )
        res = wl.run(ctx)
    finally:
        # a second signal must not cut the teardown short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGHUP, signal.SIG_IGN)
        try:
            for fn in reversed(ctx.cleanup if ctx is not None else []):
                try:
                    fn()
                except Exception:  # noqa: BLE001 — keep tearing down
                    traceback.print_exc()
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    (lat_name, lat_unit), (thr_name, thr_unit) = NAMED[args.workload]
    p50 = median(res.latency_ms)
    e2e = {
        "setup_s": res.setup_s,
        "latency_p50_ms": p50,
        "throughput_per_s": res.throughput,
    }
    units = {name: unit for name, unit, _, _ in END_TO_END}
    if args.trace:
        layer = dict(ctx.layers.values)
        for phase in PHASES:
            if phase in ctx.phases:
                for k, v in ctx.phases[phase].values.items():
                    layer[f"{phase}.{k}"] = v
        metrics = {
            name: {"value": float(layer.get(name, 0)), "unit": unit}
            for name, unit, _ in PER_LAYER
        }
    else:
        metrics = {n: {"value": float(v), "unit": units[n]} for n, v in e2e.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "named": {
            "setup_s": [res.setup_s, "s"],
            lat_name: [p50, lat_unit],
            thr_name: [res.throughput, thr_unit],
        },
        "samples": {"latency": res.latency_ms, "throughput": res.throughput_values},
        "checks": res.checks,
        "first_error": res.first_error,
        "wall_s": time.perf_counter() - T_START,
        "metrics": metrics,
    }
    with open(
        os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w"
    ) as fh:
        json.dump(record, fh, indent=1)
    for name, ok, detail in res.checks:
        if not ok:
            print(f"CHECK FAILED: {name}: {detail}", file=sys.stderr)
    if res.first_error:
        print(res.first_error, file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed}: "
        + "; ".join(f"{k}={v[0]:.6g} {v[1]}" for k, v in record["named"].items())
        + f" (latency n={len(res.latency_ms)}, throughput n={len(res.throughput_values)},"
        f" wall {record['wall_s']:.1f} s)"
    )
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
