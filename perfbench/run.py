"""Benchmark command for the event-stream engine.

    python3 perfbench/run.py --workload stream_drain --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Prints progress and a run header on
stderr and, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (the same
workload, traced, plus a sweep of direct calls into each layer).
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"events_per_s": "1/s", "latency_p50_ms": "ms", "setup_s": "s"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def layer_unit(name: str) -> str:
    for suffix, unit in (("ms_per_ktx", "ms/ktx"), ("_ms", "ms"),
                         ("_s", "s"), ("_per_tx", "1/tx"),
                         ("bytes_per_doc", "B/doc"), ("_ratio", "ratio")):
        if name.endswith(suffix) or name.endswith(suffix + "_1slot"):
            return unit
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("stream_drain", "stream_paced"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one delivered event and one catalog row, "
                         "for the smoke test")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Everything the run writes stays under ``work`` inside the
    checkout; Python workers import the package from the checkout."""
    for sub in ("tmp", "spark_local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={work}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(
            ROOT, "solana_event_stream_spark", "__init__.py")) \
            or not os.path.isdir(os.path.join(ROOT, "fixtures")):
        log(f"no engine sources under {ROOT}: run from a full checkout")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_env(work)
    os.chdir(work)      # spark-warehouse / metastore land here too
    # a terminated run still stops what it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, work)
    finally:
        import lib
        lib.stop_processes()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))     # only when empty
        except OSError:
            pass


def run(args, work: str) -> int:
    import lib
    import workloads as wl
    log(f"run {vars(args)} host {json.dumps(lib.host_info(args.seed))}")
    t0 = time.perf_counter()
    from solana_event_stream_spark.session import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    try:
        calib = [lib.calibrate(spark)]
        tracer = lib.Tracer(bool(args.trace))
        ctx = wl.Ctx(spark, args.seed, args.seconds, bool(args.trace),
                     args.tiny, args.corrupt, work, tracer, log)
        with tracer.span(args.workload):
            e2e, layers = wl.WORKLOADS[args.workload](ctx)
        e2e["setup_s"] = session_start_s + lib.median(ctx.setup_s)
        log(f"end-to-end {json.dumps(e2e)} set-up reps {ctx.setup_s} "
            f"session start {session_start_s:.2f} s")
        if args.trace:
            with tracer.span("sweep"):
                layers = {**wl.event_layers(ctx), **wl.maintain_layers(ctx),
                          **wl.catalog_layers(ctx), **layers}
        calib.append(lib.calibrate(spark))
        # the first calibration also pays the session's first job
        log(f"calibration before/after {calib[0]:.0f}/{calib[1]:.0f} ms")
        if args.trace:
            # single-slot baseline of the event-path decomposition
            spark.stop()
            os.environ["SPARK_GRAFT_CPUS"] = "1"
            with tracer.span("session.restart_1slot"):
                spark = ctx.spark = get_spark("perfbench-1slot")
            spark.sparkContext.setLogLevel("ERROR")
            log(f"single-slot session {spark.sparkContext.master}")
            layers.update(wl.event_layers(ctx, suffix="_1slot", runs=2))
            layers["session.start_s"] = session_start_s
            layers["host.calib_before_ms"] = calib[0]
            layers["host.calib_after_ms"] = calib[1]
            for name, (n, tot, own) in sorted(tracer.summary().items()):
                log(f"span {name:28s} n={n:3d} total={tot:9.1f} ms "
                    f"self={own:9.1f} ms")
            metrics = layers
        else:
            metrics = e2e
    finally:
        spark.stop()
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        raise RuntimeError(f"no measurement for {bad}")
    units = E2E_UNITS if not args.trace else \
        {k: layer_unit(k) for k in metrics}
    result = {"correct": ctx.failed == 0 and ctx.attempted > 0,
              "attempted": ctx.attempted, "failed": ctx.failed,
              "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                          for k in sorted(metrics)}}
    log(f"wall {time.perf_counter() - T_PROCESS:.1f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
