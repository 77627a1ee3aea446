"""Long-run benchmark of the extraction pipeline and the operator library.

    python3 perfbench/run.py --workload web_resume --seed 1 --seconds 25 --trace 0

Run from the repository root. Each run starts one SparkSession on
``local[N]`` (N = min(2, cores)), sets up and warms up, then times
round(``--seconds`` / the workload's nominal pass time) whole passes of
the workload, at least one, checks every pass's outputs against
expectations computed apart from the program, and prints one JSON
object as the last line of stdout. ``pass_s`` and ``cpu_s`` come from
the run's fastest pass, ``peak_rss_mb`` and ``out_mb`` are the median
over its passes.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (event log + spans + in-process kernel timings).
Everything the run writes lives under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

# two task slots on a 4-core box leave cores for the driver, the JVM's
# own threads and the Python workers' Arrow feeders: with four, a pass's
# wall time followed the host's CPU steal more closely, while two slots
# made a pass no slower, since its jobs are short and mostly serial
CORES = min(2, os.cpu_count() or 1)


def _env() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the work dir, and let the workers import the program."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_spark(event_dir: Path | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", str(WORK / "spark"))
        .config("spark.sql.warehouse.dir", str(WORK / "spark" / "warehouse"))
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_run = time.perf_counter()
    _env()
    import workloads  # imports the program: fails fast without it
    from procstat import TreeMeter
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    wl = workloads.WORKLOADS[args.workload](WORK, ROOT, args.seed)
    wl.prepare()
    t_prep = time.perf_counter() - t_run
    tracer = Tracer(enabled=bool(args.trace))
    event_dir = WORK / "eventlog" if args.trace else None
    if event_dir is not None:
        shutil.rmtree(event_dir, ignore_errors=True)

    t0 = time.perf_counter()
    spark = start_spark(event_dir)
    try:
        wl.warmup(spark)
        setup_s = time.perf_counter() - t0

        meter = TreeMeter()
        passes = []
        for _ in range(wl.n_passes(args.seconds)):
            out = wl.clean_outputs()
            meter.start()
            t0 = time.time()
            p0 = time.perf_counter()
            with tracer.span("pass"):
                wl.run_pass(spark, tracer)
            wall = time.perf_counter() - p0
            cpu, rss = meter.stop()
            passes.append(
                {
                    "pass_s": wall,
                    "cpu_s": cpu,
                    "peak_rss_mb": rss,
                    "out_mb": workloads.dir_bytes(out) / 2**20,
                    "t0": t0,
                    "t1": time.time(),
                }
            )
            wl.check_pass()
        wl.check_run()
    finally:
        stop_spark(spark)
    t_stopped = time.perf_counter() - t_run

    if args.trace:
        metrics = wl.layer_metrics(passes, tracer, event_dir)
        tracer.dump(WORK / "trace" / f"{args.workload}-{args.seed}.json")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            # times from the fastest pass, the one least slowed by other
            # load on the host (its CPU steal comes in bursts of seconds
            # to minutes); sizes are the median over the passes
            **{
                k: (agg(p[k] for p in passes), unit)
                for k, unit, agg in (
                    ("pass_s", "s", min),
                    ("cpu_s", "s", min),
                    ("peak_rss_mb", "MB", statistics.median),
                    ("out_mb", "MB", statistics.median),
                )
            },
        }
    print(
        f"prepared={t_prep:.1f}s stopped={t_stopped:.1f}s "
        f"done={time.perf_counter() - t_run:.1f}s "
        f"passes={len(passes)} setup_s={setup_s:.3f} "
        f"pass_s={[round(p['pass_s'], 2) for p in passes]} "
        f"cpu_s={[round(p['cpu_s'], 2) for p in passes]} "
        f"failures={dict(wl.failure_classes)}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": wl.correct,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
