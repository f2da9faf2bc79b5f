"""Crawl-engine benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_zipf_resume --seed 1 --seconds 10 --trace 0

Sets up one pinned Spark session, generates the workload's inputs from
``--seed``, warms its code paths, runs its jobs as a closed loop for
``--seconds``, checks every output and prints one JSON object as the
last line of stdout: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (Spark event log on) with ``--trace 1``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "3g"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def start_session(workdir: Path, cores: int, trace: bool):
    """The pinned session: local[nproc], nproc shuffle partitions, fixed
    driver memory, every scratch file under ``workdir``."""
    from publicationsretriever_spark.session import get_spark

    local, tmp = workdir / "spark-local", workdir / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # the pandas-UDF workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = workdir / "events"
        events.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(events),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf=conf,
    )
    # a generated-code compile failure (Spark falls back to the
    # interpreted plan) logs the whole generated source at ERROR level
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until the JVM and
    every Python worker under it have exited."""
    from pyspark import SparkContext

    from tracing import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main() -> int:
    args = parse_args()
    t_start = time.time()
    sys.path.insert(0, str(ROOT))
    import publicationsretriever_spark  # noqa: F401  fail fast outside a checkout

    import workloads
    from tracing import MemorySampler, Spans, event_log_metrics, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    workdir = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    sampler = MemorySampler()
    sampler.start()
    spark = None
    try:
        spark = start_session(workdir, cores, bool(args.trace))
        spans = Spans()
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, workdir, cores, spans
        )
        with spans.span("setup"):
            inputs = wl.setup()
        setup_s = time.time() - t_start

        sampler.reset()
        jobs = []
        t0 = time.time()
        while not jobs or time.time() - t0 < args.seconds:
            with spans.span("job"):
                jobs.append(wl.job())
        peak_mb = sampler.peak_mb()
        e2e = {"setup_s": setup_s, "peak_pss_mb": peak_mb, **wl.metrics(jobs)}

        with spans.span("check"):
            attempted, failed, errors = wl.check(jobs)
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        if args.trace:  # a layer the workload does not run reads 0
            layers = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            layers.update(wl.layers(jobs))
            with spans.span("trace_extra"):
                extra, n_att, n_failed, extra_errors = wl.trace_extra()
            layers.update(extra)
            attempted, failed = attempted + n_att, failed + n_failed
            errors += extra_errors
            # traced minus untraced job_p50_s is the tracing overhead
            layers["trace.job_p50_s"] = e2e["job_p50_s"]
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)
        stop_session(spark)
        spark = None
        if args.trace:  # the event log is complete once the session stopped
            layers.update(event_log_metrics(
                read_event_log(workdir / "events"), spans.windows("job"),
                wl.round_windows(),
            ))
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = layers if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "jobs": len(jobs), "inputs": inputs, "failed_ratio": failed / attempted,
        "spans_s": {n: round(spans.total(n), 3)
                    for n in dict.fromkeys(r[0] for r in spans.records)},
        "end_to_end": e2e,
    }))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report, exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
