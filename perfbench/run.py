"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones (see BENCHMARK.json); with --trace 1
they are the per-layer ones, and the spans go to a trace file. The line
before it is the run's record: host context, operation counts and timings.
Everything the run writes goes under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: (name, unit) of the end-to-end metrics, in BENCHMARK.json order
END_TO_END = [
    ("samples_per_s", "samples/s"),
    ("read_p50_ms", "ms"),
    ("bytes_per_sample", "bytes/sample"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]
#: JVM heap, fixed and touched in full at start: G1's adaptive sizing
#: otherwise moves the JVM's resident memory by +-20% between identical
#: runs, so peak memory measures the fixed heap plus everything off-heap
#: and in Python; a run that needs more heap fails
JVM_HEAP = "2g"


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait until every process the run
    started (the JVM and its Python workers) has exited."""
    from perfbench.host import descendants

    children = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(Path(f"/proc/{pid}").exists() for pid in children):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {children}")
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["backfill", "incremental"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    # the package under test comes from this checkout; a directory without
    # it fails here, before any result is printed
    sys.path.insert(0, str(ROOT))
    import prom_tsdb_copyer_spark  # noqa: F401

    from perfbench import host, inputs, layers, trace, workloads

    work = ROOT / ".perfbench_work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # Python workers inherit this environment (they import the package)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")

    context = host.context()
    inp, meta = inputs.ensure(work, args.workload, args.seed)

    conf = {
        "spark.driver.memory": JVM_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(work / "spark-local"),
    }
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    event_dir = work / "eventlog" / run_id
    if args.trace:
        event_dir.mkdir(parents=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir.as_uri(),
                     "spark.eventLog.compress": "false"})

    from prom_tsdb_copyer_spark.session import get_spark

    with host.PeakRss() as rss:
        started = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                          extra_conf=conf)
        session_s = time.perf_counter() - started
        tracer = trace.Tracer(spark.sparkContext)
        restore = trace.install(tracer) if args.trace else []
        run = workloads.Run(spark, tracer, bool(args.trace), work, args.seed,
                            args.seconds, inp, meta, started)
        try:
            e2e = workloads.WORKLOADS[args.workload](run)
        finally:
            trace.uninstall(restore)
            stop_spark(spark)
    e2e["setup_s"] = run.setup_s
    e2e["peak_rss_mb"] = rss.peak_mb

    if args.trace:
        trace.attach_event_log(tracer, event_dir)
        per_layer = layers.compute(tracer, run.ops,
                                   {**run.facts, "session.start_s": session_s})
        (work / "traces").mkdir(exist_ok=True)
        trace.dump(tracer, work / "traces" / f"{run_id}.json",
                   {"ops": run.ops, "per_layer": per_layer})
        metrics = {n: {"value": per_layer[n], "unit": u}
                   for n, u, _ in layers.PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    kinds = sorted({k for k, *_ in run.ops})
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": context, "loadavg_end": list(os.getloadavg()),
        "input": meta, "session_start_s": session_s, "warmup_s": run.warmup,
        "peak_rss_by_process_mb": rss.peak_parts,
        "ops": {k: {"n": len(run.durations(k)),
                    "median_s": statistics.median(run.durations(k))}
                for k in kinds if run.durations(k)},
    }
    (work / "records").mkdir(exist_ok=True)
    (work / "records" / f"{run_id}.json").write_text(
        json.dumps({**record, "metrics": metrics}))
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
