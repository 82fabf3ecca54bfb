"""CLI runner mirroring the reference's flag surface
(/root/reference/main.go:113-165), driving the Spark engine.

    python -m prom_tsdb_copyer_spark.cli \
        --source /path/transcripts_parquet --target /path/tiers \
        --from "2026-01-01 00:00:00" --to "2026-01-03 00:00:00" \
        -l 'role=assistant' -l 'conv_id=~conv-00.*' \
        -T 'env=prod' -B 24h -S 2h --tiers 1m,1h,1d --show-metrics

Flag mapping (reference -> here):
    --from/--to        time range; omitted -> discovered from source (S2)
    -l/--match         Prometheus matcher strings (F1-F9)
    -T/--label-append  k=v upserts (F11)
    -B/--block-duration  checkpoint window granularity (W2)
    -S/--query-duration  retained as a no-op hint: slicing is shuffle
                         partitioning here, proven result-invisible (M2)
    --thread           -> local[N] core count (P4)
    --show-metrics     dump manifest-derived metrics JSON to stdout (O3)

Times parse like the reference (main.go:22-24,75-80): with or without
millis; zone-less strings are taken in the LOCAL timezone, replicating
tryParseTimeWithZone.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from datetime import datetime


def parse_duration_ms(s: str) -> int:
    """Duration strings in a strict subset of Go's time.ParseDuration:
    24h, 2h30m, 15s, 500ms, plus 1d (an extension Go lacks).

    The whole string must be a sequence of <unsigned int><unit> tokens,
    units d/h/m/s/ms, or the bare "0". Go also accepts fractions
    ("1.5h"), a sign ("-2h") and the us/µs/ns units; those are rejected
    here, as is malformed input like "2x3h" (Go errors on it too)."""
    if s == "0":
        return 0
    units = {"d": 86400000, "h": 3600000, "m": 60000, "s": 1000, "ms": 1}
    if not re.fullmatch(r"(?:\d+(?:ms|[dhms]))+", s):
        raise ValueError(f"cannot parse duration {s!r}")
    out = 0
    for num, unit in re.findall(r"(\d+)(ms|[dhms])", s):
        out += int(num) * units[unit]
    if out == 0:
        raise ValueError(f"cannot parse duration {s!r}")
    return out


def parse_time_ms(s: str) -> int:
    """Replicates tryParseTimeWithZone: layouts `2006-01-02 15:04:05.999`
    with optional zone; zone-less -> local timezone (main.go:75-80)."""
    for fmt in (
        "%Y-%m-%d %H:%M:%S.%f%z",
        "%Y-%m-%d %H:%M:%S%z",
        "%Y-%m-%d %H:%M:%S.%f",
        "%Y-%m-%d %H:%M:%S",
    ):
        try:
            dt = datetime.strptime(s, fmt)
        except ValueError:
            continue
        if dt.tzinfo is None:
            dt = dt.astimezone()  # local tz, like the reference
        return int(dt.timestamp() * 1000)
    raise ValueError(f"cannot parse time {s!r}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="prom-tsdb-copyer-spark",
        description="PySpark time-series rollup/retention engine",
    )
    p.add_argument("--source", required=True, help="transcripts parquet path")
    p.add_argument("--target", required=True, help="tier table root")
    p.add_argument("--from", dest="from_", default=None, help="start time")
    p.add_argument("--to", dest="to", default=None, help="end time")
    p.add_argument("-l", "--match", action="append", default=[],
                   help="label matcher (repeatable)")
    p.add_argument("-T", "--label-append", action="append", default=[],
                   help="k=v label upsert (repeatable)")
    p.add_argument("-B", "--block-duration", default="24h",
                   help="checkpoint window granularity")
    p.add_argument("-S", "--query-duration", default="2h",
                   help="slicing hint (results proven split-invariant)")
    p.add_argument("--tiers", default="1m,1h,1d")
    p.add_argument("--chunk-tiers", default="",
                   help="tiers that also materialize Gorilla chunk tables")
    p.add_argument("--thread", type=int, default=None, help="local[N] cores")
    p.add_argument("--run-id", default="cli")
    p.add_argument("--show-metrics", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    from .plans.copy_job import CopyJob
    from .session import get_spark
    from .sources.manifest import ResumableRollup, read_manifest
    from .sources.tables import time_extent

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="copyer-cli", cores=args.thread)
    df = spark.read.parquet(args.source)
    from_ms = parse_time_ms(args.from_) if args.from_ else None
    to_ms = parse_time_ms(args.to) if args.to else None
    if from_ms is None or to_ms is None:
        lo, hi = time_extent(df)
        from_ms = lo if from_ms is None else from_ms
        to_ms = hi if to_ms is None else to_ms

    job = CopyJob(
        matchers=tuple(args.match),
        label_append=tuple(args.label_append),
        tiers=tuple(args.tiers.split(",")),
        chunk_tiers=tuple(t for t in args.chunk_tiers.split(",") if t),
    )
    runner = ResumableRollup(
        job,
        args.target,
        block_ms=parse_duration_ms(args.block_duration),
        run_id=args.run_id,
        source_path=args.source,
    )
    stats = runner.run(df, from_ms, to_ms)
    print(json.dumps({"run": stats}), file=sys.stderr)

    if args.show_metrics:
        # O3 analog: scrape our own manifest instead of a Prometheus
        # registry (main.go:172-182)
        entries = read_manifest(args.target)
        metrics = {
            "windows_total": len(entries),
            "rows_in_total": sum(e.rows_in for e in entries.values()),
            "rows_out_total": {
                t: sum(e.rows_out.get(t, 0) for e in entries.values())
                for t in job.tiers
            },
            "copy_seconds_sum": sum(e.duration_ms for e in entries.values()) / 1000,
        }
        print(json.dumps(metrics))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
