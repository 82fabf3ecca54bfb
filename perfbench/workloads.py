"""The benchmark's workloads: closed loops with one client thread.

`backfill`  bulk copies of one input week through `cli.main` (one `-B`
            block over the whole extent, a role matcher, a `-T` label append,
            tiers 1m/1h/1d plus Gorilla chunks at 1h), then the `report`
            read class over the tree the last copy wrote.
`incremental`  hourly arrivals, each landed as a new time-clustered file
            and copied through `cli.main`, plus a count-min sketch of the
            hour appended through `write_tier`; after each arrival a
            dashboard `panel` refresh reads the fresh tree. A maintenance
            pass (retention, then compaction) runs after the last arrival.

Both print the same end-to-end metrics: ingest throughput, read latency of
the workload's one read class, stored bytes per sample, set-up time and
peak memory.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from . import checks, inputs
from .trace import Tracer

SERIES = ["conv_id", "role", "tool"]
HOUR_MS = inputs.HOUR_MS
DAY_MS = inputs.DAY_MS

#: backfill flags: one block over the whole input week
BACKFILL_MATCHER = ("role=~assistant|tool", "regexp_full_match(role, 'assistant|tool')")
BACKFILL_APPEND = "env=prod"
BACKFILL_SERIES = [*SERIES, "env"]
#: one warm-up copy, of the first source file only: it pays the JVM's and
#: the Python workers' first-use cost, which does not depend on input size
WARM_PASSES = 1
MIN_PASSES = 3
#: fewest reads per run: the median then has ten samples beyond it
MIN_READS = 20
WARM_READS = 3
#: incremental: fewest arrivals per run, and dashboard panels refreshed
#: after each (MIN_WINDOWS * PANELS_PER_WINDOW >= MIN_READS)
MIN_WINDOWS = 8
PANELS_PER_WINDOW = 3

#: incremental maintenance policy, measured back from the end of the last
#: arrival: the 1m tier keeps 4 h (so its first day is dropped), the rest
#: keep everything the run writes
KEEP_MS = {"1m": 4 * HOUR_MS, "1h": 30 * DAY_MS, "1d": 90 * DAY_MS}
CMS_DEPTH = 4


class Run:
    """One benchmark run: timed operations, checks and their tallies."""

    def __init__(self, spark, tracer: Tracer, trace: bool, work: Path,
                 seed: int, seconds: float, inp: Path, meta: dict,
                 started: float):
        self.spark = spark
        self.tracer = tracer
        self.trace = trace
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.inp = inp
        self.meta = meta
        self.started = started
        self.rng = random.Random(seed)
        self.setup_s: float | None = None
        self.ops: list[tuple[str, float, bool, bool]] = []  # kind, s, traced, ok
        self.attempted = 0
        self.failed = 0
        self.facts: dict[str, float] = {}
        self.warmup: list[float] = []  # untimed set-up operations, in order

    def warm(self, fn) -> None:
        """An untimed warm-up operation; its duration goes to the record."""
        t0 = time.perf_counter()
        fn()
        self.warmup.append(time.perf_counter() - t0)

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.started

    def op(self, kind: str, fn, traced: bool):
        """Run one timed operation; a raise counts it as failed."""
        self.tracer.active = self.trace and traced
        ok, out = True, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}") as s:
                out = fn(s)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        dur = time.perf_counter() - t0
        self.tracer.active = False
        self.attempted += 1
        self.failed += not ok
        self.ops.append((kind, dur, self.trace and traced, ok))
        return out

    def check(self, name: str, fn) -> None:
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"check failed: {name}", file=sys.stderr)

    def durations(self, kind: str) -> list[float]:
        """Durations of the successful operations of one kind."""
        return [d for k, d, _, ok in self.ops if k == kind and ok]


def _fmt(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3] + "+0000"


def _tree_bytes(root: Path, prefixes: tuple[str, ...]) -> int:
    return sum(f.stat().st_size for p in prefixes
               for f in root.glob(f"{p}*/**/*.parquet"))


def _collect(run: Run, df) -> list:
    with run.tracer.span("query.execute"):
        return df.collect()


# -- backfill ----------------------------------------------------------------

def _report(run: Run, tree: str, q: dict):
    from prom_tsdb_copyer_spark.operators import query, rollup

    def go(s):
        df = query.query_range(run.spark, tree, BACKFILL_SERIES,
                               from_ms=q["lo"], to_ms=q["hi"],
                               step_ms=q["step"])
        rows = _collect(run, rollup.aggregate_by_labels(
            df, BACKFILL_SERIES, by=[q["by"]]))
        if s is not None:
            s.attrs["rows"] = len(rows)
        return rows
    return go


#: report shapes (days, step, by): every cycle runs each shape once, in a
#: seeded order at a seeded start day, so the seed moves the reads but not
#: their mix of sizes
REPORT_SHAPES = [(days, step, by) for days in (1, 3, inputs.BACKFILL_DAYS)
                 for step in (HOUR_MS, DAY_MS) for by in ("role", "tool")]


def _report_cycle(rng: random.Random, lo_ms: int) -> list[dict]:
    shapes = REPORT_SHAPES[:]
    rng.shuffle(shapes)
    out = []
    for days, step, by in shapes:
        start = lo_ms + rng.randint(0, inputs.BACKFILL_DAYS - days) * DAY_MS
        out.append({"lo": start, "hi": start + days * DAY_MS - 1,
                    "step": step, "by": by})
    return out


def backfill(run: Run) -> dict:
    from prom_tsdb_copyer_spark import cli
    from prom_tsdb_copyer_spark.functions import gorilla

    samples = run.meta["samples"]
    lo_ms = run.meta["extent_ms"][0]
    src = str(run.inp / "source")
    out = run.work / "out" / "backfill"
    shutil.rmtree(out, ignore_errors=True)

    def argv(target: Path, source: str = src) -> list[str]:
        return ["--source", source, "--target", str(target),
                "-l", BACKFILL_MATCHER[0], "-T", BACKFILL_APPEND,
                "-B", f"{inputs.BACKFILL_DAYS}d", "--tiers", "1m,1h,1d",
                "--chunk-tiers", "1h", "--run-id", "perfbench"]

    for i in range(WARM_PASSES):
        run.warm(lambda: cli.main(argv(out / f"warm-{i}",
                                       f"{src}/part-0000.parquet")))
        shutil.rmtree(out / f"warm-{i}")
    run.end_setup()

    # timed copies: at least MIN_PASSES, half the run's seconds
    t0, i, tree = time.perf_counter(), 0, None
    while i < MIN_PASSES or time.perf_counter() - t0 < run.seconds / 2:
        if tree is not None:
            shutil.rmtree(tree)
        tree = out / f"pass-{i}"
        run.op("pass", lambda s, t=tree: cli.main(argv(t)), traced=i % 2 == 0)
        i += 1

    # the report class over the last tree: warm the read path, then time
    tree_s = str(tree)
    for q in _report_cycle(random.Random(0), lo_ms)[:WARM_READS]:
        run.warm(lambda: _report(run, tree_s, q)(None))
    reads = []
    t0 = time.perf_counter()
    while len(reads) < MIN_READS or time.perf_counter() - t0 < run.seconds / 2:
        for q in _report_cycle(run.rng, lo_ms):
            rows = run.op("report", _report(run, tree_s, q),
                          traced=len(reads) % 2 == 0)
            reads.append((q, rows))

    # -- checks, outside the timed region
    con = checks.connect(f"{src}/*.parquet", BACKFILL_MATCHER[1],
                         ", 'prod' AS env")
    expected = checks.raw_count(con)
    for t in ("1m", "1h", "1d"):
        run.check(f"sum cnt tier={t}", lambda t=t: checks.table_sum(
            con, f"{tree}/tier={t}/*/*.parquet") == expected)
    chunk_glob = f"{tree}/chunks=1h/*/*.parquet"
    run.check("sum cnt chunks=1h",
              lambda: checks.table_sum(con, chunk_glob) == expected)
    run.check("chunks decode to raw points",
              lambda: _check_decode(run, con, chunk_glob, gorilla))
    for idx in sorted(run.rng.sample(range(len(reads)), 4)):
        q, rows = reads[idx]
        run.check(f"report #{idx}", lambda q=q, rows=rows: rows is not None
                  and checks.same(
                      [(r[q["by"]], r["bucket_ms"], r["n_series"], r["cnt"],
                        r["sum_val"], r["min_val"], r["max_val"]) for r in rows],
                      checks.report_rows(con, BACKFILL_SERIES, q["by"],
                                         q["lo"], q["hi"], q["step"]),
                      float_idx=(4,)))

    # Gorilla and filter facts from the written tree (traced records)
    chunk_stats = con.execute(
        f"SELECT sum(cnt), count(*), sum(octet_length(chunk)) "
        f"FROM read_parquet('{chunk_glob}')").fetchone()
    run.facts["gorilla.samples_per_chunk"] = chunk_stats[0] / chunk_stats[1]
    run.facts["gorilla.bytes_per_sample"] = chunk_stats[2] / chunk_stats[0]
    run.facts["filter.selectivity"] = expected / samples

    passes = run.durations("pass")
    return {
        "samples_per_s": samples * len(passes) / sum(passes),
        "read_p50_ms": 1000 * statistics.median(run.durations("report")),
        "bytes_per_sample": _tree_bytes(tree, ("tier=", "chunks=")) / samples,
    }


def _check_decode(run: Run, con, chunk_glob: str, gorilla) -> bool:
    """A seeded sample of chunks decodes (`decode_tier_chunks`) to exactly
    the raw points of its series and hour."""
    cols = ", ".join(BACKFILL_SERIES)
    picked = con.execute(
        f"SELECT {cols}, bucket_ms, chunk FROM read_parquet('{chunk_glob}') "
        f"ORDER BY hash(conv_id, role, tool, bucket_ms, {run.seed}) LIMIT 8"
    ).fetchall()
    schema = ", ".join(f"{c} string" for c in BACKFILL_SERIES)
    df = run.spark.createDataFrame(
        [(*r[:4], bytearray(r[5])) for r in picked],
        schema=f"{schema}, chunk binary")
    decoded: dict[tuple, list] = {}
    for r in gorilla.decode_tier_chunks(df, BACKFILL_SERIES).collect():
        key = tuple(r[c] for c in BACKFILL_SERIES)
        decoded.setdefault(key, []).append((r["ts_ms"], r["value"]))
    want = checks.raw_points(con, BACKFILL_SERIES,
                             [tuple(r[:5]) for r in picked], HOUR_MS)
    return len(picked) == 8 and all(
        sorted(decoded.get(k, [])) == sorted(v) for k, v in want.items())


# -- incremental -------------------------------------------------------------

PANEL_MATCHERS = (
    ("role=tool", "role = 'tool'"),
    ("role=assistant", "role = 'assistant'"),
    ("tool=~search|db", "regexp_full_match(coalesce(tool, ''), 'search|db')"),
)


#: panel shapes (kind, selector), drawn in seeded cycles like the reports
PANEL_SHAPES = [(kind, sel) for kind in ("instant", "range")
                for sel in ("label", "prefix")]


def _panel_shapes(rng: random.Random):
    while True:
        cycle = PANEL_SHAPES[:]
        rng.shuffle(cycle)
        yield from cycle


def _panel_params(rng: random.Random, shape: tuple, first_ms: int,
                  now_ms: int) -> dict:
    """A dashboard refresh at `now_ms`: the freshest value, or the last 1-6
    hours at 1m step, of a label selection or of ten conversations."""
    kind, sel = shape
    if sel == "label":
        m = rng.choice(PANEL_MATCHERS)
    else:
        # ten conversation ids: conv-0000XYZ0 .. conv-0000XYZ9
        p = f"conv-0000{rng.randint(0, 399):03d}"
        m = (f"conv_id=~{p}.*", f"starts_with(conv_id, '{p}')")
    if kind == "instant":
        return {"kind": kind, "t": now_ms - 1, "m": m}
    hours = rng.randint(1, 6)
    return {"kind": kind, "lo": max(now_ms - hours * HOUR_MS, first_ms),
            "hi": now_ms - 1, "m": m}


def _panel(run: Run, tree: str, q: dict):
    from prom_tsdb_copyer_spark.operators import query

    def go(s):
        if q["kind"] == "instant":
            df = query.query_instant(run.spark, tree, SERIES, q["t"],
                                     matchers=[q["m"][0]])
        else:
            df = query.query_range(run.spark, tree, SERIES, matchers=[q["m"][0]],
                                   from_ms=q["lo"], to_ms=q["hi"],
                                   step_ms=60_000)
        rows = _collect(run, df)
        if s is not None:
            s.attrs["rows"] = len(rows)
        return rows
    return go


def _panel_same(con, q: dict, rows) -> bool:
    if rows is None:
        return False
    if q["kind"] == "instant":
        got = [(r["conv_id"], r["role"], r["tool"], r["value"],
                r["sample_ord"], r["bucket_ms"]) for r in rows]
        return checks.same(got, checks.instant_rows(
            con, SERIES, q["m"][1], q["t"]))
    got = [(r["conv_id"], r["role"], r["tool"], r["bucket_ms"], r["cnt"],
            r["sum_val"], r["min_val"], r["max_val"], r["first_val"],
            r["last_val"], r["first_ord"], r["last_ord"]) for r in rows]
    return checks.same(got, checks.range_rows(
        con, SERIES, q["m"][1], q["lo"], q["hi"], 60_000), float_idx=(5,))


def incremental(run: Run) -> dict:
    from prom_tsdb_copyer_spark import cli
    from prom_tsdb_copyer_spark.operators import compaction, retention, sketches
    from prom_tsdb_copyer_spark.operators.windows import TIER_MS, time_range_pred
    from prom_tsdb_copyer_spark.sources import tables

    first = run.meta["first_hour_ms"]
    per_hour = inputs.SAMPLES_PER_HOUR
    arrivals = sorted((run.inp / "arrivals").glob("hour-*.parquet"))
    out = run.work / "out" / "incremental"
    shutil.rmtree(out, ignore_errors=True)

    def window(src: Path, tree: Path, k: int):
        """Copy arrival k. The copy re-runs the arrival's whole day so
        far: a sub-day `--from/--to` window would overwrite the day
        partition with one hour (see the benchmark README)."""
        lo = first + k * HOUR_MS
        day = lo - lo % DAY_MS

        def go(s):
            cli.main(["--source", str(src), "--target", str(tree),
                      "--from", _fmt(day), "--to", _fmt(lo + HOUR_MS - 1),
                      "-B", "24h", "--tiers", "1m,1h,1d",
                      "--run-id", "perfbench"])
            with run.tracer.span("sketch"):
                raw = run.spark.read.parquet(str(src))
                hour = raw.where(time_range_pred(raw, "ts", lo, lo + HOUR_MS - 1))
                tables.write_tier(
                    sketches.cms_tier(hour, ["role", "tool"], "1h", "conv_id",
                                      depth=CMS_DEPTH),
                    str(tree / "cms=1h"), mode="append",
                    range_hint=(lo, lo + HOUR_MS - 1),
                    sort_labels=["role", "tool"])
        return go

    def land(src: Path, k: int) -> None:
        shutil.copy(arrivals[k], src / arrivals[k].name)

    # set-up: warm the copy and read paths on a throwaway tree
    warm_src, warm_tree = out / "warm-src", out / "warm-tree"
    warm_src.mkdir(parents=True)
    land(warm_src, 0)
    run.warm(lambda: window(warm_src, warm_tree, 0)(None))
    warm_rng = random.Random(0)
    for shape in PANEL_SHAPES[:WARM_READS]:
        run.warm(lambda: _panel(run, str(warm_tree), _panel_params(
            warm_rng, shape, first, first + HOUR_MS))(None))
    shutil.rmtree(out)
    run.end_setup()

    src, tree = out / "source", out / "tree"
    src.mkdir(parents=True)
    shapes = _panel_shapes(run.rng)
    reads, k, t0 = [], 0, time.perf_counter()
    while k < len(arrivals) and (
            k < MIN_WINDOWS or time.perf_counter() - t0 < run.seconds):
        land(src, k)
        run.op("window", window(src, tree, k), traced=k % 2 == 0)
        for _ in range(PANELS_PER_WINDOW):
            q = _panel_params(run.rng, next(shapes), first,
                              first + (k + 1) * HOUR_MS)
            reads.append((q, run.op("panel", _panel(run, str(tree), q),
                                    traced=k % 2 == 0)))
        k += 1
    now_ms = first + k * HOUR_MS

    def maintain(s):
        for name, grain in (("tier=1m", "1m"), ("tier=1h", "1h"),
                            ("tier=1d", "1d"), ("cms=1h", "1h")):
            cutoff = ((now_ms - KEEP_MS[grain]) // TIER_MS[grain]) * TIER_MS[grain]
            retention.expire_partitions(str(tree / name), cutoff)
            compaction.compact_partitions(run.spark, str(tree / name))
    run.op("maintenance", maintain, traced=True)

    # -- checks, outside the timed region
    con = checks.connect(str(src / "*.parquet"))
    cols = ", ".join(SERIES)
    agg = ("cnt, sum_val, min_val, max_val, first_val, last_val, "
           "first_ord, last_ord")
    run.check("tier=1h equals one-shot rollup", lambda: checks.same(
        con.execute(f"SELECT {cols}, bucket_ms, {agg} FROM read_parquet("
                    f"'{tree}/tier=1h/*/*.parquet')").fetchall(),
        checks.range_rows(con, SERIES, "TRUE", 0, now_ms, HOUR_MS),
        float_idx=(5,)))
    run.check("cms=1h holds depth x samples", lambda: checks.table_sum(
        con, f"{tree}/cms=1h/*/*.parquet") == CMS_DEPTH * k * per_hour)
    for idx in sorted(run.rng.sample(range(len(reads)), 4)):
        q, rows = reads[idx]
        run.check(f"panel #{idx}", lambda q=q, rows=rows: _panel_same(con, q, rows))

    return {
        "samples_per_s": k * per_hour / sum(run.durations("window")),
        "read_p50_ms": 1000 * statistics.median(run.durations("panel")),
        "bytes_per_sample": _tree_bytes(tree, ("tier=", "cms=")) / (k * per_hour),
    }


WORKLOADS = {"backfill": backfill, "incremental": incremental}
