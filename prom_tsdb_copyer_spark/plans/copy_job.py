"""The flagship pipeline: the reference's per-slice copy re-expressed as
one declarative DataFrame chain (SURVEY.md §3 entry point 2).

Reference pipeline (/root/reference/copyer.go:58-171):
    scan -> time filter -> label-matcher filter -> relabel ->
    group by series -> ordered encode -> partitioned write

Spark chain (Catalyst plans it; the reference's nested block/slice window
loops become partitioning metadata, not control flow):
    read.parquet -> where(ts BETWEEN) -> where(matchers) ->
    withColumn(appends) -> groupBy(series, bucket).agg(...) ->
    [cascade 1h/1d] -> write partitioned by day

Key divergence-by-design: the reference copies samples at full resolution
and re-blocks; the north rule asks for retention *tiers*, so the group-by
produces rolled-up points (plus, optionally, the Gorilla-compressed chunk
column of the raw points per series+bucket -- functions/gorilla.py).
Slicing granularity (--query-duration) is invisible in results in the
reference (compaction merges slices); here it is invisible because there
are no slices -- a single shuffle replaces the goroutine fan-out, which
is exactly why the block-equality invariant holds by construction.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..matchers import matchers_predicate, transcript_labels
from ..operators.relabel import label_append
from ..operators.rollup import cascade
from ..operators.windows import in_time_range, time_range_pred

TRANSCRIPT_SERIES = ["conv_id", "role", "tool"]

#: key of `run_and_write_rollups`' result holding the finest tier's
#: sum(cnt): the number of input samples the write rolled up
SAMPLES = "samples"


@dataclass(frozen=True)
class CopyJob:
    """Mirrors the reference CLI surface (/root/reference/main.go:113-165).

    from_ms/to_ms None -> discover from the source extent (S2), like the
    omitted --from/--to (copyer.go:227-233). block/query durations are
    retained as partition-planning hints, not control flow.
    """

    from_ms: int | None = None
    to_ms: int | None = None
    matchers: tuple[str, ...] = ()
    label_append: tuple[str, ...] = ()  # "k=v" upserts (main.go:125)
    tiers: tuple[str, ...] = ("1m", "1h", "1d")
    #: tiers that additionally materialize Gorilla chunk tables
    #: (per-series compressed raw points -- SURVEY.md §1.1 hybrid shape)
    chunk_tiers: tuple[str, ...] = ()
    metric_name: str = "turns"
    series_cols: tuple[str, ...] = tuple(TRANSCRIPT_SERIES)
    value_col: str = "value"
    ts_col: str = "ts"
    #: bucket bounds when value_col is a histogram struct (F12 dispatch,
    #: copyer.go:113-127: float -> Append, histogram -> AppendHistogram);
    #: the pipeline routes on the actual column type at run time
    hist_bounds: tuple[float, ...] | None = None
    labels: dict | None = field(default=None, hash=False, compare=False)


def filtered_samples(df: DataFrame, job: CopyJob) -> DataFrame:
    """scan -> time filter (F10) -> matcher filter (F1-F9) -> relabel (F11)."""
    if job.from_ms is not None and job.to_ms is not None:
        df = df.where(time_range_pred(df, job.ts_col, job.from_ms, job.to_ms))
    labels = job.labels
    if labels is None:
        labels = transcript_labels(job.metric_name)
        labels = {k: v for k, v in labels.items()
                  if k == "__name__" or k in df.columns}
    df = df.where(matchers_predicate(list(job.matchers) or None, labels))
    if job.label_append:
        from ..operators.relabel import parse_label_pairs

        df = label_append(df, parse_label_pairs(list(job.label_append)))
    return df


def run_rollups(df: DataFrame, job: CopyJob) -> dict[str, DataFrame]:
    """Full flagship chain -> {tier: tier DataFrame}."""
    series = [c for c in job.series_cols if c in df.columns] + [
        c for c in _appended_names(job) if c not in job.series_cols
    ]
    filtered = filtered_samples(df, job)
    return cascade(filtered, series, job.value_col, job.ts_col, job.tiers)


def _appended_names(job: CopyJob) -> list[str]:
    return [p.split("=", 1)[0] for p in job.label_append]


def run_and_write_rollups(
    spark,
    df: DataFrame,
    job: CopyJob,
    out_root: str,
    mode: str = "overwrite",
    range_ms: tuple[int, int] | None = None,
    collect_counts: bool = False,
) -> dict[str | int, int]:
    """Materialized cascade: write the finest tier, then derive each
    coarser tier from the tier just computed, never from raw.

    Without this, writing three tiers from one lazy cascade re-executes
    the raw scan+shuffle once per tier (lineage recompute) -- measured 3x
    wall on the bench. Each coarser tier re-aggregates the tier just
    WRITTEN (read back): restartable mid-way, and at fixture scale the
    read-back (zstd decode of a ~1000x-smaller table) measured CHEAPER
    than both Spark caching of the finer tier (MEMORY_AND_DISK persist
    nearly doubled wall: columnar cache build + heap pressure) and a
    grouping-sets multi-tier single pass (Expand re-aliases the cluster
    key, forcing a second full exchange) -- both were built and timed
    before being rejected, see BENCH.md.

    The shuffle amortization that DID win is the single-shuffle
    clustered aggregation (operators/rollup.py `cluster`): every tier
    except the coarsest aggregates directly into time-clustered
    partitions, so the sink skips its clustering exchange entirely --
    the finest tier (the big one: at minute grain the tier is nearly
    row-for-row the input) pays ONE exchange total. The coarsest tier
    keeps the classic two-exchange shape because partial aggregation
    compresses its shuffle far below the input size.

    `range_ms` (window-sliced runs): coarser levels read back only the
    buckets overlapping the window, WIDENED to their own alignment -- a
    1d bucket spanning several windows is recomputed from all of its
    already-written 1h partials, so per-window cost stays O(window), not
    O(table).

    Returns the rows each write produced, as the write job itself
    observed them (`DataFrame.observe`, no count job and no read-back):
    `{tier: rows, "chunks=<t>": rows, SAMPLES: samples}`, where
    `SAMPLES` is the finest tier's sum(cnt) (sum(hist_count) for
    histograms) -- each input sample lands in exactly one finest bucket,
    so it counts the samples that passed the filters. A tier skipped
    because the finest tier is empty reads 0. `collect_counts` is kept
    for old callers only; it no longer selects a code path."""
    from pyspark.sql import Observation

    from ..operators.rollup import reaggregate
    from ..operators.rollup import rollup as _rollup
    from ..operators.windows import TIER_MS
    from ..sources.tables import read_tier, write_tier

    # single-shuffle clustered aggregation: chunks-per-partition trades
    # hash-placement balance (more, smaller chunks) against day-dir
    # contiguity of each task's output (fewer, larger chunks -> fewer
    # parquet files). 16 scattered each task across ~15 day dirs at
    # bench extent (938 ~0.5MB files/tier); 8 halves the file count for
    # a marginally wider load spread and won 5/5 interleaved reps by
    # ~10% wall (BENCH.md r4); 4 was not reliably better than 8.
    chunks_per_part = _env_int("TIER_CHUNKS_PER_PART", 8, minimum=1)
    # scale-adaptive: tracks the session's parallelism (2x for straggler
    # slack); TIER_CLUSTER_PARTS pins it for A/Bs and cluster tuning
    # (0 = auto)
    n_parts = _env_int("TIER_CLUSTER_PARTS", 0, minimum=0) or max(
        2 * spark.sparkContext.defaultParallelism, 8
    )

    series = [c for c in job.series_cols if c in df.columns] + [
        c for c in _appended_names(job) if c not in job.series_cols
    ]
    filtered = filtered_samples(df, job)

    # bucket-extent hint for the sink's sampling-free clustering: the
    # window range if given, else footer-stat min/max of the UNfiltered
    # source (a wider hint only makes chunks sparser, never wrong; with
    # parquet aggregate pushdown this is a stats read, not a scan)
    range_hint = range_ms
    if range_hint is None:
        try:
            from ..sources.tables import time_extent

            range_hint = time_extent(df, job.ts_col)
        except Exception:
            range_hint = None

    # F12 value-type dispatch (copyer.go:113-127): float values roll up
    # through the algebraic tier path, histogram structs through the
    # bucket-wise merge path -- same cascade, shuffle, and sink shape
    from ..sources.ingest import value_kind

    kind = value_kind(df, job.value_col)
    if kind == "histogram":
        from ..operators.histogram import DEFAULT_BOUNDS, hist_reaggregate, hist_rollup

        n_buckets = len(job.hist_bounds or DEFAULT_BOUNDS) + 1
        first_tier = lambda d, t, cl: hist_rollup(  # noqa: E731
            d, series, t, n_buckets, hist_col=job.value_col, ts_col=job.ts_col,
            cluster=cl,
        )
        reagg = lambda d, t, cl: hist_reaggregate(  # noqa: E731
            d, series, t, n_buckets, cluster=cl
        )
    else:
        first_tier = lambda d, t, cl: _rollup(  # noqa: E731
            d, series, job.value_col, t, job.ts_col, cluster=cl
        )
        reagg = lambda d, t, cl: reaggregate(d, series, t, cluster=cl)  # noqa: E731
    samples_col = "hist_count" if kind == "histogram" else "cnt"

    def cluster_of(hint):
        if hint is None:
            return None
        lo, hi = int(hint[0]), int(hint[1])
        return (lo, max((hi - lo + 1) // (chunks_per_part * n_parts), 1),
                n_parts)

    def write(tier_df, path, sums=(), pre_clustered=False) -> dict:
        """write_tier, returning what the write itself observed: `rows`
        plus the sum of each column in `sums` (one Observation per
        write -- an Observation cannot be reused)."""
        obs = Observation()
        write_tier(
            tier_df, path, mode=mode, range_hint=range_hint,
            pre_clustered=pre_clustered, sort_labels=series,
            observe=(obs, F.count(F.lit(1)).alias("rows"),
                     *[F.sum(c).alias(c) for c in sums]),
        )
        return obs.get

    rows: dict[str | int, int] = {}
    prev_path = None
    for i, tier in enumerate(job.tiers):
        # the coarsest re-aggregation keeps the classic two-exchange
        # shape (partial agg compresses its shuffle below input size)
        coarsest_reagg = i == len(job.tiers) - 1 and i > 0
        cl = None if coarsest_reagg else cluster_of(range_hint)
        if i == 0:
            tier_df = first_tier(filtered, tier, cl)
        else:
            # a fully-filtered input writes NO parquet files at the
            # finest tier (dynamic overwrite, zero partitions); coarser
            # levels then have nothing to aggregate and the read-back
            # would crash on schema inference -- stop cleanly (the
            # manifest layer records rows_in=0 for the window)
            from pathlib import Path as _Path

            if not any(_Path(prev_path).rglob("*.parquet")):
                # same key convention as the normal path (rows[tier]):
                # int-ms tiers must not land as str keys (ADVICE r3)
                for t in job.tiers[i:]:
                    rows[t] = 0
                break
            prev = read_tier(spark, prev_path).drop("part_day")
            if range_ms is not None:
                tier_ms = TIER_MS[tier] if isinstance(tier, str) else int(tier)
                lo = (range_ms[0] // tier_ms) * tier_ms
                hi = ((range_ms[1] // tier_ms) + 1) * tier_ms - 1
                prev = prev.where(F.col("bucket_ms").between(lo, hi))
            tier_df = reagg(prev, tier, cl)
        path = os.path.join(out_root, f"tier={tier}")
        seen = write(tier_df, path, sums=(samples_col,) if i == 0 else (),
                     pre_clustered=cl is not None)
        rows[tier] = seen["rows"]
        if i == 0:
            rows[SAMPLES] = int(seen[samples_col] or 0)
        prev_path = path

    # Gorilla chunk tables: the per-series compressed raw points at the
    # requested grains (the reference's actual block payload; rolled-up
    # tiers above are the continuous-aggregate layer)
    from ..functions.gorilla import encode_tier_chunks

    if job.chunk_tiers and kind == "histogram":
        raise ValueError(
            "Gorilla chunk tiers encode float samples; histogram-valued "
            "jobs roll up bucket-wise instead (set chunk_tiers=())"
        )
    for tier in job.chunk_tiers:
        chunks = encode_tier_chunks(
            filtered, series, tier, value_col=job.value_col, ts_col=job.ts_col
        )
        path = os.path.join(out_root, f"chunks={tier}")
        rows[f"chunks={tier}"] = write(chunks, path)["rows"]
    return rows


def _env_int(name: str, default: int, minimum: int) -> int:
    """Integer env knob, validated before any Spark work: a malformed or
    out-of-range value raises instead of surfacing later as a division
    by zero or a negative partition count."""
    raw = os.environ.get(name, str(default))
    try:
        value = int(raw)
    except ValueError:
        value = None
    if value is None or value < minimum:
        raise ValueError(f"{name} must be an integer >= {minimum}, got {raw!r}")
    return value


def sliced_rollup(
    df: DataFrame,
    job: CopyJob,
    tier: str,
    slice_ms: int,
    from_ms: int,
    to_ms: int,
) -> DataFrame:
    """Rollup computed the way the reference computes blocks: slice the
    range with getQueryRange (--query-duration, copyer.go:177-180), roll
    up each slice independently, then merge the per-slice partials --
    the semantic equivalent of doCompact's k-way merge (compact.go:26-45,
    SURVEY.md §2.8 M2 realization (a)).

    Exists to *prove* slicing granularity is invisible in results (the
    block-equality invariant, FIXTURES.md §3.4); the production path
    (run_rollups) needs no slices because the shuffle already merges.
    """
    from ..operators.rollup import reaggregate, rollup
    from ..operators.windows import get_query_range

    series = [c for c in job.series_cols if c in df.columns]
    slices = get_query_range(from_ms, to_ms, slice_ms)
    parts = []
    for w in slices:
        sliced = df.where(in_time_range(F.col(job.ts_col), w.start_ms, w.end_ms))
        parts.append(rollup(filtered_samples(sliced, job), series, job.value_col,
                            tier, job.ts_col))
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    # merge partials: re-aggregating at the SAME tier is the compaction
    # (floor to the same grid is idempotent; partial rows combine)
    return reaggregate(merged, series, tier)


def copy_raw(df: DataFrame, job: CopyJob, path: str) -> None:
    """Raw copy leg of entry point 2: filtered samples written to a
    day-partitioned parquet table WITHOUT aggregation -- the closest
    analog of the reference's full-resolution block copy, and the carrier
    of the per-turn text-equality invariant (text rides along untouched;
    stable (conv_id, turn_idx) ordering is re-established on read by
    sort, as the TSDB re-establishes time order via its index)."""
    from ..operators.windows import DAY_MS, bucket_ms_col

    out = filtered_samples(df, job).withColumn(
        "part_day", F.to_date(F.timestamp_millis(
            bucket_ms_col(F.col(job.ts_col), DAY_MS)))
    )
    (out.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_day").mode("overwrite").parquet(path))
