"""Sources & sinks: partitioned-parquet tables (SURVEY.md §2.1).

The reference reads a TSDB directory read-only (S1, copyer.go:60) and
writes immutable blocks (S4/S5, copyer.go:82,157-164). Our analog: read
columnar parquet (Catalyst pushes time filters to row-group stats --
Iceberg would add partition-level pruning; its runtime jar is not in this
sandbox, so we keep the partition column explicit and write
`partitionBy(part_day)`, which gives directory-level pruning the same
way).

Time-extent discovery (S2, copyer.go:202-222): the block-meta min/max
fold becomes a min/max aggregate, answered from parquet footer statistics
without a full scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DRIVER_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def events_as_samples(events: DataFrame) -> DataFrame:
    """Map the driver's events table onto the sample model: series labels
    (user_id, event_type) <-> (conv_id, role), sample time ts, value."""
    return events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
        F.col("value"),
    )


def time_extent(df: DataFrame, ts_col: str = "ts") -> tuple[int, int]:
    """(min_ms, max_ms) over the table -- the reference's
    getTimeRangeFromTSDB fold (copyer.go:214-219). One aggregate; parquet
    answers it from footer min/max stats. The reference adds +1ms slack by
    treating the library's exclusive block MaxTime as inclusive -- we
    return the true inclusive extent and document the divergence."""
    import datetime as _dt

    # aggregate the RAW column: min/max over an untransformed column is
    # answerable from parquet footer statistics (no full scan); the
    # ms conversion happens driver-side on two scalars
    row = df.agg(
        F.min(F.col(ts_col)).alias("lo"), F.max(F.col(ts_col)).alias("hi")
    ).first()
    if row is None or row["lo"] is None:
        raise ValueError("empty table: no time extent")

    def _ms(dt: _dt.datetime) -> int:
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        return int(dt.timestamp() * 1000)

    return _ms(row["lo"]), _ms(row["hi"])


#: footer key under which Spark's parquet writer stores the Spark schema
#: of the rows (what Spark's own schema inference reads back first)
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(path: str) -> str | None:
    """First parquet data file under `path` in sorted order, skipping the
    `.`/`_`-prefixed files and directories Spark does not list either
    (`_manifest`, `_SUCCESS`, compaction's `.compact-tmp.*` staging)."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                return os.path.join(root, f)
    return None


def read_tier(spark: SparkSession, path: str) -> DataFrame:
    """Read a table this engine wrote, without a schema-inference job.

    The reference learns a block's shape from metadata it already wrote
    (block metas, copyer.go:209-219); likewise every Spark-written parquet
    file carries the Spark schema in its footer (`SPARK_SCHEMA_KEY`). It
    is the same single footer Spark's own inference reads -- but read on
    the driver with pyarrow instead of in a Spark job, which on small
    tiers costs more than the scan it precedes. The `part_day` partition
    column is still discovered from the directory names.

    Falls back to plain `spark.read.parquet` (inference, and its errors
    on an empty or missing path) when there is no local data file or the
    footer has no Spark schema, e.g. a pandas-written file."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    f = _first_data_file(path)
    footer = (pq.read_metadata(f).metadata or {}) if f else {}
    schema = footer.get(SPARK_SCHEMA_KEY)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(json.loads(schema))).parquet(path)


#: zstd level for tier writes: level 1 measured ~15% faster wall on the
#: 22M-row finest-tier write for ~8% more bytes than the default (3) --
#: the sink is the throughput-critical leg, bytes are cheap
ZSTD_LEVEL = "1"
#: dictionary encoding off: re-adjudicated AGAIN in r9 (guide §1).
#: A sequential write-leg matrix suggested dict+sort had become faster
#: (7.16 vs 8.59 s on the 1m leg), but that comparison runs variants in
#: order, so later variants ride warmer caches; the INTERLEAVED
#: full-cascade A/B (4 alternating reps each, one session) read
#: dict-off 15.02-16.85 s vs dict-on 16.15-17.2 s -- dict-off by ~1 s,
#: agreeing with the r8 3/3 interleaved result. The dictionary's write
#: saving on sorted label runs is real but the mostly-unique numeric
#: columns pay dict-attempt/fallback on write and mixed-page decode on
#: the cascade's read-backs. At an S3-backed 100 TB deployment flip
#: this on (bytes dominate there: dict measured 433 vs 460 MB).
PARQUET_DICT = "false"


def _sort_cols(df: DataFrame, label_cols: list[str] | None = None) -> list[str]:
    """In-file sort order: (part_day, series labels..., bucket_ms).

    `label_cols` (ADVICE r4): the series/label columns are KNOWN at
    every production call site (copy_job threads them through), so pass
    them explicitly -- any other column is payload and never becomes a
    sort key. The denylist derivation below is only the fallback for
    direct `write_tier` callers; a future payload column not listed in
    `non_label` would silently become a sort key ahead of bucket_ms
    there, degrading the bucket_ms row-group-stats pruning that
    read_tier_auto relies on.

    Day-level time pruning comes from the part_day DIRECTORIES either
    way; putting the series labels before bucket_ms gives parquet
    row-group/column stats tight per-series ranges, so matcher-selective
    tier reads (the reference's primary read pattern) prune inside the
    surviving files. Interleaved A/B at 22M rows (r4): series-first sort
    was faster to write (6.5 vs 7.7 s -- long label runs compress
    cheaper under zstd), byte-equal (442 vs 447 MB), and ~10% faster on
    warm conv-selective scans; the whole-day time-slice read was not
    hurt (directory pruning already covers it)."""
    if label_cols is not None:
        labels = [c for c in label_cols if c in df.columns]
        return ["part_day", *labels, "bucket_ms"]
    non_label = {
        "part_day", "bucket_ms", "_pid",
        # rollup AGG_COLS (operators/rollup.py)
        "cnt", "sum_val", "min_val", "max_val",
        "first_val", "last_val", "first_ord", "last_ord",
        # histogram tier value columns (operators/histogram.py)
        "hist_count", "hist_sum", "hist_buckets",
        # gorilla chunk table payload (functions/gorilla.py)
        "t_min_ms", "t_max_ms", "chunk",
    }
    label_cols = [c for c in df.columns if c not in non_label]
    return ["part_day", *label_cols, "bucket_ms"]


def write_tier(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by_day: bool = True,
    range_hint: tuple[int, int] | None = None,
    pre_clustered: bool = False,
    sort_labels: list[str] | None = None,
    observe: tuple | None = None,
) -> None:
    """Tier sink: parquet partitioned by UTC day of the bucket (the
    Iceberg `days(ts)` analog; block-duration default 24h in the
    reference, main.go:122). Dynamic partition overwrite so re-running a
    time range replaces exactly the affected partitions (the reference's
    re-copy model).

    Rows are clustered by their target partition before the partitioned
    write: otherwise every shuffle partition opens a file in every day
    dir (days x partitions tiny files -- measured 5k files for 256MB and
    ~2/3 of write wall time). Two clustering strategies:

    * `range_hint=(lo_ms, hi_ms)` (preferred whenever the caller knows
      the bucket extent -- the job's time range, or footer-stat min/max
      of the source): a DETERMINISTIC time-chunk partition id,
      floor((bucket_ms - lo)/chunk) with ~4 chunks per output partition.
      Zero extra passes. This matters because the fallback,
      repartitionByRange, SAMPLES its child -- and sampling evaluates
      the child plan once more, i.e. every tier write pays its input
      aggregation twice (measured ~2x on the write legs at 22M rows).
      At 100TB, chunk count is sized by target file bytes -- same shape.
    * fallback: repartitionByRange(part_day, bucket_ms) -- perfectly
      balanced, costs the sampling recompute.

    Contiguous bucket ranges per file also tighten parquet min/max
    stats for later range scans either way.

    `pre_clustered=True`: the caller already produced time-clustered
    partitions (single-shuffle clustered aggregation, operators/
    rollup.py) -- skip the clustering exchange entirely and only sort
    within partitions before the partitioned write.

    `observe=(Observation, *metric columns)` collects the metrics from
    the write job itself (`DataFrame.observe`). They are attached after
    the clustering exchange: the range-partitioning fallback samples,
    i.e. evaluates, its input twice, and metrics below it would count
    every row twice."""

    def observed(d: DataFrame) -> DataFrame:
        return d.observe(*observe) if observe else d

    out = df.withColumn(
        "part_day", F.to_date(F.timestamp_millis(F.col("bucket_ms")))
    )
    if pre_clustered:
        out = observed(out).sortWithinPartitions(*_sort_cols(out, sort_labels))
        (out.write.option("partitionOverwriteMode", "dynamic")
            .option("parquet.compression.codec.zstd.level", ZSTD_LEVEL)
            .option("parquet.enable.dictionary", PARQUET_DICT)
            .partitionBy("part_day").mode(mode).parquet(path))
        return
    if partition_by_day:
        n = max(2 * df.sparkSession.sparkContext.defaultParallelism, 8)
        if range_hint is not None:
            lo, hi = range_hint
            chunk = max((int(hi) - int(lo) + 1) // (4 * n), 1)
            out = (
                out.withColumn(
                    "_pid",
                    ((F.col("bucket_ms") - F.lit(int(lo))) / F.lit(chunk))
                    .cast("long"),
                )
                .repartition(n, "_pid")
                .transform(observed)
                .sortWithinPartitions(*_sort_cols(out, sort_labels))
                .drop("_pid")
            )
        else:
            out = observed(out.repartitionByRange(
                n, "part_day", "bucket_ms"
            )).sortWithinPartitions(*_sort_cols(out, sort_labels))
        (out.write.option("partitionOverwriteMode", "dynamic")
            .option("parquet.compression.codec.zstd.level", ZSTD_LEVEL)
            .option("parquet.enable.dictionary", PARQUET_DICT)
            .partitionBy("part_day").mode(mode).parquet(path))
    else:
        (observed(out).write.option("partitionOverwriteMode", "dynamic")
            .option("parquet.compression.codec.zstd.level", ZSTD_LEVEL)
            .option("parquet.enable.dictionary", PARQUET_DICT)
            .mode(mode).parquet(path))


def write_bucketed_tier(
    df: DataFrame,
    table_name: str,
    series_cols: list[str],
    n_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
    bucket_cols: list[str] | None = None,
) -> None:
    """Bucketed tier sink: hash-bucket by (series..., bucket_ms) and
    sort files the same way -- the Spark answer to repeated read-side
    joins and re-aggregations at scale (Iceberg analog: a `bucket(N,
    ...)` partition transform).

    What bucketing buys on the read side (plan-pinned in test_plans):
    an equi-join whose keys EQUAL the bucket columns -- vector_binop
    between two tiers, gap-fill's calendar join -- and a groupBy on
    exactly those keys run WITHOUT an exchange on the bucketed
    side(s): the table's hash distribution replaces the shuffle,
    turning every downstream consumer of a hot tier from
    shuffle-bound to scan-bound. The equality is load-bearing:
    Spark's v1 bucketing declines superset join keys (measured --
    `Bucketed: false (disabled by query planner)`), so the spec
    defaults to the full (series..., bucket_ms) join shape;
    `bucket_cols` overrides it (e.g. series-only for
    series-keyed probe joins). The day partition layout
    (`write_tier`) remains the TIME-pruning sink; a tier consumed
    mostly by keyed joins materializes bucketed instead (or
    additionally -- storage is the cheap axis at 100TB).

    `path` makes the table EXTERNAL at that location (tests point it
    at a tmp dir); bucket metadata lives in the session catalog, which
    is the piece plain `write.parquet` cannot record."""
    if not series_cols:
        raise ValueError("series_cols must be non-empty")
    bucket_cols = (
        list(bucket_cols) if bucket_cols is not None
        else [*series_cols, "bucket_ms"]
    )
    # normalize null labels to "" at write time (lossless under the
    # engine's null-equals-empty matcher convention): downstream joins
    # can then use PLAIN equality on the bucket columns -- eqNullSafe
    # compiles to coalesce()/isnull() key expressions, which do NOT
    # match the table's hash distribution and would re-insert the
    # exchange bucketing exists to remove
    out = df
    for c in series_cols:
        out = out.withColumn(c, F.coalesce(F.col(c).cast("string"), F.lit("")))
    # cluster rows into their target bucket BEFORE the bucketed write:
    # Spark's bucketBy writer emits one file per bucket id present in
    # each task, so n_tasks upstream partitions x n_buckets = a small-
    # files explosion (measured r9: 64-task agg input -> 1856 files per
    # 32-bucket table, ~2/5 of write wall). repartition on the bucket
    # columns with n_buckets partitions uses the SAME partitionId
    # expression as the bucket-id assignment (pmod(murmur3(cols), n)),
    # so each task holds exactly one bucket -> exactly n_buckets files,
    # and the per-task sortBy sorts one bucket instead of 32 slivers.
    # (guide §2.4/§6: one exchange replaces the fan-out; at cluster
    # scale n_buckets is sized to the executor count anyway.)
    out = out.repartition(n_buckets, *bucket_cols)
    w = (
        out.write.format("parquet")
        .bucketBy(n_buckets, bucket_cols[0], *bucket_cols[1:])
        .sortBy(*bucket_cols)
        .mode(mode)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def read_bucketed_tier(spark, table_name: str) -> DataFrame:
    """Catalog read of a bucketed tier -- the bucket spec rides along,
    which is what lets Catalyst drop exchanges downstream."""
    return spark.table(table_name)
