"""`read_tier`: engine-written tables are read with the Spark schema their
own parquet footer stores, so no schema-inference job runs. The schema
must equal what Spark's inference gives for every table shape the engine
writes, and `read_tier` must fall back to inference (and its errors)
where the footer holds no Spark schema."""

from __future__ import annotations

import glob

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from prom_tsdb_copyer_spark.operators.compaction import compact_partitions
from prom_tsdb_copyer_spark.operators.histogram import (
    DEFAULT_BOUNDS,
    hist_rollup,
    make_histogram,
)
from prom_tsdb_copyer_spark.operators.rollup import rollup
from prom_tsdb_copyer_spark.operators.sketches import cms_tier
from prom_tsdb_copyer_spark.plans.copy_job import CopyJob, run_and_write_rollups
from prom_tsdb_copyer_spark.sources.tables import (
    SPARK_SCHEMA_KEY,
    read_tier,
    write_tier,
)

SERIES = ["conv_id", "role", "tool"]


def _assert_reads_like_inference(spark, path):
    got = read_tier(spark, path)
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert got.count() == want.count() > 0
    return got


def test_float_tier(spark, transcripts, tmp_path):
    path = str(tmp_path / "tier=1h")
    write_tier(rollup(transcripts, SERIES, "value", "1h"), path,
               sort_labels=SERIES)
    got = _assert_reads_like_inference(spark, path)
    # the partition column is still discovered from the directories
    assert got.columns[-1] == "part_day"


def test_histogram_tier(spark, transcripts, tmp_path):
    path = str(tmp_path / "tier=1h")
    tier = hist_rollup(make_histogram(transcripts), SERIES, "1h",
                       len(DEFAULT_BOUNDS) + 1)
    write_tier(tier, path, sort_labels=SERIES)
    _assert_reads_like_inference(spark, path)


def test_chunk_table(spark, transcripts, tmp_path):
    root = str(tmp_path / "t")
    run_and_write_rollups(
        spark, transcripts, CopyJob(tiers=("1h",), chunk_tiers=("1h",)), root
    )
    _assert_reads_like_inference(spark, f"{root}/chunks=1h")


def test_appended_cms_tier(spark, transcripts, tmp_path):
    path = str(tmp_path / "cms=1h")
    half = F.col("conv_id") < "conv-00000025"
    for part in (transcripts.where(half), transcripts.where(~half)):
        write_tier(cms_tier(part, ["role", "tool"], "1h", "conv_id"), path,
                   mode="append", sort_labels=["role", "tool"])
    _assert_reads_like_inference(spark, path)


def test_compacted_partition_dir(spark, transcripts, tmp_path):
    path = str(tmp_path / "tier=1m")
    tier = rollup(transcripts, SERIES, "value", "1m")
    half = F.col("conv_id") < "conv-00000025"
    write_tier(tier.where(half), path, mode="append")
    write_tier(tier.where(~half), path, mode="append")
    assert compact_partitions(spark, path)
    part = sorted(glob.glob(f"{path}/part_day=*"))[0]
    assert len(glob.glob(f"{part}/*.parquet")) == 1
    got = _assert_reads_like_inference(spark, part)
    assert "part_day" not in got.columns


def test_falls_back_without_spark_footer(spark, tmp_path):
    d = tmp_path / "pandas"
    d.mkdir()
    f = d / "samples.parquet"
    pd.DataFrame({"conv_id": ["a", "b", None], "bucket_ms": [0, 60_000, 120_000],
                  "value": [1.0, 2.5, None]}).to_parquet(f)
    assert SPARK_SCHEMA_KEY not in (pq.read_metadata(f).metadata or {})
    _assert_reads_like_inference(spark, str(d))


def test_empty_dir_raises_like_inference(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(Exception) as want:
        spark.read.parquet(str(d))
    with pytest.raises(type(want.value)):
        read_tier(spark, str(d))
