"""The copy and read paths run no metadata-only Spark job: tiers the engine
wrote are read with the schema from their own footer (`read_tier`), and
the manifest's row counts come from the writes themselves
(`DataFrame.observe`), equal to what re-reading the written tiers gives.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import DataFrameReader, Observation
from pyspark.sql import functions as F

from prom_tsdb_copyer_spark import cli
from prom_tsdb_copyer_spark.operators.compaction import compact_partitions
from prom_tsdb_copyer_spark.operators.histogram import make_histogram
from prom_tsdb_copyer_spark.operators.query import query_instant, query_range
from prom_tsdb_copyer_spark.operators.rollup import rollup
from prom_tsdb_copyer_spark.operators.windows import DAY_MS, TIER_MS
from prom_tsdb_copyer_spark.plans.copy_job import CopyJob, run_and_write_rollups
from prom_tsdb_copyer_spark.sources.manifest import ResumableRollup, read_manifest
from prom_tsdb_copyer_spark.sources.tables import time_extent, write_tier

SERIES = ["conv_id", "role", "tool"]


def _fmt(ms: int) -> str:
    return dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S+0000")


def test_no_inference_job_or_readback(spark, transcripts, tmp_path, monkeypatch):
    """Any `spark.read.parquet` under the target root without a user
    schema is a schema-inference job (or a count read-back): forbid it
    through a two-window copy with a chunk tier, both query endpoints and
    compaction."""
    src = str(tmp_path / "src")
    transcripts.write.parquet(src)
    target = str(tmp_path / "tiers")

    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._user_schema = True
        return real_schema(self, s)

    def parquet(self, *paths, **options):
        if not getattr(self, "_user_schema", False) and any(
                str(p).startswith(target) for p in paths):
            raise AssertionError(f"schema inference on {paths}")
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)

    day = (time_extent(transcripts)[0] // DAY_MS) * DAY_MS
    assert cli.main([
        "--source", src, "--target", target,
        "--from", _fmt(day), "--to", _fmt(day + 2 * DAY_MS - 1),
        "-B", "24h", "--tiers", "1m,1h,1d", "--chunk-tiers", "1h",
    ]) == 0
    entries = read_manifest(target)
    assert len(entries) == 2
    assert all(e.status == "done" and e.rows_in > 0 for e in entries.values())
    assert all("chunks=1h" in e.rows_out for e in entries.values())

    assert query_range(spark, target, SERIES, from_ms=day,
                       to_ms=day + 2 * DAY_MS - 1, step_ms=3_600_000).count() > 0
    assert query_instant(spark, target, SERIES, t_ms=day + DAY_MS,
                         lookback_ms=DAY_MS).count() > 0
    assert compact_partitions(spark, f"{target}/tier=1m", min_files_to_compact=1)


def _old_readback(spark, job, root, w) -> tuple[int, dict]:
    """What the manifest computed before counts were observed: re-read
    each written table, restricted to the window (lower bound widened to
    the table's grain), and count it; rows_in is the finest tier's
    sum(cnt) / sum(hist_count)."""
    def in_window(df, t):
        t_ms = TIER_MS[t] if isinstance(t, str) else int(t)
        return df.where(F.col("bucket_ms").between(
            (w.start_ms // t_ms) * t_ms, w.end_ms))

    finest = in_window(spark.read.parquet(f"{root}/tier={job.tiers[0]}"),
                       job.tiers[0])
    cnt = "cnt" if "cnt" in finest.columns else "hist_count"
    agg = finest.agg(F.sum(cnt).alias("s"), F.count("*").alias("c")).first()
    rows_out = {str(job.tiers[0]): agg["c"]}
    for kind, t in [("tier", t) for t in job.tiers[1:]] + [
            ("chunks", t) for t in job.chunk_tiers]:
        key = str(t) if kind == "tier" else f"chunks={t}"
        rows_out[key] = in_window(
            spark.read.parquet(f"{root}/{kind}={t}"), t).count()
    return int(agg["s"] or 0), rows_out


def _assert_counts_equal_readback(spark, df, job, root, monkeypatch):
    """Run `job` window by window; right after each window, compute the
    old read-back counts and compare them with the manifest entry."""
    real = ResumableRollup._run_window
    want = {}

    def spy(self, spark, sliced, w):
        out = real(self, spark, sliced, w)
        want[w.start_ms] = _old_readback(spark, self.job, self.out_root, w)
        return out

    monkeypatch.setattr(ResumableRollup, "_run_window", spy)
    lo, hi = time_extent(df)
    ResumableRollup(job, root, DAY_MS).run(df, lo, hi)
    entries = read_manifest(root)
    assert len(entries) >= 3 and set(entries) == set(want)
    for start, e in entries.items():
        assert (e.rows_in, e.rows_out) == want[start]
    assert sum(e.rows_in for e in entries.values()) == df.count()


def test_manifest_counts_float_with_chunks(spark, transcripts, tmp_path,
                                          monkeypatch):
    job = CopyJob(tiers=("1m", "1h", "1d"), chunk_tiers=("1h",),
                  matchers=("role=~user|assistant",))
    _assert_counts_equal_readback(
        spark, transcripts.where(F.col("role").isin("user", "assistant")),
        job, str(tmp_path / "f"), monkeypatch)


def test_manifest_counts_histogram(spark, transcripts, tmp_path, monkeypatch):
    df = make_histogram(transcripts).drop("value").withColumnRenamed(
        "hist", "value")
    _assert_counts_equal_readback(
        spark, df, CopyJob(tiers=("1h", "1d")), str(tmp_path / "h"),
        monkeypatch)


def test_observed_rows_counted_once_without_range_hint(spark, transcripts,
                                                     tmp_path):
    """Without a range hint `write_tier` range-partitions, which samples
    (evaluates) its input once more; observed metrics must still count
    each written row once."""
    tier = rollup(transcripts, SERIES, "value", "1h")
    obs = Observation()
    write_tier(tier, str(tmp_path / "t"),
               observe=(obs, F.count(F.lit(1)).alias("rows")))
    assert obs.get["rows"] == tier.count()


@pytest.mark.parametrize("value", ["abc", "-3", "0"])
@pytest.mark.parametrize("name", ["TIER_CHUNKS_PER_PART", "TIER_CLUSTER_PARTS"])
def test_env_knobs_validated(spark, transcripts, tmp_path, monkeypatch, name,
                             value):
    """Malformed or negative knobs fail before any Spark work, naming the
    variable; TIER_CHUNKS_PER_PART=0 would divide by zero, while
    TIER_CLUSTER_PARTS=0 means "auto"."""
    monkeypatch.setenv(name, value)
    run = lambda: run_and_write_rollups(  # noqa: E731
        spark, transcripts, CopyJob(tiers=("1h",)), str(tmp_path / "t"))
    if (name, value) == ("TIER_CLUSTER_PARTS", "0"):
        assert run()["1h"] > 0
    else:
        with pytest.raises(ValueError, match=name):
            run()
