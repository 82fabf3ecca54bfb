"""Checkpoint manifest + resume (FIXTURES.md §3.7; SURVEY.md P10
divergence): kill after k windows -> resume completes only the remaining
windows; final tier tables identical to an uninterrupted run.
"""

from __future__ import annotations

import pandas as pd
import pytest

from prom_tsdb_copyer_spark.operators.windows import DAY_MS
from prom_tsdb_copyer_spark.plans.copy_job import CopyJob
from prom_tsdb_copyer_spark.sources.manifest import (
    ResumableRollup,
    read_manifest,
)
from prom_tsdb_copyer_spark.sources.tables import time_extent

SERIES = ["conv_id", "role", "tool"]
KEY = SERIES + ["bucket_ms"]


def _read_tier(spark, root, tier):
    return (
        spark.read.parquet(f"{root}/tier={tier}")
        .drop("part_day")
        .toPandas()
        .fillna({"tool": "<null>"})
        .sort_values(KEY)
        .reset_index(drop=True)
    )


def test_kill_resume_equals_uninterrupted(spark, transcripts, tmp_path):
    lo, hi = time_extent(transcripts)
    job = CopyJob(tiers=("1m", "1h"))

    # uninterrupted baseline
    base_root = str(tmp_path / "base")
    ResumableRollup(job, base_root, DAY_MS, run_id="base").run(transcripts, lo, hi)

    # interrupted: fail after 2 windows, then resume
    root = str(tmp_path / "resumed")
    r1 = ResumableRollup(job, root, DAY_MS, run_id="r1")
    with pytest.raises(RuntimeError, match="injected failure"):
        r1.run(transcripts, lo, hi, fail_at=2)
    m = read_manifest(root)
    assert len(m) == 2 and all(e.status == "done" for e in m.values())

    r2 = ResumableRollup(job, root, DAY_MS, run_id="r2")
    stats = r2.run(transcripts, lo, hi)
    assert stats["skipped"] == 2
    assert stats["done"] == stats["windows"] - 2

    for tier in ("1m", "1h"):
        pd.testing.assert_frame_equal(
            _read_tier(spark, base_root, tier),
            _read_tier(spark, root, tier),
            check_dtype=False,
        )


def test_manifest_lineage_rows(spark, transcripts, tmp_path):
    lo, hi = time_extent(transcripts)
    root = str(tmp_path / "m")
    job = CopyJob(tiers=("1h",))
    ResumableRollup(job, root, DAY_MS, run_id="lineage").run(transcripts, lo, hi)
    m = read_manifest(root)
    assert len(m) >= 3  # ~72h of seeded offsets + data spans several days
    total_in = sum(e.rows_in for e in m.values())
    assert total_in == transcripts.count()
    for e in m.values():
        assert e.run_id == "lineage"
        assert e.window_end_ms > e.window_start_ms
        assert e.rows_out.get("1h", 0) >= 0
        assert e.duration_ms >= 0


def test_rerun_skips_everything(spark, transcripts, tmp_path):
    lo, hi = time_extent(transcripts)
    root = str(tmp_path / "skip")
    job = CopyJob(tiers=("1h",))
    ResumableRollup(job, root, DAY_MS).run(transcripts, lo, hi)
    stats = ResumableRollup(job, root, DAY_MS).run(transcripts, lo, hi)
    assert stats["done"] == 0 and stats["skipped"] == stats["windows"]


def test_failed_window_records_manifest_entry(spark, transcripts, tmp_path, monkeypatch):
    """A window that throws mid-run must leave a status='failed' entry
    (lineage for the failure), and a clean re-run must recompute exactly
    that window (failed entries never count as done)."""
    import prom_tsdb_copyer_spark.plans.copy_job as cj

    real = cj.run_and_write_rollups
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("disk on fire")
        return real(*a, **k)

    monkeypatch.setattr(cj, "run_and_write_rollups", boom)
    lo, hi = time_extent(transcripts)
    root = str(tmp_path / "f")
    job = CopyJob(tiers=("1h",))
    rr = ResumableRollup(job, root, DAY_MS, run_id="r-fail")
    with pytest.raises(RuntimeError, match="disk on fire"):
        rr.run(transcripts, lo, hi)
    m = read_manifest(root)
    failed = [e for e in m.values() if e.status == "failed"]
    assert len(failed) == 1
    assert "disk on fire" in failed[0].error
    assert failed[0].run_id == "r-fail"

    monkeypatch.setattr(cj, "run_and_write_rollups", real)
    out = ResumableRollup(job, root, DAY_MS, run_id="r-resume").run(
        transcripts, lo, hi
    )
    assert out["done"] >= 1  # the failed window (fingerprint miss may add more)
    assert all(e.status == "done" for e in read_manifest(root).values())


def test_empty_window_records_zero_rows(spark, transcripts, tmp_path):
    """A window whose matchers filter EVERYTHING writes no parquet files;
    the manifest must record rows_in=0 instead of crashing on schema
    inference over the empty tier dir (ADVICE r2)."""
    lo, hi = time_extent(transcripts)
    # MULTI-tier job: the crash surface includes the coarser-tier
    # read-back of an empty finest tier, not just the manifest count
    job = CopyJob(tiers=("1m", "1h"), matchers=("role=no-such-role",))
    root = str(tmp_path / "empty")
    res = ResumableRollup(job, root, DAY_MS, run_id="empty").run(
        transcripts, lo, lo + DAY_MS - 1
    )
    # the non-aligned extent clamps onto the day grid as >=1 window
    assert res["done"] == res["windows"] >= 1
    entries = list(read_manifest(root).values())
    assert len(entries) == res["done"]
    assert all(e.status == "done" and e.rows_in == 0 for e in entries)


def test_crash_inside_window_resumes_to_same_tiers(spark, transcripts, tmp_path,
                                                  monkeypatch):
    """A crash after the 1m sink but before the 1h sink of the first window
    records that window as failed; the resumed run then writes the same
    rows in every tier, and the same manifest counts, as an uninterrupted
    run (the counts come from the writes themselves, so a half-written
    window must not leak into them)."""
    from pathlib import Path

    import prom_tsdb_copyer_spark.sources.tables as tables

    lo, hi = time_extent(transcripts)
    job = CopyJob(tiers=("1m", "1h"))
    base_root = str(tmp_path / "base")
    ResumableRollup(job, base_root, DAY_MS, run_id="base").run(transcripts, lo, hi)

    real = tables.write_tier
    calls = {"n": 0}

    def crash_on_second_sink(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("crash between the 1m and 1h sinks")
        return real(*a, **k)

    monkeypatch.setattr(tables, "write_tier", crash_on_second_sink)
    root = str(tmp_path / "crashed")
    with pytest.raises(RuntimeError, match="crash between"):
        ResumableRollup(job, root, DAY_MS, run_id="crash").run(transcripts, lo, hi)
    m = read_manifest(root)
    assert [e.status for e in m.values()] == ["failed"]
    assert "crash between" in next(iter(m.values())).error
    assert Path(root, "tier=1m").is_dir() and not Path(root, "tier=1h").exists()

    monkeypatch.setattr(tables, "write_tier", real)
    stats = ResumableRollup(job, root, DAY_MS, run_id="resume").run(
        transcripts, lo, hi
    )
    assert stats["skipped"] == 0 and stats["done"] == stats["windows"]
    for tier in ("1m", "1h"):
        pd.testing.assert_frame_equal(
            _read_tier(spark, base_root, tier),
            _read_tier(spark, root, tier),
            check_dtype=False,
        )
    base, resumed = read_manifest(base_root), read_manifest(root)
    assert resumed.keys() == base.keys()
    for k, e in resumed.items():
        assert e.status == "done"
        assert (e.rows_in, e.rows_out) == (base[k].rows_in, base[k].rows_out)
