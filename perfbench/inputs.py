"""Seeded, fixed-size benchmark inputs, cached per (workload, seed, size).

Every input is drawn from the package's own transcript generator
(`datagen.gen_transcripts_pdf`, Zipf-skewed conversation lengths), so the
shape is the one the engine is tuned for. The generator's row count swings
with the seed (about 5% between seeds 42 and 7, because a binomial share of
conversations hits the 5000-turn clamp), so each workload takes a FIXED
number of samples out of a larger draw: the seed changes which samples are
used, never how many.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from prom_tsdb_copyer_spark.datagen import BASE_TS_MS, gen_transcripts_pdf

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS

#: backfill: samples over the first BACKFILL_DAYS days of the generator's
#: timeline, in SOURCE_FILES conversation-ordered files
BACKFILL_SAMPLES = 200_000
BACKFILL_DAYS = 7
SOURCE_FILES = 8

#: incremental: ARRIVALS hourly arrivals of exactly SAMPLES_PER_HOUR samples,
#: starting FIRST_HOUR hours after the generator's base date (conversation
#: starts are spread over the first 72 h, so these hours are all well fed;
#: 20:00 on day 2, so the arrivals cross a day boundary)
ARRIVALS = 16
SAMPLES_PER_HOUR = 1_500
FIRST_HOUR = 44


def _to_table(pdf: pd.DataFrame) -> pa.Table:
    pdf = pdf.copy()
    # Spark cannot read TIMESTAMP(NANOS) parquet
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pa.Table.from_pandas(pdf, preserve_index=False)


def _ts_ms(pdf: pd.DataFrame) -> np.ndarray:
    return pdf["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)


def _draw(seed: int, n_convs: int) -> pd.DataFrame:
    return gen_transcripts_pdf(n_convs, seed=seed, with_text=False)


def _backfill(seed: int, out: Path) -> dict:
    """First BACKFILL_SAMPLES samples (generator order) that fall in the
    first BACKFILL_DAYS days."""
    end = BASE_TS_MS + BACKFILL_DAYS * DAY_MS
    n_convs = BACKFILL_SAMPLES // 80
    while True:
        pdf = _draw(seed, n_convs)
        pdf = pdf[_ts_ms(pdf) < end]
        if len(pdf) >= BACKFILL_SAMPLES:
            break
        n_convs *= 2
    pdf = pdf.iloc[:BACKFILL_SAMPLES]
    table = _to_table(pdf)
    src = out / "source"
    src.mkdir(parents=True)
    per_file = -(-BACKFILL_SAMPLES // SOURCE_FILES)
    for i in range(SOURCE_FILES):
        pq.write_table(table.slice(i * per_file, per_file),
                       src / f"part-{i:04d}.parquet", compression="zstd")
    return {"samples": BACKFILL_SAMPLES, "extent_ms": [BASE_TS_MS, end - 1]}


def _incremental(seed: int, out: Path) -> dict:
    """ARRIVALS hour files, each exactly SAMPLES_PER_HOUR samples drawn
    without replacement from that hour of the generator's output, sorted by
    time (an arrival is a time-clustered file)."""
    rng = np.random.default_rng(seed)
    pdf = _draw(seed, 3000)
    ts = _ts_ms(pdf)
    arrivals = out / "arrivals"
    arrivals.mkdir(parents=True)
    first = BASE_TS_MS + FIRST_HOUR * HOUR_MS
    for k in range(ARRIVALS):
        lo = first + k * HOUR_MS
        idx = np.flatnonzero((ts >= lo) & (ts < lo + HOUR_MS))
        if len(idx) < SAMPLES_PER_HOUR:
            raise RuntimeError(
                f"hour {k} holds {len(idx)} samples, fewer than "
                f"{SAMPLES_PER_HOUR}: raise the conversation count")
        pick = np.sort(rng.choice(idx, SAMPLES_PER_HOUR, replace=False))
        hour = pdf.iloc[pick].sort_values("ts", kind="stable")
        pq.write_table(_to_table(hour), arrivals / f"hour-{k:04d}.parquet",
                       compression="zstd")
    return {"samples": ARRIVALS * SAMPLES_PER_HOUR, "first_hour_ms": first,
            "arrivals": ARRIVALS}


_MAKERS = {"backfill": _backfill, "incremental": _incremental}


def size_tag(workload: str) -> str:
    if workload == "backfill":
        return f"n{BACKFILL_SAMPLES}-d{BACKFILL_DAYS}"
    return f"n{SAMPLES_PER_HOUR}x{ARRIVALS}-h{FIRST_HOUR}"


def ensure(work: Path, workload: str, seed: int) -> tuple[Path, dict]:
    """Return (input dir, meta), generating it on first use. A finished
    input is marked by meta.json, written last, so an interrupted
    generation is redone rather than reused."""
    d = work / "inputs" / f"{workload}-s{seed}-{size_tag(workload)}"
    meta_path = d / "meta.json"
    if meta_path.exists():
        return d, json.loads(meta_path.read_text())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    meta = _MAKERS[workload](seed, d)
    meta_path.write_text(json.dumps(meta))
    return d, meta

