"""Per-partition checkpoint manifest + resumable runs (SURVEY.md §7.7).

Deliberate divergence from the reference (P10): a failed slice there
yields ulid.Zero, is logged and silently dropped from compaction
(copyer.go:170,185-191) -- the run still "succeeds" with holes. Here
every block window gets a manifest entry carrying lineage (source
fingerprint, window range, row counts, timings -- the O1/O2 histogram
analogs); a re-run skips windows already marked done and recomputes the
rest idempotently (dynamic partition overwrite), so interrupted runs
resume instead of silently losing data.

Storage: one JSON file per window under `<table>/_manifest/`, written
atomically (tmp + os.replace) -- the Iceberg-snapshot-metadata analog in
plain parquet land. Works identically at cluster scale because the
driver, not the executors, owns manifest writes (one tiny file per
block window, never per task).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame

from ..operators.windows import DAY_MS, get_query_range

MANIFEST_DIR = "_manifest"


@dataclass
class WindowEntry:
    window_start_ms: int
    window_end_ms: int
    status: str  # "done" | "failed"
    rows_in: int = 0
    rows_out: dict = field(default_factory=dict)  # tier -> row count
    duration_ms: int = 0
    source_fingerprint: str = ""
    run_id: str = ""
    error: str = ""


def _entry_path(table_path: str, start_ms: int) -> Path:
    return Path(table_path) / MANIFEST_DIR / f"window-{start_ms}.json"


def write_entry(table_path: str, entry: WindowEntry) -> None:
    p = _entry_path(table_path, entry.window_start_ms)
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".tmp")
    tmp.write_text(json.dumps(asdict(entry), sort_keys=True))
    os.replace(tmp, p)  # atomic commit of the checkpoint record


def read_manifest(table_path: str) -> dict[int, WindowEntry]:
    d = Path(table_path) / MANIFEST_DIR
    out: dict[int, WindowEntry] = {}
    if not d.is_dir():
        return out
    for f in sorted(d.glob("window-*.json")):
        e = WindowEntry(**json.loads(f.read_text()))
        out[e.window_start_ms] = e
    return out


def source_fingerprint(source_path: str) -> str:
    """Cheap lineage id for a parquet source: (name, size, mtime) of every
    data file, hashed. The Iceberg snapshot-id analog: if the source
    changed between runs, resumed windows are recomputed rather than
    trusted."""
    import hashlib

    h = hashlib.sha256()
    root = Path(source_path)
    files = sorted(root.rglob("*.parquet")) if root.is_dir() else [root]
    for f in files:
        st = f.stat()
        h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


class ResumableRollup:
    """Block-window-at-a-time rollup run with checkpoint/resume.

    Mirrors the reference's outer sequential loop over --block-duration
    windows (copyer.go:235-244): each window is one Spark job over a
    time-pruned slice, written with dynamic partition overwrite (exactly-
    once per partition), then checkpointed. `fail_at` injects a failure
    after N windows (for the kill-resume tests, FIXTURES.md §3.7).
    """

    def __init__(
        self,
        job,
        out_root: str,
        block_ms: int = DAY_MS,
        run_id: str = "run-0",
        source_path: str | None = None,
    ):
        self.job = job
        self.out_root = out_root
        self.block_ms = block_ms
        self.run_id = run_id
        self.source_path = source_path

    def run(self, df: DataFrame, from_ms: int, to_ms: int, fail_at: int | None = None):
        from ..operators.windows import time_range_pred

        spark = df.sparkSession

        fp = source_fingerprint(self.source_path) if self.source_path else ""
        manifest = read_manifest(self.out_root)
        windows = get_query_range(from_ms, to_ms, self.block_ms)
        done = skipped = 0
        for i, w in enumerate(windows):
            prev = manifest.get(w.start_ms)
            if prev and prev.status == "done" and prev.source_fingerprint == fp:
                skipped += 1
                continue
            if fail_at is not None and done >= fail_at:
                raise RuntimeError(f"injected failure before window {w.start_ms}")
            t0 = time.monotonic()
            sliced = df.where(
                time_range_pred(df, self.job.ts_col, w.start_ms, w.end_ms)
            )
            try:
                rows_in, rows_out = self._run_window(spark, sliced, w)
            except Exception as e:  # record the failure, then propagate
                write_entry(
                    self.out_root,
                    WindowEntry(
                        window_start_ms=w.start_ms,
                        window_end_ms=w.end_ms,
                        status="failed",
                        duration_ms=int((time.monotonic() - t0) * 1000),
                        source_fingerprint=fp,
                        run_id=self.run_id,
                        error=f"{type(e).__name__}: {e}"[:500],
                    ),
                )
                raise
            write_entry(
                self.out_root,
                WindowEntry(
                    window_start_ms=w.start_ms,
                    window_end_ms=w.end_ms,
                    status="done",
                    rows_in=rows_in,
                    rows_out=rows_out,
                    duration_ms=int((time.monotonic() - t0) * 1000),
                    source_fingerprint=fp,
                    run_id=self.run_id,
                ),
            )
            done += 1
        return {"done": done, "skipped": skipped, "windows": len(windows)}

    def _run_window(self, spark, sliced: DataFrame, w) -> tuple[int, dict]:
        """One window's write + bookkeeping. Both counts come from the
        writes themselves (`run_and_write_rollups` observes each sink):
        rows_in is the finest tier's sum(cnt) -- each raw sample lands in
        exactly one finest bucket, so it equals the samples that passed
        the filters without a pass over the raw slice -- and rows_out is
        each table's written row count. No job re-reads what was
        written; an all-filtered window records honest zeros."""
        from ..plans.copy_job import SAMPLES, run_and_write_rollups

        rows = run_and_write_rollups(
            spark, sliced, self.job, self.out_root,
            range_ms=(w.start_ms, w.end_ms),
        )
        rows_in = rows.pop(SAMPLES)
        return rows_in, {str(k): v for k, v in rows.items()}
