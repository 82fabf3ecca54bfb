"""Per-layer metrics of a traced run, derived from its spans.

Every workload prints every metric below; a layer a workload does not
exercise reads 0 (for example the Gorilla metrics on `incremental`, which
is the bypass case for the chunk encoder). Write and query metrics are
means per call; maintenance metrics are totals of the one maintenance pass.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .trace import Span, Tracer

WRITE_TABLES = ("1m", "1h", "1d", "chunks_1h", "cms_1h")
WRITE_KEYS = (
    ("s", "s"), ("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("files", "count"), ("bytes", "bytes"), ("rows", "count"),
)
QUERY_KEYS = (
    ("run_s", "s"), ("metadata_s", "s"), ("files_read", "count"),
    ("rows_scanned", "count"), ("rows_scanned_per_row_returned", "ratio"),
    ("jobs", "count"),
)

#: (name, unit, better) of every per-layer metric, in BENCHMARK.json order
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    *[(f"write_tier.{t}.{k}", u, "lower")
      for t in WRITE_TABLES for k, u in WRITE_KEYS],
    ("gorilla.samples_per_chunk", "ratio", "higher"),
    ("gorilla.bytes_per_sample", "bytes", "lower"),
    ("filter.selectivity", "ratio", "lower"),
    ("manifest.window_s", "s", "lower"),
    ("manifest.self_s", "s", "lower"),
    ("manifest.jobs_per_window", "count", "lower"),
    ("copy_job.self_s", "s", "lower"),
    ("copy_job.readback_files", "count", "lower"),
    ("cms_tier.s", "s", "lower"),
    ("cms_tier.rows", "count", "lower"),
    ("retention.s", "s", "lower"),
    ("retention.partitions_dropped", "count", "higher"),
    ("compaction.s", "s", "lower"),
    ("compaction.files_before", "count", "lower"),
    ("compaction.files_after", "count", "lower"),
    ("compaction.bytes_rewritten", "bytes", "lower"),
    *[(f"query.{c}.{k}", u, "lower")
      for c in ("panel", "report") for k, u in QUERY_KEYS],
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.uncovered_frac", "ratio", "lower"),
]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(tracer: Tracer, ops: list[tuple], facts: dict) -> dict[str, float]:
    spans = tracer.spans
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def incl(s: Span, key: str) -> float:
        """A span's own attribute plus all its descendants'."""
        return s.attrs.get(key, 0) + sum(incl(spans[c], key) for c in s.children)

    def descendants(s: Span, name: str):
        for c in s.children:
            if spans[c].name == name:
                yield spans[c]
            yield from descendants(spans[c], name)

    out: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
    out.update({k: v for k, v in facts.items() if k in out})

    for t in WRITE_TABLES:
        ss = by_name[f"write_tier.{t}"]
        if not ss:
            continue
        out[f"write_tier.{t}.s"] = _mean(s.dur for s in ss)
        for key in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                    "spill_bytes"):
            out[f"write_tier.{t}.{key}"] = _mean(incl(s, key) for s in ss)
        out[f"write_tier.{t}.files"] = _mean(s.attrs["files"] for s in ss)
        out[f"write_tier.{t}.bytes"] = _mean(s.attrs["bytes"] for s in ss)
        out[f"write_tier.{t}.rows"] = _mean(incl(s, "rows_written") for s in ss)

    runs = by_name["manifest"]
    windows = sum(s.attrs.get("windows", 0) for s in runs)
    if windows:
        out["manifest.window_s"] = sum(s.dur for s in runs) / windows
        out["manifest.self_s"] = sum(tracer.self_time(s) for s in runs) / windows
        out["manifest.jobs_per_window"] = sum(incl(s, "jobs") for s in runs) / windows

    copies = by_name["copy_job"]
    if copies:
        out["copy_job.self_s"] = _mean(tracer.self_time(s) for s in copies)
        out["copy_job.readback_files"] = _mean(
            sum(incl(w, "files_read") for t in ("1h", "1d")
                for w in descendants(s, f"write_tier.{t}"))
            for s in copies)

    sketches = by_name["sketch"]
    if sketches:
        out["cms_tier.s"] = _mean(s.dur for s in sketches)
        out["cms_tier.rows"] = _mean(incl(s, "rows_written") for s in sketches)

    for s in by_name["op.maintenance"]:
        for r in descendants(s, "retention"):
            out["retention.s"] += r.dur
            out["retention.partitions_dropped"] += r.attrs["dropped"]
        for c in descendants(s, "compaction"):
            out["compaction.s"] += c.dur
            out["compaction.files_before"] += c.attrs["files_before"]
            out["compaction.files_after"] += c.attrs["files_after"]
            out["compaction.bytes_rewritten"] += c.attrs["bytes_rewritten"]

    for cls in ("panel", "report"):
        qs = by_name[f"op.{cls}"]
        if not qs:
            continue
        p = f"query.{cls}."
        out[p + "run_s"] = _mean(incl(s, "run_s") for s in qs)
        out[p + "metadata_s"] = _mean(
            sum(d.dur for d in descendants(s, "query.plan")) for s in qs)
        out[p + "files_read"] = _mean(incl(s, "files_read") for s in qs)
        out[p + "rows_scanned"] = _mean(incl(s, "rows_scanned") for s in qs)
        returned = sum(s.attrs.get("rows", 0) for s in qs)
        out[p + "rows_scanned_per_row_returned"] = (
            sum(incl(s, "rows_scanned") for s in qs) / max(returned, 1))
        out[p + "jobs"] = _mean(incl(s, "jobs") for s in qs)

    roots = [s for s in spans if s.parent is None and s.name.startswith("op.")]
    out["spark.jobs"] = _mean(incl(s, "jobs") for s in roots)
    out["spark.tasks"] = _mean(incl(s, "tasks") for s in roots)
    out["spark.gc_s"] = _mean(incl(s, "gc_s") for s in roots)
    # the part of each traced operation no layer span covers
    wall = sum(s.dur for s in roots)
    out["trace.uncovered_frac"] = (
        sum(tracer.self_time(s) for s in roots) / wall if wall else 0.0)
    out["trace.overhead_frac"] = overhead(ops)
    return out


def overhead(ops: list[tuple]) -> float:
    """Traced against untraced operations of the same run: per kind, the
    ratio of median durations, weighted by each kind's operation count."""
    num = den = 0.0
    for kind in {k for k, _, _, _ in ops}:
        tr = [d for k, d, t, ok in ops if k == kind and t and ok]
        un = [d for k, d, t, ok in ops if k == kind and not t and ok]
        if tr and un:
            n = len(tr) + len(un)
            num += n * statistics.median(tr)
            den += n * statistics.median(un)
    return num / den - 1 if den else 0.0
