"""Traced mode: spans around the calls into each layer, plus Spark's own
stage metrics per span, read back from the event log.

Spans are recorded from the benchmark's side only: `install()` wraps the
package's public entry points by replacing module and class attributes.
`copy_job` and `manifest` import their callees at call time, so wrapping
the module attribute reaches calls made inside the package too. Each span
sets the Spark job description to `<name>#<span id>`; the event log then
ties every job, stage and SQL execution to the span that caused it (by
that tag, or by time containment for jobs Spark describes itself, such as
parallel file listing).

Spans are kept in memory and written to a trace file after the run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start_ms: float  # epoch, comparable with Spark's event times
    t0: float  # perf_counter, for durations
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def end_ms(self) -> float:
        return self.start_ms + self.dur * 1000


class Tracer:
    """Span recorder. Spans are recorded only while `active`; the workload
    turns it on for every other operation so the same run also measures
    untraced operations (the trace overhead)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.active = False

    def _describe(self) -> None:
        top = self.spans[self._stack[-1]] if self._stack else None
        self.sc.setJobDescription(f"{top.name}#{top.id}" if top else None)

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, name, time.time() * 1000,
                 time.perf_counter())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        self._stack.append(s.id)
        self._describe()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._describe()

    def self_time(self, s: Span) -> float:
        """Duration minus the part covered by child spans (children run
        one after another on the one client thread, so they never
        overlap)."""
        return s.dur - sum(self.spans[c].dur for c in s.children)


def _files_bytes(path) -> tuple[int, int]:
    files = list(Path(path).rglob("*.parquet"))
    return len(files), sum(f.stat().st_size for f in files)


def _table_label(path) -> str:
    """`.../tier=1m` -> `1m`, `.../chunks=1h` -> `chunks_1h`."""
    kind, _, grain = Path(path).name.partition("=")
    return grain if kind == "tier" else f"{kind}_{grain}"


def install(tracer: Tracer) -> list:
    """Wrap the layer entry points; returns what `uninstall` restores."""
    from prom_tsdb_copyer_spark import cli
    from prom_tsdb_copyer_spark.operators import compaction, query, retention, sketches
    from prom_tsdb_copyer_spark.plans import copy_job
    from prom_tsdb_copyer_spark.sources import manifest, tables

    def path_arg(a, k, i):
        return k["tier_path"] if "tier_path" in k else (
            k["path"] if "path" in k else a[i])

    def after_write(s, a, k, out, pre):
        s.attrs["files"], s.attrs["bytes"] = _files_bytes(path_arg(a, k, 1))

    def after_run(s, a, k, out, pre):
        s.attrs["windows"] = out["done"]

    def after_expire(s, a, k, out, pre):
        s.attrs["dropped"] = len(out)

    def before_compact(a, k):
        return _files_bytes(path_arg(a, k, 1))[0]

    def after_compact(s, a, k, out, pre):
        root = Path(path_arg(a, k, 1))
        s.attrs["files_before"] = pre
        s.attrs["files_after"] = _files_bytes(root)[0]
        s.attrs["bytes_rewritten"] = sum(
            _files_bytes(root / p)[1] for p in out)

    plan = [
        (cli, "main", lambda a, k: "cli", None, None),
        (manifest.ResumableRollup, "run", lambda a, k: "manifest", None,
         after_run),
        (copy_job, "run_and_write_rollups", lambda a, k: "copy_job", None,
         None),
        (tables, "write_tier",
         lambda a, k: "write_tier." + _table_label(path_arg(a, k, 1)),
         None, after_write),
        (sketches, "cms_tier", lambda a, k: "cms_tier", None, None),
        (retention, "expire_partitions", lambda a, k: "retention", None,
         after_expire),
        (compaction, "compact_partitions", lambda a, k: "compaction",
         before_compact, after_compact),
        (query, "query_range", lambda a, k: "query.plan", None, None),
        (query, "query_instant", lambda a, k: "query.plan", None, None),
    ]
    restore = []
    for owner, attr, name_of, before, after in plan:
        orig = getattr(owner, attr)

        def wrapper(*a, _orig=orig, _name=name_of, _before=before,
                    _after=after, **k):
            if not tracer.active:
                return _orig(*a, **k)
            pre = _before(a, k) if _before else None
            with tracer.span(_name(a, k)) as s:
                out = _orig(*a, **k)
            if _after:
                _after(s, a, k, out, pre)
            return out

        setattr(owner, attr, functools.wraps(orig)(wrapper))
        restore.append((owner, attr, orig))
    return restore


def uninstall(restore: list) -> None:
    for owner, attr, orig in restore:
        setattr(owner, attr, orig)


# -- event log --------------------------------------------------------------

#: stage accumulables summed per span: (event-log name, key, scale)
_STAGE_METRICS = (
    ("internal.metrics.executorRunTime", "run_s", 1e-3),
    ("internal.metrics.executorCpuTime", "cpu_s", 1e-9),
    ("internal.metrics.jvmGCTime", "gc_s", 1e-3),
    ("internal.metrics.shuffle.write.bytesWritten", "shuffle_write_bytes", 1),
    ("internal.metrics.memoryBytesSpilled", "spill_bytes", 1),
    ("internal.metrics.diskBytesSpilled", "spill_bytes", 1),
    ("internal.metrics.output.recordsWritten", "rows_written", 1),
    ("internal.metrics.input.recordsRead", "rows_scanned", 1),
)


def _plan_metric_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", ()):
        _plan_metric_names(c, out)


def _span_of(tracer: Tracer, desc: str | None, at_ms: float) -> int | None:
    """The span a job or SQL execution belongs to: its description tag, or
    else the innermost span open at its submission time."""
    if desc and "#" in desc:
        tail = desc.rsplit("#", 1)[1]
        if tail.isdigit() and int(tail) < len(tracer.spans):
            return int(tail)
    best = None
    for s in tracer.spans:
        if s.start_ms <= at_ms <= s.end_ms and (
                best is None or s.start_ms >= tracer.spans[best].start_ms):
            best = s.id
    return best


def attach_event_log(tracer: Tracer, log_dir: Path) -> None:
    """Sum each span's jobs, tasks and stage metrics from the event log of
    the (stopped) session into `span.attrs` (own jobs only; roll-ups over
    children are done by the caller)."""
    files = sorted(log_dir.glob("eventlog_v2_*/events_*"))
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    accum_names: dict[int, str] = {}
    for f in files:
        for line in f.open():
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sid = _span_of(tracer, props.get("spark.job.description"),
                               e["Submission Time"])
                if sid is None:
                    continue
                attrs = tracer.spans[sid].attrs
                attrs["jobs"] = attrs.get("jobs", 0) + 1
                for st in e["Stage IDs"]:
                    stage_span.setdefault(st, sid)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = stage_span.get(info["Stage ID"])
                if sid is None:
                    continue
                attrs = tracer.spans[sid].attrs
                attrs["tasks"] = attrs.get("tasks", 0) + info["Number of Tasks"]
                acc = {a["Name"]: a.get("Value", 0)
                       for a in info.get("Accumulables", ())}
                for name, key, scale in _STAGE_METRICS:
                    v = acc.get(name)
                    if isinstance(v, (int, float)):
                        attrs[key] = attrs.get(key, 0) + v * scale
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                sid = _span_of(tracer, e.get("description"), e["time"])
                if sid is not None:
                    exec_span[e["executionId"]] = sid
                _plan_metric_names(e.get("sparkPlanInfo", {}), accum_names)
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_names(e.get("sparkPlanInfo", {}), accum_names)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                sid = exec_span.get(e["executionId"])
                if sid is None:
                    continue
                attrs = tracer.spans[sid].attrs
                for acc_id, value in e["accumUpdates"]:
                    if accum_names.get(acc_id) == "number of files read":
                        attrs["files_read"] = attrs.get("files_read", 0) + value


def dump(tracer: Tracer, path: Path, extra: dict) -> None:
    rows = []
    for s in tracer.spans:
        d = asdict(s)
        d["dur_s"] = s.dur
        d["self_s"] = tracer.self_time(s)
        rows.append(d)
    path.write_text(json.dumps({"spans": rows, **extra}))
