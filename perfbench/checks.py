"""Correctness oracles, run outside the timed region.

Every expected answer is computed by DuckDB straight from the raw input
parquet, independently of the engine, and rounded like `oracle_sql()`
(floating sums to 3 decimals). Each check is one operation of the run.
"""

from __future__ import annotations

import duckdb


def connect(raw_glob: str, where_sql: str = "TRUE",
            extra_cols: str = "") -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with view `raw`: the input samples that pass the
    workload's matchers, with epoch-ms time and the engine's microsecond
    order key."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"""
        CREATE VIEW raw AS
        SELECT conv_id, role, tool{extra_cols}, value,
               epoch_ms(ts) AS ts_ms, epoch_us(ts) AS ord
        FROM read_parquet('{raw_glob}')
        WHERE {where_sql}""")
    return con


def _key(row) -> tuple:
    return tuple((v is None, v if v is not None else 0) for v in row)


def _norm(rows, float_idx: tuple[int, ...]) -> list[tuple]:
    out = []
    for r in rows:
        r = list(r)
        for i in float_idx:
            r[i] = None if r[i] is None else round(float(r[i]), 3)
        out.append(tuple(r))
    return sorted(out, key=_key)


def same(spark_rows, duck_rows, float_idx: tuple[int, ...] = ()) -> bool:
    return _norm(spark_rows, float_idx) == _norm(duck_rows, float_idx)


def table_sum(con, table_glob: str, col: str = "cnt") -> int:
    return int(con.execute(
        f"SELECT coalesce(sum({col}), 0) FROM read_parquet('{table_glob}')"
    ).fetchone()[0])


def raw_count(con) -> int:
    return int(con.execute("SELECT count(*) FROM raw").fetchone()[0])


def range_rows(con, series: list[str], pred: str, lo: int, hi: int,
               step_ms: int):
    """`query_range` at `step_ms`: per (series, step bucket) rollup."""
    s = ", ".join(series)
    return con.execute(f"""
        SELECT {s}, (ts_ms // {step_ms}) * {step_ms} AS bucket_ms,
               count(*), sum(value), min(value), max(value),
               arg_min(value, ord), arg_max(value, ord), min(ord), max(ord)
        FROM raw WHERE ts_ms BETWEEN {lo} AND {hi} AND {pred}
        GROUP BY ALL""").fetchall()


def instant_rows(con, series: list[str], pred: str, t_ms: int,
                 lookback_ms: int = 5 * 60_000, grain_ms: int = 60_000):
    """`query_instant`: freshest sample per series among the finest-tier
    buckets that end at or before `t_ms`."""
    hi_start = ((t_ms + 1) // grain_ms - 1) * grain_ms
    lo_start = hi_start - (max(lookback_ms // grain_ms, 1) - 1) * grain_ms
    s = ", ".join(series)
    return con.execute(f"""
        SELECT {s}, arg_max(value, ord), max(ord),
               max((ts_ms // {grain_ms}) * {grain_ms})
        FROM raw
        WHERE ts_ms BETWEEN {lo_start} AND {hi_start + grain_ms - 1}
          AND {pred}
        GROUP BY ALL""").fetchall()


def report_rows(con, series: list[str], by: str, lo: int, hi: int,
                step_ms: int):
    """`aggregate_by_labels(query_range(...), by=[by])`."""
    s = ", ".join(series)
    return con.execute(f"""
        WITH per_series AS (
            SELECT {s}, (ts_ms // {step_ms}) * {step_ms} AS bucket_ms,
                   count(*) AS cnt, sum(value) AS sum_val,
                   min(value) AS min_val, max(value) AS max_val
            FROM raw WHERE ts_ms BETWEEN {lo} AND {hi} GROUP BY ALL)
        SELECT {by}, bucket_ms, count(*), sum(cnt), sum(sum_val),
               min(min_val), max(max_val)
        FROM per_series GROUP BY ALL""").fetchall()


def raw_points(con, series: list[str], keys: list[tuple],
               grain_ms: int) -> dict[tuple, list[tuple]]:
    """Raw (ts_ms, value) points per series, over the given
    (series..., bucket_ms) keys of a tier with grain `grain_ms`."""
    out: dict[tuple, list[tuple]] = {}
    for key in keys:
        *labels, bucket = key
        conds = " AND ".join(
            f"{c} IS NULL" if v is None else f"{c} = ?"
            for c, v in zip(series, labels))
        params = [v for v in labels if v is not None]
        rows = con.execute(
            f"SELECT ts_ms, value FROM raw WHERE {conds} AND ts_ms BETWEEN "
            f"{bucket} AND {bucket + grain_ms - 1} ORDER BY ts_ms",
            params).fetchall()
        out.setdefault(tuple(labels), []).extend(rows)
    return out
