"""Correctness checks: the store against the oracle (read with DuckDB, not
Spark) and each query answer against the numpy oracle."""

from __future__ import annotations

import calendar
import glob
import math
import os
from datetime import datetime

import numpy as np

from gen import FIELDS, Oracle, window_agg

TOL = 1e-9


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


def store_files(store_dir: str) -> list[str]:
    return glob.glob(os.path.join(store_dir, "points", "*", "*", "*.parquet"))


def store_stats(store_dir: str) -> dict:
    files = store_files(store_dir)
    return {
        "files": len(files),
        "partitions": len({os.path.dirname(f) for f in files}),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def store_totals(store_dir: str) -> dict[tuple[str, str], tuple[int, float]]:
    """Per-(measurement, field) count and sum of the stored points."""
    import duckdb

    if not store_files(store_dir):
        return {}
    pattern = os.path.join(store_dir, "points", "*", "*", "*.parquet")
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        rows = con.execute(
            "SELECT measurement, field, count(*), sum(value) "
            f"FROM read_parquet('{pattern}', hive_partitioning = true) "
            "GROUP BY measurement, field"
        ).fetchall()
    finally:
        con.close()
    return {(m, f): (int(n), float(s)) for m, f, n, s in rows}


def store_mismatches(store_dir: str, oracle: Oracle) -> list[str]:
    """Differences between the store and the oracle: per-series point
    counts must match exactly, sums within ``TOL``."""
    got, want = store_totals(store_dir), oracle.field_totals()
    out = []
    for key in sorted(set(got) | set(want)):
        g, w = got.get(key), want.get(key)
        if g is None or w is None or g[0] != w[0] or not close(g[1], w[1]):
            out.append(f"{key}: store {g} oracle {w}")
    if sum(g[0] for g in got.values()) != oracle.points:
        out.append(f"row count: store {sum(g[0] for g in got.values())} "
                   f"oracle {oracle.points}")
    return out


# ---------------------------------------------------------------------------
# Query answers
# ---------------------------------------------------------------------------


def epoch(v) -> int:
    """A collected timestamp (naive UTC or aware datetime, or its string
    form from csv mode) as epoch seconds."""
    if isinstance(v, str):
        v = datetime.fromisoformat(v)
    return calendar.timegm(v.utctimetuple())


def normalise(rows: list[dict]) -> list[tuple[int, str, str, float]]:
    """Result rows as (epoch, measurement, field, value), in answer order."""
    return [
        (epoch(r["ts"]), str(r["measurement"]), str(r["field"]),
         float(r["value"]))
        for r in rows
    ]


def csv_rows(lines: list[str]) -> list[dict]:
    header = lines[0].split(",")
    return [dict(zip(header, line.split(","))) for line in lines[1:]]


class Expect:
    """Expected answers for the dashboard query shapes, from the oracle."""

    def __init__(self, oracle: Oracle) -> None:
        self.series = {d: oracle.series(d) for d in FIELDS}

    def _slice(self, device: str, start: int, stop: int):
        ts, vals = self.series[device]
        lo, hi = np.searchsorted(ts, [start, stop])
        return ts[lo:hi], vals[lo:hi]

    def covered(self, q: dict) -> int:
        """Stored points inside the query's range and filter."""
        if q["shape"] == "long_range":
            return sum(
                self._slice(d, q["start"], q["stop"])[1].size for d in FIELDS
            )
        return len(self._slice(q["measurement"], q["start"], q["stop"])[0])

    def mismatch(self, q: dict, rows: list[tuple]) -> str | None:
        """None when ``rows`` answers ``q``; else what is wrong."""
        shape, m = q["shape"], q.get("measurement")
        if shape == "long_range":
            want = {}
            for d, names in FIELDS.items():
                ts, vals = self._slice(d, q["start"], q["stop"])
                stops, agg = window_agg(ts, vals, q["every"], q["fn"])
                for j, name in enumerate(names):
                    for t, v in zip(stops, agg[:, j]):
                        want[(int(t), d, name)] = float(v)
            return _compare_map(rows, want)
        ts, vals = self._slice(m, q["start"], q["stop"])
        col = vals[:, FIELDS[m].index(q["field"])] if len(vals) else vals
        if shape == "short_range":
            want = [(int(t), m, q["field"], float(v)) for t, v in zip(ts, col)]
            if rows == want:
                return None
            i = next((i for i, (a, b) in enumerate(zip(rows, want)) if a != b),
                     min(len(rows), len(want)))
            return f"{len(rows)} rows, want {len(want)}; first difference at row {i}"
        if shape in ("series_hours", "flux_text"):
            stops, agg = window_agg(ts, col, q["every"], q["fn"])
            want = {(int(t), m, q["field"]): float(v) for t, v in zip(stops, agg)}
            return _compare_map(rows, want)
        if shape == "topk":
            top = sorted(col.tolist(), reverse=True)[: q["k"]]
            got = [r[3] for r in rows]
            if got != top:
                return f"top-{q['k']} values {got} want {top}"
            present = set(zip(ts.tolist(), col.tolist()))
            bad = [r for r in rows
                   if (r[0], r[3]) not in present or r[1:3] != (m, q["field"])]
            return f"rows not in the store: {bad[:3]}" if bad else None
        raise ValueError(f"unknown shape {shape!r}")


def _compare_map(rows: list[tuple], want: dict) -> str | None:
    got = {r[:3]: r[3] for r in rows}
    if len(got) != len(rows):
        return "duplicate (ts, measurement, field) keys in the answer"
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return f"{len(got)} keys, want {len(want)}; missing {missing} extra {extra}"
    bad = [(k, got[k], want[k]) for k in want if not close(got[k], want[k])]
    return f"values differ: {bad[:3]}" if bad else None
