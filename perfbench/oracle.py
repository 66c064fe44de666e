"""Correctness checks in DuckDB, independent of Spark.

- ``check_store``: the rows a store holds, per (publisher,
  measurement_of), against the generator's exact expectation: row
  count, sum of ``measurement_number``, count of string values, plus
  one correlation id per source message and no duplicate rows.
- ``check_query``: a re-computation of Q1, Q2, Q7, Q8 and Q9 over the
  same store files, compared with the rows Spark returned.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import duckdb


def _scan(store: str) -> str:
    glob = f"{store}/**/*.parquet".replace("'", "''")
    return f"read_parquet('{glob}', hive_partitioning = false)"


def _close(a, b, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def check_store(store: str, expected: dict, messages_with_rows: int) -> list[str]:
    """→ list of mismatch descriptions (empty when the store is right).
    ``messages_with_rows``: source messages that must each leave one
    correlation id in the store."""
    con = duckdb.connect()
    try:
        got = {
            (pub, of): (n, s, ns)
            for pub, of, n, s, ns in con.execute(
                f"""SELECT measurement_publisher, measurement_of, count(*),
                           sum(measurement_number), count(measurement_string)
                    FROM {_scan(store)} GROUP BY ALL"""
            ).fetchall()
        }
        dup_rows, ids = con.execute(
            f"""SELECT count(*) - count(DISTINCT (correlation_id, measurement_of)),
                       count(DISTINCT correlation_id)
                FROM {_scan(store)}"""
        ).fetchone()
    finally:
        con.close()
    errors = []
    for key in sorted(set(expected) | set(got)):
        want = expected.get(key, (0, 0.0, 0))
        have = got.get(key, (0, None, 0))
        if have[0] != want[0] or have[2] != want[2] or not _close(have[1] or 0.0, want[1], rel=1e-9):
            errors.append(f"store {key}: got {have}, want {tuple(want)}")
    if dup_rows:
        errors.append(f"store: {dup_rows} duplicate (correlation_id, measurement_of) rows")
    if ids != messages_with_rows:
        errors.append(f"store: {ids} correlation ids, want {messages_with_rows}")
    return errors


def _naive(dt: datetime) -> datetime:
    return dt.astimezone(timezone.utc).replace(tzinfo=None)


def _epoch(dt: datetime) -> float:
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


ORACLE_QUERIES = ("q1", "q2", "q7", "q8", "q9")


def check_query(store: str, name: str, params: dict, rows: list) -> list[str]:
    """Recompute one panel query in DuckDB and compare with ``rows``
    (the Spark result, as collected)."""
    p = params
    where = "timestamp BETWEEN ? AND ? AND measurement_of = ?"
    args = [_naive(p["start"]), _naive(p["end"]), p["of"]]
    if "subject" in p:
        where += " AND measurement_subject = ?"
        args.append(p["subject"])
    con = duckdb.connect()
    try:
        if name in ("q1", "q2"):
            width = (
                p["interval_seconds"]
                if name == "q1"
                else (p["end"] - p["start"]).total_seconds() / p["max_result_size"]
            )
            sql = f"""SELECT floor(epoch_us(timestamp) / 1e6 / {width!r}) * {width!r} AS b,
                             avg(measurement_number)
                      FROM {_scan(store)} WHERE {where} GROUP BY b ORDER BY b"""
            if name == "q2":
                sql += f" LIMIT {int(p['max_result_size'])}"
            want = con.execute(sql, args).fetchall()
            have = [(_epoch(r[0]), r[1]) for r in rows]
            ok = len(want) == len(have) and all(
                _close(a[0], b[0], abs_=1e-3) and _close(a[1], b[1]) for a, b in zip(want, have)
            )
        elif name == "q7":
            want = [
                r[0]
                for r in con.execute(
                    f"SELECT DISTINCT measurement_subject FROM {_scan(store)} WHERE {where} ORDER BY 1",
                    args,
                ).fetchall()
            ]
            have = [r[0] for r in rows]
            ok = want == have
        elif name in ("q8", "q9"):
            want = con.execute(
                f"""SELECT epoch_us(timestamp), s FROM (
                      SELECT timestamp, measurement_string AS s,
                             lag(measurement_string) OVER (
                               PARTITION BY measurement_subject ORDER BY timestamp) AS prev
                      FROM {_scan(store)} WHERE {where})
                    WHERE s IS DISTINCT FROM prev ORDER BY timestamp""",
                args,
            ).fetchall()
            key = "timestamp" if name == "q8" else "time"
            have = [(round(_epoch(r[key]) * 1e6), r["value"]) for r in rows]
            ok = want == have
            if ok and name == "q9":
                ends = [_epoch(r["timeEnd"]) for r in rows]
                ok = ends[:-1] == [_epoch(r["time"]) for r in rows[1:]] and _close(
                    ends[-1], _epoch(p["close_at"]), abs_=1e-3
                )
        else:
            raise ValueError(f"no oracle for {name}")
    finally:
        con.close()
    return [] if ok else [f"{name} {p}: {len(rows)} rows differ from DuckDB"]
