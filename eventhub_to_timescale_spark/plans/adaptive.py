"""Driver-side adaptive planning (the reference's two-phase plpgsql).

Several reference query functions size their time bucket at call time:

- Q2 derives the bucket from the requested resolution
  (db/get_aggregated_data.sql:15: ``interval = (end-start)/max_result_size``)
- Q3 branches on span: intraday gets ``span / least(360, span/900)``
  buckets, multi-day gets daily buckets
  (db/get_aggregated_data_by_day.sql:18-42)
- Q4 runs a COUNT first and picks ``span/360`` if more than 360 rows
  match, else 60 s
  (db/get_most_frequent_value_by_time_interval.sql:15-30)

Q2 and Q3 depend only on the span, so the width is a driver-side
constant chosen at plan construction — no Catalyst extension needed
(SURVEY §4). Q4's count is data, but it can select only the two widths
``adaptive_mode_bucket_seconds`` returns for a span, so
``operators.timeseries.most_frequent_value`` computes both up front
and picks between them inside the plan with ``count(*) over ()`` on
the slice: no eager COUNT action and no Spark job at call time; the
count runs with the rest of the query, over the one (subject, of)
slice gathered into a single task.
"""

from __future__ import annotations

from datetime import datetime

# Q4 switches to span/360 buckets when MORE than this many rows match
MODE_COUNT_THRESHOLD = 360


def span_seconds(start: datetime, end: datetime) -> float:
    return (end - start).total_seconds()


def resolution_bucket_seconds(
    start: datetime, end: datetime, max_result_size: int
) -> float:
    """Q2: bucket width so the span yields ``max_result_size`` buckets."""
    if max_result_size <= 0:
        raise ValueError(f"max_result_size must be positive: {max_result_size}")
    b = span_seconds(start, end) / max_result_size
    # a zero-width bucket (start == end) would NULL every bucket key
    # downstream (epoch/0); clamp to 1 s for degenerate spans
    return b if b > 0 else 1.0


def daily_branch_bucket_seconds(start: datetime, end: datetime) -> float | None:
    """Q3: intraday bucket width, or None → use daily MAX branch.

    Intraday (span ≤ 1 day): number of buckets = least(360, span/900),
    bucket = span / that (db/get_aggregated_data_by_day.sql:20-25).
    """
    span = span_seconds(start, end)
    if span > 86400:
        return None
    n_buckets = min(360.0, span / 900.0)
    if n_buckets <= 0:
        n_buckets = 1.0
    b = span / n_buckets
    return b if b > 0 else 1.0  # degenerate span guard (see above)


def adaptive_mode_bucket_seconds(matching_count: int, start: datetime, end: datetime) -> float:
    """Q4: span/360 when more than 360 rows match, else 60 s
    (db/get_most_frequent_value_by_time_interval.sql:26-30).

    The reference assigns the division into an ``integer`` plpgsql
    variable — a numeric→int cast that rounds to nearest (ties away
    from zero) — so bucket width is a whole second; fractional spans
    round the same way here."""
    if matching_count > MODE_COUNT_THRESHOLD:
        # max(1,...): dense sub-6-minute slices would otherwise round
        # the width to 0 and NULL every bucket key
        return float(max(1, int(span_seconds(start, end) / 360.0 + 0.5)))
    return 60.0
