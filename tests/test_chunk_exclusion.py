"""Chunk exclusion on the streamed store, and Q4's in-plan phase 1.

The streaming sink writes ``conditions`` partitioned by ``date`` (and
``_batch_id``); every Q1–Q9 panel query must prune to the days it asks
for, return exactly what it returns on the same rows with nothing to
prune, and sort its small answer without a range-partitioning exchange.
Q4's reference COUNT now lives in the plan, so calling
``most_frequent_value`` must start no Spark job.
"""

from __future__ import annotations

import glob
import os
import re
from datetime import datetime, timedelta, timezone

import duckdb
import pyarrow.parquet as pq
import pytest

from eventhub_to_timescale_spark.oracles import most_frequent_value_oracle
from eventhub_to_timescale_spark.operators import asap, timeweight
from eventhub_to_timescale_spark.operators import timeseries as ts
from eventhub_to_timescale_spark.plans.adaptive import (
    MODE_COUNT_THRESHOLD,
    adaptive_mode_bucket_seconds,
)
from eventhub_to_timescale_spark.streaming.pipeline import write_conditions_stream

COND_DDL = (
    "timestamp timestamp, measurement_subject string, "
    "measurement_publisher string, measurement_of string, "
    "measurement_number double, measurement_string string, "
    "measurement_bool boolean, measurement_location string, "
    "correlation_id string, measurement_unique_id long"
)
DAY0 = datetime(2024, 3, 1)
DAYS = 5
CET = timezone(timedelta(hours=1))

# (start, end): windows starting or ending exactly at midnight and at
# mid-day, naive and tz-aware (one whose local dates differ from UTC's)
WINDOWS = [
    (datetime(2024, 3, 2), datetime(2024, 3, 4)),
    (datetime(2024, 3, 2, 12), datetime(2024, 3, 3, 12)),
    (datetime(2024, 3, 3), datetime(2024, 3, 3, 12)),
    (
        datetime(2024, 3, 2, 12, tzinfo=timezone.utc),
        datetime(2024, 3, 4, tzinfo=timezone.utc),
    ),
    (datetime(2024, 3, 3, 1, tzinfo=CET), datetime(2024, 3, 3, 13, tzinfo=CET)),
]


def _rows():
    """Two numeric and two string series over five days, sampled every
    17 min plus a sample exactly at every midnight and noon; one string
    value in five is NULL."""
    states = ["on", "off", None, "on", "idle"]
    stamps = {DAY0 + timedelta(minutes=17 * k) for k in range(DAYS * 24 * 60 // 17)}
    stamps |= {DAY0 + timedelta(hours=12 * h) for h in range(2 * DAYS)}
    rows, uid = [], 0
    for t in sorted(stamps):
        for subj in ("s1", "s2"):
            uid += 1
            rows.append((t, subj, "pub", "temp", float(uid % 23), None, None, None, f"n{uid}", uid))
            uid += 1
            s = states[(uid // 3) % len(states)]
            rows.append((t, subj, "pub", "state", None, s, None, None, f"s{uid}", uid))
    return rows


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """(path, pruned, flat): the stream-written store's path and frame,
    and the same rows with ``date``/``_batch_id`` dropped (nothing to
    prune)."""
    root = tmp_path_factory.mktemp("chunks")
    src, out, ckpt = (str(root / n) for n in ("src", "store", "ckpt"))
    spark.createDataFrame(_rows(), COND_DDL).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(COND_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("timestamp", "10 minutes")
    )
    write_conditions_stream(stream, out, ckpt, trigger_available_now=True).awaitTermination()
    pruned = spark.read.parquet(out)
    return out, pruned, pruned.drop("date", "_batch_id")


def _queries(start, end):
    """Q1–Q9 as the dashboard issues them, plus Q8/Q9 over every subject."""
    return {
        "q1": lambda c: ts.aggregated_by_interval(c, "s1", "temp", start, end, 1800),
        "q2": lambda c: ts.aggregated_data(c, "s1", "temp", start, end, 50),
        "q3": lambda c: ts.aggregated_by_day(c, "s1", "temp", start, end),
        "q4": lambda c: ts.most_frequent_value(c, "s1", "state", start, end),
        "q5": lambda c: timeweight.time_weighted_average(c, "s2", "temp", start, end, "locf", 40),
        "q6": lambda c: asap.asap_smooth(c, "s2", "temp", start, end, 30),
        "q7": lambda c: ts.unique_subjects(c, "state", start, end),
        "q8": lambda c: ts.changed_rows(c, "s1", "state", start, end),
        "q9": lambda c: ts.state_intervals(c, "s2", "state", start, end, close_at=end),
        "q8_all": lambda c: ts.changed_rows(c, None, "state", start, end),
        "q9_all": lambda c: ts.state_intervals(c, None, "state", start, end, close_at=end),
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_store_files_carry_no_watermark_metadata(stores):
    path = stores[0]
    files = glob.glob(os.path.join(path, "date=*", "_batch_id=*", "*.parquet"))
    assert files
    for f in files:
        meta = pq.read_schema(f).metadata or {}
        spark_schema = meta.get(b"org.apache.spark.sql.parquet.row.metadata", b"")
        assert spark_schema, f"{f}: no Spark schema stored"
        assert b"watermark" not in spark_schema.lower(), spark_schema


def test_store_spans_several_days_and_batches(stores):
    path = stores[0]
    days = {os.path.basename(d) for d in glob.glob(os.path.join(path, "date=*"))}
    assert len(days) == DAYS
    assert len(glob.glob(os.path.join(path, "date=*", "_batch_id=*"))) > len(days)


@pytest.mark.parametrize("start,end", WINDOWS)
def test_pruned_answers_match_unpartitioned(stores, start, end):
    _, pruned, flat = stores
    for name, q in _queries(start, end).items():
        got, want = q(pruned).collect(), q(flat).collect()
        assert want, f"{name}: empty answer on {start}..{end}"
        assert got == want, f"{name} on {start}..{end}"


def test_panel_plans_prune_dates_and_sort_in_one_task(stores):
    _, pruned, _ = stores
    start, end = WINDOWS[1]
    for name, q in _queries(start, end).items():
        plan = _plan(q(pruned))
        filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert filters and all("date" in f for f in filters), f"{name}: {filters}"
        if name in ("q8_all", "q9_all"):
            # no subject: the range exchange keeps the windows parallel
            assert "rangepartitioning" in plan, name
        elif name in ("q1", "q2", "q3", "q4", "q5", "q6", "q7"):
            assert "rangepartitioning" not in plan, name


def test_most_frequent_value_call_starts_no_job(spark, stores):
    _, pruned, _ = stores
    sc = spark.sparkContext
    start, end = WINDOWS[0]
    group = "q4-call-starts-no-job"
    sc.setJobGroup(group, group)
    try:
        df = ts.most_frequent_value(pruned, "s1", "state", start, end)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert df.collect()
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)


@pytest.mark.parametrize("n_rows", [MODE_COUNT_THRESHOLD, MODE_COUNT_THRESHOLD + 1])
def test_q4_threshold_picks_width_and_matches_oracle(spark, n_rows):
    """Exactly 360 matching rows keep 60 s buckets; 361 switch to
    span/360. Every fourth string is NULL and still counts (the
    reference's COUNT(*)), so the 361-row slice has fewer than 361
    non-NULL strings yet takes the narrow width."""
    start, end = datetime(2024, 3, 1), datetime(2024, 3, 1, 2)  # span/360 = 20 s
    values = ["a", "b", "a", None, "c", "b"]

    def row(t, subj, s, uid):
        return (t, subj, "pub", "state", None, s, None, None, f"c{uid}", uid)

    rows = [
        row(start + timedelta(seconds=19 * k), "s1", values[k % 6] if k % 4 else None, k)
        for k in range(n_rows)
    ]
    # outside the slice: another subject, and rows past the window
    rows += [row(start + timedelta(seconds=k), "s2", "z", 10_000 + k) for k in range(50)]
    rows += [row(end + timedelta(seconds=k + 1), "s1", "z", 20_000 + k) for k in range(50)]

    got = [
        (r.time, r.most_common_value)
        for r in ts.most_frequent_value(
            spark.createDataFrame(rows, COND_DDL), "s1", "state", start, end
        ).collect()
    ]

    width = 60 if n_rows <= MODE_COUNT_THRESHOLD else 20
    assert adaptive_mode_bucket_seconds(n_rows, start, end) == width
    # ``start`` is a midnight, so buckets align to it
    assert [t for t, _ in got] == sorted(
        {start + timedelta(seconds=19 * k // width * width) for k in range(n_rows)}
    )

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE cond (timestamp TIMESTAMP, measurement_subject VARCHAR, "
            "measurement_of VARCHAR, measurement_string VARCHAR)"
        )
        con.executemany(
            "INSERT INTO cond VALUES (?, ?, ?, ?)",
            [(r[0], r[1], r[3], r[5]) for r in rows],
        )
        want = con.execute(
            most_frequent_value_oracle(
                "cond", "s1", "state",
                f"TIMESTAMP '{start.isoformat(sep=' ')}'",
                f"TIMESTAMP '{end.isoformat(sep=' ')}'",
            )
        ).fetchall()
    finally:
        con.close()
    assert got == [tuple(r) for r in want]
