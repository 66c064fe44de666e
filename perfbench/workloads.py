"""The benchmark's workloads, their shared set-up and the traced probes.

Every workload starts with the same set-up: start the Spark session
(and its JVM), then drain the seeded backlog through the streaming DAG
into a fresh checkpoint and store and open that store, ``setup_repeats``
times. The first drain pays the code generation of the ingest plan and
the JIT warm-up; ``setup_s`` is the session start plus the median of
the later drain-and-open repeats. The last store is the one the
dashboard queries.

- ``dashboard``: one closed-loop client replays the panel-query
  sequence against the set-up store until the run time is up.
- ``live_mixed``: an open-loop publisher moves one pre-rendered file
  into the source directory of a running stream on a fixed schedule
  while one dashboard client replays the queries.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from time import perf_counter

import numpy as np

import gen
import oracle
import probes
from probes import median, quantile
from spans import Tracer

SPANS_S = (6 * 3600, 86400, 7 * 86400, 30 * 86400)
QUERIES = tuple(f"q{i}" for i in range(1, 10))
STRING_QUERIES = ("q4", "q8", "q9")
ORACLE_CYCLES = 2  # the first two passes through Q1..Q9 are re-computed in DuckDB
QUERY_TAG = "perfbench-dashboard"
LIVE_PERIOD_S = 0.2  # the open-loop publisher moves one file per period
LIVE_MAX_FILES = 10  # live stream's file cap per batch: 2 s of input


@dataclass
class Sizes:
    backlog_files: int = 4
    msgs_per_file: int = 4000
    max_files_per_trigger: int = 2
    setup_repeats: int = 3
    devices: int = 200
    live_msgs_per_s: float = 600.0
    probe_repeats: int = 3
    plan_cycles: int = 40


@dataclass
class Drain:
    store: str
    fresh_ms: list[float]
    progress: list[dict]
    files: int  # source files committed


@dataclass
class QueryRun:
    name: str
    params: dict
    latency_ms: float = 0.0
    call_ms: float = 0.0
    rows: list | None = None
    error: str | None = None
    sql: dict | None = None  # SQL execution metrics of the traced pass


def _operators():
    from eventhub_to_timescale_spark.operators import asap, timeseries, timeweight

    return {
        "q1": timeseries.aggregated_by_interval,
        "q2": timeseries.aggregated_data,
        "q3": timeseries.aggregated_by_day,
        "q4": timeseries.most_frequent_value,
        "q5": timeweight.time_weighted_average,
        "q6": asap.asap_smooth,
        "q7": timeseries.unique_subjects,
        "q8": timeseries.changed_rows,
        "q9": timeseries.state_intervals,
    }


def make_queries(corpus: gen.Corpus, seed: int, cycles: int) -> list[tuple[str, dict]]:
    """A seeded Grafana panel sequence: Q1..Q9 in turn; subjects drawn
    Zipf-distributed by their row counts; spans from {6 h, 1 d, 7 d,
    30 d}; each window placed around a stored row of its series, so no
    answer is empty. Q4, Q8 and Q9 draw only string-valued series."""
    rng = np.random.default_rng(seed * 7919 + 17)
    pools = {}
    for kind in ("number", "string"):
        series = [(k, v) for k, v in corpus.series.items() if corpus.kinds[k[1]] == kind]
        series.sort(key=lambda kv: (-len(kv[1]), kv[0]))
        pools[kind] = (series, gen.zipf_weights(len(series), 1.0))
    plan = []
    for i in range(cycles * len(QUERIES)):
        name = QUERIES[i % len(QUERIES)]
        series, weights = pools["string" if name in STRING_QUERIES else "number"]
        (subject, of), stamps = series[rng.choice(len(series), p=weights)]
        span = int(SPANS_S[rng.integers(len(SPANS_S))])
        anchor = int(stamps[rng.integers(len(stamps))])
        start_ms = anchor - int(rng.integers(0, span * 1000))
        start = datetime.fromtimestamp(start_ms / 1000.0, tz=timezone.utc)
        end = start + timedelta(seconds=span)
        p = {"of": of, "start": start, "end": end}
        if name != "q7":
            p["subject"] = subject
        if name == "q1":
            p["interval_seconds"] = span / 200
        elif name == "q2":
            p["max_result_size"] = 200
        elif name == "q5":
            p.update(method="locf", resolution=200)
        elif name == "q6":
            p["resolution"] = 100
        elif name == "q9":
            p["close_at"] = end
        plan.append((name, p))
    return plan


def _epoch(stamp: str) -> float:
    """A progress event's ISO-8601 UTC timestamp as epoch seconds."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _batch_rate(progress: list[dict]) -> float:
    """Messages per second of micro-batch time: the rate a running
    stream sustains while it has input (query start and idle polling
    excluded)."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    ms = sum(p["durationMs"]["triggerExecution"] for p in busy)
    return sum(p["numInputRows"] for p in busy) * 1000.0 / max(ms, 1)


class Bench:
    def __init__(self, root: str, tmp: str, seed: int, seconds: float, trace: bool, sizes: Sizes):
        self.root, self.tmp, self.seed, self.seconds = root, tmp, seed, seconds
        self.sizes = sizes
        self.tracer = Tracer(trace)
        self.spark = None
        self.conditions = None  # the set-up store, opened once
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.session_starts: list[float] = []
        self.query_runs: list[QueryRun] = []
        self._ops = None
        self._n = 0
        self._t0 = perf_counter()

    # -- bookkeeping -------------------------------------------------

    def note(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def log(self, what: str) -> None:
        print(f"perfbench: {perf_counter() - self._t0:7.2f}s {what}", file=sys.stderr, flush=True)

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.tmp, f"{name}-{self._n}")

    # -- session -----------------------------------------------------

    def start_session(self, master: str | None = None) -> None:
        from eventhub_to_timescale_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.tmp, 'jtmp')} "
                f"-Dderby.system.home={os.path.join(self.tmp, 'derby')}"
            ),
        }
        with self.tracer.span("session.start"):
            t0 = perf_counter()
            self.spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
            self.session_starts.append(perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")

    # -- ingest ------------------------------------------------------

    def drain(self, src: str, label: str) -> Drain:
        """One ``availableNow`` drain of every file in ``src`` into a
        fresh store and checkpoint."""
        from eventhub_to_timescale_spark.streaming.pipeline import (
            read_raw_stream,
            stream_to_conditions,
            write_conditions_stream,
        )

        store, ckpt = self.path("store"), self.path("ckpt")
        ok = True
        with self.tracer.span("streaming.drain", what=label):
            raw = read_raw_stream(self.spark, src, max_files_per_trigger=self.sizes.max_files_per_trigger)
            cond = stream_to_conditions(raw, deterministic_ids=True)
            due = time.time()
            query = write_conditions_stream(cond, store, ckpt, trigger_available_now=True)
            try:
                query.awaitTermination()
            except Exception as exc:  # a failed batch ends the drain; counted, not raised
                ok = False
                self.errors.append(f"{label}: {type(exc).__name__}: {str(exc)[:300]}")
        progress = [dict(p) for p in query.recentProgress]
        batches = probes.batches_from_checkpoint(ckpt)
        fresh = [(b["commit"] - due) * 1000.0 for b in batches.values() for _ in b["files"]]
        for p in progress:
            if p.get("numInputRows", 0) > 0:
                self.note(True)
        if not ok:
            self.note(False, f"{label}: stream failed")
        committed = sum(len(b["files"]) for b in batches.values())
        return Drain(store, fresh, progress, committed)

    def check_store(self, store: str, corpus: gen.Corpus) -> None:
        with self.tracer.span("check.store"):
            with_rows = corpus.messages - corpus.corrupt - corpus.unknown - corpus.rejected
            errs = oracle.check_store(store, corpus.expected, with_rows)
        self.note(not errs, "; ".join(errs[:3]))

    # -- set-up ------------------------------------------------------

    def setup(self) -> None:
        s = self.sizes
        self.corpus = gen.render(self.seed, s.backlog_files, s.msgs_per_file, devices=s.devices)
        self.backlog_src = os.path.join(self.tmp, "backlog")
        gen.write_files(self.corpus, self.backlog_src)
        self.plan = make_queries(self.corpus, self.seed, s.plan_cycles)
        self.start_session()
        self.layer["session.start_s"] = self.session_starts[0]
        times, drains = [], []
        for i in range(s.setup_repeats):
            with self.tracer.span("setup", repeat=i):
                t0 = perf_counter()
                d = self.drain(self.backlog_src, f"setup{i}")
                # the dashboard's table: opened (files listed) once
                self.conditions = self.spark.read.parquet(d.store)
                times.append(perf_counter() - t0)
            self.log(f"setup {i}: {times[-1]:.2f}s")
            self.check_store(d.store, self.corpus)
            if drains:
                shutil.rmtree(drains[-1].store, ignore_errors=True)
            drains.append(d)
        self.log(f"session start: {self.session_starts[0]:.2f}s")
        self.setup_s = self.session_starts[0] + median(times[1:] or times)
        self.setup_drains = drains
        self.store = drains[-1].store

    def warm_up(self) -> None:
        """One untimed pass through Q1..Q9 (Python workers, code
        generation) before anything is timed, all nine at once."""
        batch = self.plan[len(QUERIES) * ORACLE_CYCLES : len(QUERIES) * (ORACLE_CYCLES + 1)]
        with ThreadPoolExecutor(max_workers=len(batch)) as pool:
            runs = list(pool.map(lambda q: self.run_query(*q), batch))
        for r in runs:
            self.note(r.error is None and bool(r.rows), r.error or f"{r.name}: empty answer")
        self.log("warm-up done")

    # -- queries -----------------------------------------------------

    def run_query(self, name: str, params: dict) -> QueryRun:
        if self._ops is None:
            self._ops = _operators()
        ops = self._ops
        r = QueryRun(name, params)
        try:
            with self.tracer.span(f"operators.{name}"):
                t0 = perf_counter()
                with self.tracer.span(f"operators.{name}.call"):
                    c0 = perf_counter()
                    if name == "q4":  # the call runs the plans layer's eager count
                        with self.tracer.span("plans.q4_phase1"):
                            df = ops[name](self.conditions, **params)
                    else:
                        df = ops[name](self.conditions, **params)
                    r.call_ms = (perf_counter() - c0) * 1000.0
                with self.tracer.span(f"operators.{name}.collect"):
                    r.rows = df.collect()
                r.latency_ms = (perf_counter() - t0) * 1000.0
        except Exception as exc:  # a failed query is counted, not raised
            r.error = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
        return r

    def query_loop(self, deadline: float) -> list[QueryRun]:
        """Closed loop, one client: the next query is sent when the
        previous one has returned."""
        runs = []
        while perf_counter() < deadline:
            name, params = self.plan[len(runs) % len(self.plan)]
            runs.append(self.run_query(name, params))
        for i, r in enumerate(runs):
            if r.error:
                self.note(False, r.error)
                continue
            self.note(bool(r.rows), f"{r.name} {r.params}: empty answer")
            if i < len(QUERIES) * ORACLE_CYCLES and r.name in oracle.ORACLE_QUERIES and r.rows:
                errs = oracle.check_query(self.store, r.name, r.params, r.rows)
                self.note(not errs, "; ".join(errs))
        self.query_runs = runs
        self.log(f"{len(runs)} queries: " + " ".join(f"{r.name}={r.latency_ms:.0f}" for r in runs[:18]))
        return runs

    # -- workloads ---------------------------------------------------

    def dashboard(self) -> dict:
        """Queries against the set-up store, ingest idle. The ingest
        metrics come from the set-up drains after the first (the first
        pays code generation and JIT warm-up)."""
        self.query_loop(perf_counter() + self.seconds)
        warm = self.setup_drains[1:] or self.setup_drains
        self.layer.update(probes.store_stats(self.store))
        self._streaming_layer([p for d in warm for p in d.progress], self.sizes.backlog_files)
        return self._e2e(
            ingest=_batch_rate([p for d in warm for p in d.progress]),
            fresh=[f for d in warm for f in d.fresh_ms],
            keepup=sum(d.files for d in warm) / (self.sizes.backlog_files * len(warm)),
            store=self.store,
        )

    def live_mixed(self) -> dict:
        from eventhub_to_timescale_spark.streaming.pipeline import (
            read_raw_stream,
            stream_to_conditions,
            write_conditions_stream,
        )

        s = self.sizes
        n_files = max(1, int(self.seconds / LIVE_PERIOD_S))
        per_file = max(1, int(round(s.live_msgs_per_s * LIVE_PERIOD_S)))
        live = gen.render(self.seed + 1, n_files, per_file, devices=s.devices)
        staging, src = os.path.join(self.tmp, "live-staging"), os.path.join(self.tmp, "live-src")
        names = [os.path.basename(p) for p in gen.write_files(live, staging)]
        os.makedirs(src)
        store, ckpt = self.path("live-store"), self.path("live-ckpt")
        raw = read_raw_stream(self.spark, src, max_files_per_trigger=LIVE_MAX_FILES)
        query = write_conditions_stream(stream_to_conditions(raw, deterministic_ids=True), store, ckpt)

        t_start = time.time() + 0.5
        due = {n: t_start + k * LIVE_PERIOD_S for k, n in enumerate(names)}
        late_ms: list[float] = []

        def publish() -> None:
            for n in names:
                wait = due[n] - time.time()
                if wait > 0:
                    time.sleep(wait)
                dst = os.path.join(src, n)
                os.replace(os.path.join(staging, n), dst)
                os.utime(dst)
                late_ms.append((time.time() - due[n]) * 1000.0)

        publisher = threading.Thread(target=publish, name="perfbench-publisher", daemon=True)
        with self.tracer.span("live.run"):
            publisher.start()
            time.sleep(max(0.0, t_start - time.time()))
            self.query_loop(perf_counter() + self.seconds)
            publisher.join(timeout=self.seconds + 30)
            t_end = t_start + self.seconds
            at_end = probes.batches_from_checkpoint(ckpt)
        ok = not publisher.is_alive() and len(late_ms) == len(names)
        try:
            query.processAllAvailable()
        except Exception as exc:  # counted as a failed batch, not raised
            ok = False
            self.errors.append(f"live: {type(exc).__name__}: {str(exc)[:300]}")
        progress = [dict(p) for p in query.recentProgress]
        query.stop()
        for p in progress:
            if p.get("numInputRows", 0) > 0:
                self.note(True)
        self.note(ok, "live stream or publisher failed")
        batches = probes.batches_from_checkpoint(ckpt)
        fresh = [(b["commit"] - due[f]) * 1000.0 for b in batches.values() for f in b["files"] if f in due]
        # keep-up: of the files due when the last batch committed by the
        # end was triggered, the share that batch or an earlier one took.
        # A stream that keeps up takes every published file into its next
        # batch (ratio 1); one that falls behind hits the file cap and
        # leaves a growing backlog.
        started = {p["batchId"]: _epoch(p["timestamp"]) for p in progress if p.get("numInputRows", 0) > 0}
        done = [b for b, v in at_end.items() if v["commit"] <= t_end and b in started]
        last_start = max((started[b] for b in done), default=t_start)
        taken = {f for b in done for f in at_end[b]["files"]}
        offered = [n for n in names if due[n] <= last_start]
        committed = sum(1 for n in offered if n in taken)
        self.check_store(store, live)
        self.layer.update(probes.store_stats(store))
        self._streaming_layer(progress, self._backlog_max(batches, due))
        self.layer["generator.late_ms.max"] = max(late_ms, default=0.0)
        return self._e2e(
            ingest=_batch_rate(progress),
            fresh=fresh,
            keepup=committed / len(offered) if offered else 0.0,
            store=store,
        )

    @staticmethod
    def _backlog_max(batches: dict, due: dict) -> int:
        """Most files published but not yet taken by a batch, seen at
        each batch commit."""
        taken = 0
        worst = 0
        for b in sorted(batches):
            commit = batches[b]["commit"]
            published = sum(1 for t in due.values() if t <= commit)
            worst = max(worst, published - taken)
            taken += len(batches[b]["files"])
        return worst

    # -- metrics -----------------------------------------------------

    def _streaming_layer(self, progress: list[dict], backlog_max: int) -> None:
        self.layer.update(probes.progress_stats(progress))
        self.layer["streaming.backlog_files.max"] = float(backlog_max)

    def _e2e(self, ingest: float, fresh: list[float], keepup: float, store: str) -> dict:
        lat = [r.latency_ms for r in self.query_runs if not r.error]
        st = probes.store_stats(store)
        self.note(bool(fresh), "no batch committed")
        return {
            "setup_s": (self.setup_s, "s"),
            "ingest_msgs_per_s": (ingest, "msgs/s"),
            "store_bytes_per_row": (st["store.bytes"] / max(st["store.rows"], 1.0), "B/row"),
            "query_p50_ms": (median(lat), "ms"),
            "query_p90_ms": (quantile(lat, 0.9), "ms"),
            "fresh_p50_ms": (median(fresh), "ms"),
            "fresh_p90_ms": (quantile(fresh, 0.9), "ms"),
            "keepup_ratio": (keepup, "ratio"),
        }

    def query_layer(self) -> None:
        runs = [r for r in self.query_runs if not r.error]
        for name in QUERIES:
            mine = [r for r in runs if r.name == name]
            self.layer[f"operators.{name}.p50_ms"] = median([r.latency_ms for r in mine])
            self.layer[f"operators.{name}.call_ms"] = median([r.call_ms for r in mine])
        self.layer["plans.q4_phase1_ms"] = self.layer["operators.q4.call_ms"]
        # one more pass through the plan's first Q1..Q9, untimed, reading
        # the SQL execution metrics after each action: the same queries
        # on the same store in every run of a seed, so the counts repeat
        self.spark.sparkContext.setJobDescription(QUERY_TAG)
        sqlm = probes.SqlMetrics(self.spark, QUERY_TAG)
        first = []
        for name, params in self.plan[: len(QUERIES)]:
            r = self.run_query(name, params)
            r.sql = sqlm.read()
            self.note(r.error is None and bool(r.rows), r.error or f"{name}: empty answer")
            if r.error is None:
                first.append(r)
        self.spark.sparkContext.setJobDescription(None)
        if first:
            result_rows = sum(len(r.rows) for r in first)
            self.layer["operators.scan_files_per_query"] = sum(r.sql["files"] for r in first) / len(first)
            self.layer["operators.scan_rows_per_result_row"] = sum(r.sql["scan_rows"] for r in first) / max(result_rows, 1)
            self.layer["operators.shuffle_bytes_per_query"] = sum(r.sql["shuffle_bytes"] for r in first) / len(first)

    def ingest_layers(self) -> None:
        """Per-layer ingest cost on the backlog as a batch read: each
        layer boundary is forced with a ``noop`` write of the
        cumulative prefix; a layer's self time is its prefix time
        minus the previous prefix time."""
        from pyspark.sql import functions as F

        from eventhub_to_timescale_spark.ingest.envelope import envelope_errors, parse_envelope
        from eventhub_to_timescale_spark.ingest.router import route_to_records, unrouted
        from eventhub_to_timescale_spark.sinks.conditions import records_to_conditions

        raw = self.spark.read.parquet(self.backlog_src)
        env = parse_envelope(raw, deterministic_ids=True)
        records = route_to_records(env)
        wide = records_to_conditions(records, with_unique_id=False)
        stages = [
            ("ingest.read", raw),
            ("ingest.parse_envelope", env),
            ("ingest.route_to_records", records),
            ("sinks.records_to_conditions", wide),
        ]
        prefix = {}
        for name, df in stages:
            times = []
            for _ in range(self.sizes.probe_repeats):
                with self.tracer.span(f"{name}.prefix"):
                    t0 = perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    times.append(perf_counter() - t0)
            prefix[name] = median(times)
        for (prev, _), (name, _) in zip(stages, stages[1:]):
            self.layer[f"{name}.self_s"] = prefix[name] - prefix[prev]
        with self.tracer.span("ingest.counts"):
            n_records = records.count()
            n_rows = wide.count()
            corrupt = envelope_errors(env).count()
            unknown = unrouted(env).count()
            routed = env.filter(~F.col("corrupt")).count() - unknown
        self.layer["ingest.records_per_msg"] = n_records / max(routed, 1)
        self.layer["ingest.corrupt_msgs"] = float(corrupt)
        self.layer["ingest.unrouted_msgs"] = float(unknown)
        self.layer["sinks.rejected_rows"] = float(n_records - n_rows)
        self.note(
            corrupt == self.corpus.corrupt and unknown == self.corpus.unknown and n_records - n_rows == self.corpus.rejected,
            f"ingest channels: corrupt {corrupt}, unrouted {unknown}, rejected {n_records - n_rows}",
        )

    def single_core_drain(self) -> None:
        """The same drain on ``local[1]``: the single-thread baseline."""
        self.start_session(master="local[1]")
        d = self.drain(self.backlog_src, "local1")
        self.check_store(d.store, self.corpus)
        self.layer["streaming.msgs_per_s_1core"] = _batch_rate(d.progress)
