"""Metric readers that look at the program from outside.

- ``batches_from_checkpoint``: which source files each micro-batch
  took (the file source's offset log) and when the batch committed
  (modification time of its commit marker), for freshness.
- ``progress_stats``: percentiles of the public
  ``StreamingQueryProgress`` fields.
- ``SqlMetrics``: the session's SQL execution metrics (files and rows
  scanned) and the stage shuffle bytes of every execution since the
  previous read.
- ``store_stats``: files, bytes and rows of a parquet store.
"""

from __future__ import annotations

import json
import os
import statistics

import pyarrow.parquet as pq


def quantile(values, q: float) -> float:
    """Linearly interpolated quantile (``statistics.quantiles``,
    inclusive method), so a percentile of a small sample moves
    smoothly instead of jumping between neighbouring samples."""
    vals = sorted(values)
    if len(vals) < 2:
        return float(vals[0]) if vals else 0.0
    cuts = statistics.quantiles(vals, n=100, method="inclusive")
    return float(cuts[round(q * 100) - 1])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def batches_from_checkpoint(ckpt: str) -> dict[int, dict]:
    """batch id -> {"files": [basename, ...], "commit": epoch seconds}
    for every committed batch."""
    files: dict[int, list[str]] = {}
    src_log = os.path.join(ckpt, "sources", "0")
    if os.path.isdir(src_log):
        for name in os.listdir(src_log):
            if name.startswith("."):
                continue
            with open(os.path.join(src_log, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    files.setdefault(int(entry["batchId"]), []).append(
                        os.path.basename(entry["path"])
                    )
    out: dict[int, dict] = {}
    commits = os.path.join(ckpt, "commits")
    if os.path.isdir(commits):
        for name in os.listdir(commits):
            if not name.isdigit():
                continue
            b = int(name)
            out[b] = {
                "files": sorted(set(files.get(b, []))),
                "commit": os.stat(os.path.join(commits, name)).st_mtime_ns / 1e9,
            }
    return out


_DURATIONS = ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def progress_stats(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming metrics from the progress events of batches
    that carried data."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {"streaming.batches": float(len(busy))}
    for key in _DURATIONS:
        vals = [p["durationMs"].get(key, 0) for p in busy]
        name = "trigger" if key == "triggerExecution" else key
        out[f"streaming.{name}_ms.p50"] = median(vals)
        if key == "triggerExecution":
            out["streaming.trigger_ms.max"] = float(max(vals, default=0))
    out["streaming.rows_per_batch.p50"] = median([p["numInputRows"] for p in busy])
    trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in busy)
    out["streaming.addBatch_share"] = sum(p["durationMs"].get("addBatch", 0) for p in busy) / max(trigger, 1)
    return out


def store_stats(path: str) -> dict[str, float]:
    """Parquet data files of a store: count, bytes and rows (from the
    footers)."""
    files = n_bytes = rows = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                full = os.path.join(root, name)
                files += 1
                n_bytes += os.path.getsize(full)
                rows += pq.ParquetFile(full).metadata.num_rows
    return {"store.files": float(files), "store.bytes": float(n_bytes), "store.rows": float(rows)}


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class SqlMetrics:
    """Reads the session's SQL status store. ``read`` waits for the
    listener bus, then sums over every execution finished since the
    previous read whose description carries ``tag`` (set on the calling
    thread with ``spark.job.description``): the scan metrics "number of
    files read" and "number of output rows", and the shuffle bytes
    written by its stages."""

    def __init__(self, spark, tag: str):
        jss = spark._jsparkSession
        self._sc = jss.sparkContext()
        self._sql = jss.sharedState().statusStore()
        self._app = self._sc.statusStore()
        self._tag = tag
        self._done = {ex.executionId() for ex in _seq(self._sql.executionsList())}

    def read(self) -> dict[str, int]:
        self._sc.listenerBus().waitUntilEmpty(30_000)
        totals = {"executions": 0, "files": 0, "scan_rows": 0, "shuffle_bytes": 0}
        for ex in _seq(self._sql.executionsList()):
            eid = ex.executionId()
            if eid in self._done or not ex.completionTime().isDefined():
                continue
            self._done.add(eid)
            if str(ex.description()).startswith(self._tag):
                self._add(ex, totals)
        return totals

    def _add(self, ex, t: dict[str, int]) -> None:
        t["executions"] += 1
        eid = ex.executionId()
        values = {int(kv._1()): str(kv._2()) for kv in _seq(self._sql.executionMetrics(eid))}
        for node in _seq(self._sql.planGraph(eid).allNodes()):
            if "Scan" not in node.name():
                continue
            for m in _seq(node.metrics()):
                raw = values.get(int(m.accumulatorId()))
                if raw is None:
                    continue
                if m.name() == "number of files read":
                    t["files"] += _count(raw)
                elif m.name() == "number of output rows":
                    t["scan_rows"] += _count(raw)
        for job_id in _seq(ex.jobs().keys()):
            for stage_id in _seq(self._app.job(int(job_id)).stageIds()):
                t["shuffle_bytes"] += int(self._app.lastStageAttempt(int(stage_id)).shuffleWriteBytes())


def _count(text: str) -> int:
    """A SUM metric renders as a grouped integer, e.g. "12,345"."""
    head = text.strip().split("\n")[-1].split(" ")[0]
    return int(head.replace(",", ""))
