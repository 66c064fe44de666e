"""Seeded input generator and its exact expectations.

Renders raw MQTT envelope strings the way the Event Hub delivers them
(``{"topic", "payload", "qos", "retain", "timestamp"}`` with a
JSON-encoded payload string) for three publishers:

- ``homie/<device>/<property>``: many devices with Zipf popularity;
  numeric properties and the string-valued ``state`` / ``mode``.
- ``glow/electricitymeter`` (5 records) and ``glow/gasmeter``
  (4 records): nested payload, timestamp inside the meter object.
- ``emon/emonTx4``: flat payload, epoch ``time`` key, 5 records.

A fixed small share of messages is unparseable, carries an unknown
topic, or has a numeric homie property whose value cannot be cast
(rejected by the sink). Because the generator writes every message,
it knows the expected ``conditions`` rows exactly; ``Corpus.expected``
holds them aggregated per (publisher, measurement_of).

Message timestamps are strictly increasing across the whole corpus
(at least 1 ms apart), so no two rows of one series share a
timestamp and window queries have one valid answer.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
SPAN_DAYS = 30

HOMIE_NUMERIC = ("measure-temperature", "heating-setpoint", "thermostat-setpoint")
HOMIE_STRING = {
    "state": ("on", "off", "idle", "heating"),
    "mode": ("heat", "cool", "auto", "off", "eco"),
}
HOMIE_PROPS = HOMIE_NUMERIC + tuple(HOMIE_STRING)
HOMIE_PROP_WEIGHTS = (0.35, 0.15, 0.1, 0.25, 0.15)
ELEC_FIELDS = (
    "import_cumulative",
    "import_day",
    "import_unitrate",
    "import_standingcharge",
    "power_value",
)
GAS_FIELDS = ("import_cumulative", "import_day", "import_cumulativevol", "import_dayvol")
EMON_FIELDS = ("P1", "P2", "E1", "Vrms", "T1")

# message mix (shares of all messages)
SHARE_GLOW = 0.14
SHARE_EMON = 0.10
SHARE_CORRUPT = 0.01
SHARE_UNKNOWN = 0.01
SHARE_BAD_VALUE = 0.005  # homie numeric property with an uncastable value
# homie takes the rest


@dataclass
class Corpus:
    """Rendered files plus everything the checks need to know."""

    files: list[list[str]]
    # (publisher, measurement_of) -> [rows, sum of numbers, string rows]
    expected: dict[tuple[str, str], list] = field(default_factory=dict)
    # (subject, measurement_of) -> sorted epoch-ms timestamps
    series: dict[tuple[str, str], np.ndarray] = field(default_factory=dict)
    # measurement_of -> "number" | "string"
    kinds: dict[str, str] = field(default_factory=dict)
    corrupt: int = 0
    unknown: int = 0
    rejected: int = 0

    @property
    def messages(self) -> int:
        return sum(len(f) for f in self.files)


def _iso(ms: int) -> str:
    dt = datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def _envelope(topic: str, payload: str, ms: int) -> str:
    return json.dumps(
        {"topic": topic, "payload": payload, "qos": 0, "retain": 0, "timestamp": _iso(ms)}
    )


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def render(seed: int, n_files: int, msgs_per_file: int, devices: int = 200) -> Corpus:
    """``n_files`` files of ``msgs_per_file`` envelopes whose event
    times spread evenly over the ``SPAN_DAYS`` after ``T0``; file k
    holds the k-th time slice, as a live feed would deliver it."""
    rng = np.random.default_rng(seed)
    n = n_files * msgs_per_file
    lo = int(T0.timestamp() * 1000)
    step = SPAN_DAYS * 86_400_000 // max(n, 1)
    if step < 1:
        raise ValueError("too many messages for the time range")
    # strictly increasing: each message gets its own step-wide slot
    ts = lo + np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)

    cuts = np.cumsum([SHARE_GLOW, SHARE_EMON, SHARE_CORRUPT, SHARE_UNKNOWN, SHARE_BAD_VALUE])
    kind_draw = rng.random(n)
    dev_w = zipf_weights(devices)
    dev_draw = rng.choice(devices, size=n, p=dev_w)
    prop_draw = rng.choice(len(HOMIE_PROPS), size=n, p=HOMIE_PROP_WEIGHTS)
    noise = rng.normal(0.0, 1.0, size=(n, 5))
    flips = rng.random(n)

    corpus = Corpus(files=[])
    series: dict[tuple[str, str], list[int]] = {}
    state: dict[tuple[int, str], str] = {}
    meters = {"electricitymeter": 1000.0, "gasmeter": 500.0}

    def expect(pub: str, subject: str, of: str, ms: int, num: float | None = None) -> None:
        """One expected row; ``num=None`` marks a string value."""
        acc = corpus.expected.setdefault((pub, of), [0, 0.0, 0])
        acc[0] += 1
        if num is not None:
            acc[1] += num
            corpus.kinds[of] = "number"
        else:
            acc[2] += 1
            corpus.kinds[of] = "string"
        series.setdefault((subject, of), []).append(ms)

    msgs: list[str] = []
    for i in range(n):
        ms = int(ts[i])
        k = kind_draw[i]
        z = noise[i]
        if k < cuts[0]:
            subject = "electricitymeter" if flips[i] < 0.6 else "gasmeter"
            meters[subject] += 0.05 + abs(z[0]) * 0.1
            cum = round(meters[subject], 3)
            day = round(abs(z[1]) * 4.0 + 1.0, 3)
            imp = {
                "cumulative": cum,
                "day": day,
                "units": "kWh",
                "mpan": "1200012345678",
                "supplier": "Octopus",
            }
            values = [cum, day]
            meter = {"timestamp": _iso(ms), "energy": {"import": imp}}
            if subject == "electricitymeter":
                imp["price"] = {"unitrate": 0.2431, "standingcharge": 0.4621}
                power = round(abs(z[2]) * 1.5 + 0.1, 3)
                meter["power"] = {"value": power, "units": "kW"}
                values += [0.2431, 0.4621, power]
                fields = ELEC_FIELDS
            else:
                imp["cumulativevol"] = round(cum * 11.1, 3)
                imp["dayvol"] = round(day * 11.1, 3)
                imp["cumulativevolunits"] = "m3"
                values += [imp["cumulativevol"], imp["dayvol"]]
                fields = GAS_FIELDS
            msgs.append(_envelope(f"glow/{subject}", json.dumps({subject: meter}), ms))
            for of, v in zip(fields, values):
                expect("glow", subject, of, ms, num=float(v))
        elif k < cuts[1]:
            vals = [
                round(300.0 + z[0] * 80.0, 2),
                round(120.0 + z[1] * 30.0, 2),
                round(5000.0 + i * 0.01, 2),
                round(240.0 + z[2] * 2.0, 2),
                round(19.0 + z[3] * 1.5, 2),
            ]
            body = {"time": ms / 1000.0}
            body.update(zip(EMON_FIELDS, vals))
            msgs.append(_envelope("emon/emonTx4", json.dumps(body), ms))
            for of, v in zip(EMON_FIELDS, vals):
                expect("emon", "emonTx4", of, ms, num=float(v))
        elif k < cuts[2]:
            # truncated JSON: the envelope cannot be parsed at all
            msgs.append(_envelope("homie/dev0/state", "on", ms)[:-7])
            corpus.corrupt += 1
        elif k < cuts[3]:
            msgs.append(_envelope(f"zigbee2mqtt/sensor{i % 17}", '{"battery": 80}', ms))
            corpus.unknown += 1
        elif k < cuts[4]:
            msgs.append(_envelope(f"homie/dev{dev_draw[i]}/measure-temperature", "n/a", ms))
            corpus.rejected += 1
        else:
            dev = int(dev_draw[i])
            prop = HOMIE_PROPS[prop_draw[i]]
            subject = f"dev{dev}"
            if prop in HOMIE_STRING:
                choices = HOMIE_STRING[prop]
                cur = state.get((dev, prop))
                if cur is None or flips[i] < 0.4:
                    cur = choices[int(abs(z[4]) * 7) % len(choices)]
                    state[(dev, prop)] = cur
                msgs.append(_envelope(f"homie/{subject}/{prop}", cur, ms))
                expect("homie", subject, prop, ms)
            else:
                v = round(20.0 + dev % 5 + z[3] * 1.5, 1)
                msgs.append(_envelope(f"homie/{subject}/{prop}", repr(v), ms))
                expect("homie", subject, prop, ms, num=v)
    corpus.files = [msgs[j : j + msgs_per_file] for j in range(0, n, msgs_per_file)]
    corpus.series = {k: np.asarray(v, dtype=np.int64) for k, v in series.items()}
    return corpus


def write_files(corpus: Corpus, directory: str) -> list[str]:
    """Write every file of ``corpus`` into ``directory`` in order, as
    raw-message parquet (``value string``). The file source orders by
    modification time, so each file gets a distinct, increasing mtime."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    base_ns = time.time_ns()
    for k, lines in enumerate(corpus.files):
        path = os.path.join(directory, f"part-{k:05d}.parquet")
        pq.write_table(pa.table({"value": pa.array(lines, pa.string())}), path)
        t = base_ns + k * 1_000_000
        os.utime(path, ns=(t, t))
        paths.append(path)
    return paths
