"""Seeded input generator and exact oracle for the solar engine benchmark.

numpy and pyarrow only: nothing here imports Spark or the engine, so the
oracle cannot inherit a defect of the program it checks.

Inputs follow the engine's raw message schema (``topic``, ``payload``,
``arrival_ts``) and the device wire format: a packet is a little-endian
int32 epoch, the device's channels as little-endian float64 in field
order, then per-device zero padding. Channel values are multiples of
1/4, so every sum the engine or the oracle computes over them is exact
in float64, whatever the summation order.

The online gate is modelled at the engine's granularity: a delivery
keeps a device's packets when that device's latest status, by arrival
time, over everything delivered so far is ``online``; when no status was
ever seen, nothing is gated. The engine gates whole micro-batches, so
the model holds when each delivery is one micro-batch or, as in
:func:`history`, statuses never change.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Device channel schemas, alphabetical, as the decoded packets carry them.
FIELDS: dict[str, tuple[str, ...]] = {
    "dc-1": (
        "bat_ah_today", "bat_current", "bat_kwh_today", "bat_net_ah",
        "bat_net_kwh", "bat_power", "bat_voltage", "days_since_full",
        "flags", "in_ah_today", "in_current", "in_kwh_today", "in_power",
        "min_soc_today", "out_ah_today", "out_current", "out_kwh_today",
        "out_power", "shunta_ah_today", "shunta_current",
        "shunta_kwh_today", "shunta_power", "shuntb_ah_today",
        "shuntb_current", "shuntb_kwh_today", "shuntb_power",
        "shuntc_ah_today", "shuntc_current", "shuntc_kwh_today",
        "shuntc_power", "state_of_charge",
    ),
    "fx-1": (
        "ac_mode", "aux_on", "battery_voltage", "buy_current",
        "chg_current", "error_mode", "input_voltage", "inverter_current",
        "is_230v", "misc", "operational_mode", "output_voltage",
        "sell_current", "warnings",
    ),
    "mx-1": (
        "amp_hours", "aux_mode", "aux_state", "bat_current", "bat_voltage",
        "errors", "kilowatt_hours", "pv_current", "pv_voltage", "status",
    ),
}
DEVICES = tuple(FIELDS)
PADDING = {"dc-1": 3, "fx-1": 2, "mx-1": 2}

RAW_ARROW_SCHEMA = pa.schema([
    ("topic", pa.string()),
    ("payload", pa.binary()),
    ("arrival_ts", pa.timestamp("us", tz="UTC")),
])

US = 1_000_000
DAY = 86_400


def data_topic(device: str) -> str:
    return f"mate/{device}/{device[:2]}-status"


def status_topic(device: str) -> str:
    return f"mate/{device}/status"


def history_start(rng: np.random.Generator) -> int:
    """A seeded midnight (UTC epoch seconds) in 2024."""
    return 1_704_067_200 + int(rng.integers(0, 300)) * DAY


# ---------------------------------------------------------------------------
# Deliveries
# ---------------------------------------------------------------------------


@dataclass
class Delivery:
    """One raw-message file: what the engine reads, plus what the oracle
    needs to know about it."""

    topic: list[str] = field(default_factory=list)
    payload: list[bytes] = field(default_factory=list)
    arrival_us: list[int] = field(default_factory=list)
    # decodable packets per device: epochs and the (rows, channels) values
    packets: dict[str, tuple[np.ndarray, np.ndarray]] = field(
        default_factory=dict
    )
    statuses: list[tuple[int, str, str]] = field(default_factory=list)
    sent: dict[str, int] = field(default_factory=dict)  # packets per device

    def add_status(self, device: str, arrival_us: int, status: str) -> None:
        self.topic.append(status_topic(device))
        self.payload.append(status.encode())
        self.arrival_us.append(arrival_us)
        self.statuses.append((arrival_us, device, status))

    def add_packets(
        self, device: str, epochs: np.ndarray, values: np.ndarray,
        truncated: np.ndarray, arrival_us: np.ndarray,
    ) -> None:
        """Encode one device's packets; rows flagged ``truncated`` are cut
        short on the wire and must not decode."""
        blobs = encode_packets(device, epochs, values)
        for blob, cut in zip(blobs, truncated):
            self.payload.append(blob[: len(blob) // 2] if cut else blob)
        self.topic.extend([data_topic(device)] * len(epochs))
        self.arrival_us.extend(int(a) for a in arrival_us)
        keep = ~truncated
        self.packets[device] = (epochs[keep], values[keep])
        self.sent[device] = self.sent.get(device, 0) + len(epochs)

    def table(self) -> pa.Table:
        order = np.argsort(np.asarray(self.arrival_us), kind="stable")
        return pa.table(
            {
                "topic": pa.array([self.topic[i] for i in order], pa.string()),
                "payload": pa.array(
                    [self.payload[i] for i in order], pa.binary()
                ),
                "arrival_ts": pa.array(
                    np.asarray(self.arrival_us, dtype=np.int64)[order],
                    pa.timestamp("us", tz="UTC"),
                ),
            },
            schema=RAW_ARROW_SCHEMA,
        )


def encode_packets(
    device: str, epochs: np.ndarray, values: np.ndarray
) -> list[bytes]:
    """Wire-format packets, one numpy structured-array write per call."""
    n = len(FIELDS[device])
    layout = [("epoch", "<i4"), ("vals", "<f8", (n,))]
    if PADDING[device]:
        layout.append(("pad", f"V{PADDING[device]}"))
    dtype = np.dtype(layout)
    rec = np.zeros(len(epochs), dtype=dtype)
    rec["epoch"] = epochs
    rec["vals"] = values
    buf, stride = rec.tobytes(), dtype.itemsize
    return [buf[i * stride:(i + 1) * stride] for i in range(len(epochs))]


def channel_values(
    rng: np.random.Generator, device: str, epochs: np.ndarray
) -> np.ndarray:
    """Seeded readings: a per-channel daily cycle plus noise, quantised to
    quarters so sums are exact."""
    n = len(FIELDS[device])
    base = rng.integers(0, 400, n)
    amp = rng.integers(1, 60, n)
    phase = (epochs % DAY)[:, None] / DAY * 2 * np.pi
    noise = rng.normal(0.0, 2.0, (len(epochs), n))
    raw = base + amp * np.sin(phase + np.arange(n)) + noise
    return np.round(raw * 4) / 4


def write_atomic(table: pa.Table, out_dir: str, name: str) -> str:
    """Write a parquet file to ``out_dir`` so that a directory listing
    never sees it half-written: write beside it under a dot-name (file
    sources skip hidden files), then rename into place."""
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, name)
    tmp = os.path.join(out_dir, f".{name}.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final


# ---------------------------------------------------------------------------
# Workload inputs
# ---------------------------------------------------------------------------


def history(
    seed: int,
    seconds: int,
    n_files: int,
    offline: tuple[str, ...] = (),
    truncated_share: float = 0.002,
    step: int = 1,
) -> list[Delivery]:
    """A bulk history: every device reports every ``step`` seconds for
    ``seconds`` seconds, cut into ``n_files`` contiguous files. Each file
    opens with a status message per device; devices in ``offline`` report
    ``offline`` throughout. Statuses never change, so the gate outcome
    does not depend on how the engine groups files into micro-batches."""
    rng = np.random.default_rng(seed)
    t0 = history_start(rng)
    bounds = np.linspace(0, seconds // step, n_files + 1).astype(np.int64) * step
    out = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        d = Delivery()
        for k, device in enumerate(DEVICES):
            status = "offline" if device in offline else "online"
            d.add_status(device, (t0 + int(lo)) * US - 1000 + k, status)
        for device in DEVICES:
            epochs = np.arange(t0 + lo, t0 + hi, step, dtype=np.int64)
            values = channel_values(rng, device, epochs)
            cut = rng.random(len(epochs)) < truncated_share
            arrival = epochs * US + rng.integers(1000, 900_000, len(epochs))
            d.add_packets(device, epochs, values, cut, arrival)
        out.append(d)
    return out


# One round of the dashboard mix: one query of each shape. Nothing records
# how often a real dashboard runs each, so they weigh the same, and a
# round's cost does not drift between runs.
ROUND = ("short_range", "series_hours", "long_range", "flux_text", "topk")
MODES = ("csv", "flux", "stream")
FNS = ("mean", "min", "max", "sum", "count")  # the reference's aggregateWindow fns
HOUR = 3600


def query_round(
    rng: np.random.Generator, t0: int, seconds: int,
    devices: tuple[str, ...] = DEVICES, shapes: tuple[str, ...] = ROUND,
) -> list[dict]:
    """Seeded dashboard queries over a store holding ``[t0, t0 + seconds)``,
    in seeded order; result modes rotate through csv, flux and stream.

    Every range ends at the store's end, as the reference's relative
    ranges end at ``now()``, and has a fixed length per shape, so the seed
    picks only the series, function, order and mode:

    ``short_range``   one series' raw points over ``-5m``, by time
    ``series_hours``  one series, ``-1d`` in ``aggregateWindow(every: 1h)``
    ``long_range``    every series over the whole store, ``every: 1h``
    ``flux_text``     one series, ``-20m`` in ``every: 1m``, as Flux text
    ``topk``          one series' ``k`` largest values over ``-1d``

    Ranges longer than the store cover all of it."""
    stop = t0 + seconds

    def last(dur: int) -> int:
        return stop - min(dur, seconds)

    out = []
    for i, j in enumerate(rng.permutation(len(shapes))):
        shape = shapes[j]
        device = devices[int(rng.integers(len(devices)))]
        names = FIELDS[device]
        q = {"shape": shape, "measurement": device,
             "field": names[int(rng.integers(len(names)))],
             "mode": MODES[i % len(MODES)], "stop": stop}
        if shape == "short_range":
            q["start"] = last(300)
        elif shape == "series_hours":
            q["start"], q["every"] = last(DAY), HOUR
            q["fn"] = str(rng.choice(FNS))
        elif shape == "long_range":
            q["start"], q["every"] = t0, HOUR
            q["fn"] = str(rng.choice(FNS))
        elif shape == "flux_text":
            q["start"], q["every"] = last(1200), 60
            q["fn"] = str(rng.choice(FNS))
        elif shape == "topk":
            q["start"] = last(DAY)
            q["k"] = int(rng.integers(5, 21))
        else:
            raise ValueError(f"unknown shape {shape!r}")
        out.append(q)
    return out


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------


class Oracle:
    """Expected store contents, fed the deliveries in commit order."""

    def __init__(self) -> None:
        self.latest: dict[str, tuple[int, str]] = {}
        self.kept: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {
            d: [] for d in DEVICES
        }
        self.decodable_points = 0
        self.gated_points = 0

    def apply(self, d: Delivery) -> dict[str, bool]:
        """Fold one committed delivery; returns which devices it kept."""
        for arrival, device, status in d.statuses:
            if device not in self.latest or arrival > self.latest[device][0]:
                self.latest[device] = (arrival, status)
        kept = {}
        for device, (epochs, values) in d.packets.items():
            ok = not self.latest or (
                device in self.latest and self.latest[device][1] == "online"
            )
            kept[device] = ok
            self.decodable_points += values.size
            if ok:
                self.kept[device].append((epochs, values))
            else:
                self.gated_points += values.size
        return kept

    def series(self, device: str) -> tuple[np.ndarray, np.ndarray]:
        """(epochs, values[rows, channels]) kept for one device, time-sorted."""
        parts = self.kept[device]
        if not parts:
            n = len(FIELDS[device])
            return np.zeros(0, np.int64), np.zeros((0, n))
        ts = np.concatenate([p[0] for p in parts])
        vals = np.concatenate([p[1] for p in parts])
        order = np.argsort(ts, kind="stable")
        return ts[order], vals[order]

    @property
    def points(self) -> int:
        return sum(v.size for parts in self.kept.values() for _, v in parts)

    def field_totals(self) -> dict[tuple[str, str], tuple[int, float]]:
        """Per-(measurement, field) point count and value sum."""
        out = {}
        for device, names in FIELDS.items():
            _, vals = self.series(device)
            if not len(vals):
                continue
            for j, name in enumerate(names):
                out[(device, name)] = (len(vals), float(vals[:, j].sum()))
        return out


def window_agg(
    epochs: np.ndarray, values: np.ndarray, every: int, fn: str
) -> tuple[np.ndarray, np.ndarray]:
    """Tumbling epoch-aligned windows labelled by their stop time, as
    Flux ``aggregateWindow`` does. Returns (stop epochs, aggregates)."""
    if not len(epochs):
        return np.zeros(0, np.int64), np.zeros((0,) + values.shape[1:])
    win = epochs // every
    stops, idx = np.unique(win, return_index=True)
    counts = np.diff(np.append(idx, len(win)))
    if values.ndim == 2:
        counts = counts[:, None]
    if fn == "sum":
        agg = np.add.reduceat(values, idx)
    elif fn == "mean":
        agg = np.add.reduceat(values, idx) / counts
    elif fn == "max":
        agg = np.maximum.reduceat(values, idx)
    elif fn == "min":
        agg = np.minimum.reduceat(values, idx)
    elif fn == "count":
        agg = np.broadcast_to(counts, np.add.reduceat(values, idx).shape)
        agg = agg.astype(np.float64)
    else:
        raise ValueError(f"unsupported fn {fn!r}")
    return (stops + 1) * every, agg
