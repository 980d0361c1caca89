"""Binary packet decode: time detach, payload decode, unpivot to points.

Reference semantics (``src/classes/mqtt_classes.py``):

* ``detach_time`` (F1, :28-38): the first ``TIME_PACKET_SIZE = 4`` bytes
  of every packet are a native-endian (= little-endian on every deploy
  target) unsigned-ish epoch int; the remainder minus ``padding_at_end``
  trailing bytes is the device payload. The reference golden test expects
  ``detach_time(b"\\x00\\x00\\x00\\x04t\\x00...") == (67108864, b"t\\x00...")``
  (``tests/classes/test_mqtt_classes.py:62-66``).
* ``dc/fx/mx_decoder`` (F2-F4, :40-68): payload → dict of named channel
  values via the external ``pymate`` packet classes, dropping ``raw``
  (P6). pymate is an optional GPL external dependency, so decoding is
  **pluggable** here: a decoder is any ``Callable[[bytes], dict]``
  registered per measurement. A deterministic self-inverse codec with the
  exact reference field schemas (``tests/config/consts.py:60-138``) ships
  as the default, so the Spark-side plumbing (binary columns, pandas-UDF
  batch shape, unpivot fan-out) is fully real and testable without pymate.
* ``float(value)`` coercion (F6, :217): pymate values stringify as
  ``"27.4V"`` / ``"3.2kWh"`` / ``"100%"`` — only the leading numeric
  magnitude is stored. ``magnitude()`` implements that as a JVM-side
  regexp (codegen, no Python).

Scale notes: the epoch extraction and payload slicing are pure built-in
column expressions (whole-stage codegen); only the payload→fields decode
crosses into Python, as an Arrow-batched pandas UDF — one Python call per
~10k packets, not per packet (the reference pays one Python callback per
message). The unpivot fan-out (one packet → N points, T2) is
``explode(map)`` on the JVM.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

TIME_PACKET_SIZE = 4  # reference: src/helpers/consts.py:15

# Per-measurement channel schemas, exactly the reference's decoded field
# sets (tests/config/consts.py:60-138), alphabetical like dict listings.
FX_FIELDS = (
    "ac_mode", "aux_on", "battery_voltage", "buy_current", "chg_current",
    "error_mode", "input_voltage", "inverter_current", "is_230v", "misc",
    "operational_mode", "output_voltage", "sell_current", "warnings",
)
MX_FIELDS = (
    "amp_hours", "aux_mode", "aux_state", "bat_current", "bat_voltage",
    "errors", "kilowatt_hours", "pv_current", "pv_voltage", "status",
)
DC_FIELDS = (
    "bat_ah_today", "bat_current", "bat_kwh_today", "bat_net_ah",
    "bat_net_kwh", "bat_power", "bat_voltage", "days_since_full", "flags",
    "in_ah_today", "in_current", "in_kwh_today", "in_power",
    "min_soc_today", "out_ah_today", "out_current", "out_kwh_today",
    "out_power", "shunta_ah_today", "shunta_current", "shunta_kwh_today",
    "shunta_power", "shuntb_ah_today", "shuntb_current",
    "shuntb_kwh_today", "shuntb_power", "shuntc_ah_today",
    "shuntc_current", "shuntc_kwh_today", "shuntc_power",
    "state_of_charge",
)
MEASUREMENT_FIELDS: dict[str, tuple[str, ...]] = {
    "dc-1": DC_FIELDS,   # 31 channels
    "fx-1": FX_FIELDS,   # 14 channels
    "mx-1": MX_FIELDS,   # 10 channels
}

# Per-type trailing padding the reference strips (mqtt_classes.py:237,254,271).
PADDING_AT_END = {"dc-1": 3, "fx-1": 2, "mx-1": 2}


def detach_time(msg: bytes, padding_at_end: int = 0) -> tuple[int, bytes]:
    """Split a packet into (epoch seconds, payload) — reference F1.

    Matches ``mqtt_classes.py:28-38`` bit-for-bit on its golden fixture,
    including the little-endian ``struct.unpack("i", ...)`` read. The
    reference's ``padding_at_end=0`` empty-slice bug (``msg[4:-0]`` →
    ``b""``, SURVEY §2.11.5) is corrected: 0 means "no trailing padding".
    """
    (epoch,) = struct.unpack("<i", bytes(msg[:TIME_PACKET_SIZE]))
    end = len(msg) - padding_at_end
    return epoch, bytes(msg[TIME_PACKET_SIZE:end])


def epoch_expr(payload_col: str = "payload") -> Column:
    """Column expr: little-endian epoch int32 from the packet's first 4
    bytes, JVM-side. ``hex()`` renders the bytes in order; reordering the
    four hex byte-pairs reverses endianness, then ``conv(base16, base10)``
    yields the epoch. Stays inside whole-stage codegen — no Python."""
    h = F.hex(F.substring(F.col(payload_col), 1, TIME_PACKET_SIZE))
    le = F.concat(
        F.substring(h, 7, 2), F.substring(h, 5, 2),
        F.substring(h, 3, 2), F.substring(h, 1, 2),
    )
    return F.conv(le, 16, 10).cast("long")


def body_expr(payload_col: str = "payload", padding_col: str = "padding") -> Column:
    """Column expr: payload minus 4-byte time prefix and trailing padding."""
    return F.expr(
        f"substring({payload_col}, {TIME_PACKET_SIZE + 1}, "
        f"length({payload_col}) - {TIME_PACKET_SIZE} - {padding_col})"
    )


# ---------------------------------------------------------------------------
# Pluggable decoder registry (reference F2-F4)
# ---------------------------------------------------------------------------

Decoder = Callable[[bytes], dict]


def _codec_decoder(fields: tuple[str, ...]) -> Decoder:
    """Default decoder: payload is the channels' float64 values packed
    little-endian in field order (the deterministic stand-in codec).

    The ``codec_size`` attribute marks it bulk-decodable: the pandas UDF
    below then decodes a whole Arrow batch with one ``np.frombuffer``
    reshape instead of per-row ``struct.unpack`` calls."""
    fmt = f"<{len(fields)}d"
    size = struct.calcsize(fmt)

    def _decode(payload: bytes) -> dict:
        values = struct.unpack(fmt, bytes(payload[:size]))
        return dict(zip(fields, values))

    _decode.codec_size = size  # type: ignore[attr-defined]
    return _decode


def encode_packet(
    measurement: str,
    epoch: int,
    values: dict[str, float],
    with_padding: bool = True,
) -> bytes:
    """Inverse of the default codec: build a binary packet the way the
    device would — 4-byte little-endian epoch, packed channel values,
    per-type trailing padding bytes. Used by tests and the synthetic
    stream generator; a real deployment swaps in pymate via
    ``register_decoder``."""
    fields = MEASUREMENT_FIELDS[measurement]
    body = struct.pack(
        f"<{len(fields)}d", *(float(values[f]) for f in fields)
    )
    pad = b"\x00" * (PADDING_AT_END[measurement] if with_padding else 0)
    return struct.pack("<i", epoch) + body + pad


def synthetic_packet_udf(measurement: str):
    """Arrow-batched packet builder for tests/benchmarks: (epoch, base)
    → a wire-format packet whose channel i carries ``base + i``. Lets an
    oracle recompute the decode fan-out without touching bytes.

    Encoding is one numpy structured-array write per batch (header +
    channels + zeroed padding laid out by dtype), not per-row
    ``struct.pack``."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    n = len(MEASUREMENT_FIELDS[measurement])
    pad = PADDING_AT_END[measurement]
    layout = [("epoch", "<i4"), ("vals", "<f8", (n,))]
    if pad:
        layout.append(("pad", f"V{pad}"))
    dtype = np.dtype(layout)

    @pandas_udf(BinaryType())
    def _encode(epoch: pd.Series, base: pd.Series) -> pd.Series:
        rec = np.zeros(len(epoch), dtype=dtype)
        rec["epoch"] = epoch.to_numpy()
        rec["vals"] = base.to_numpy(dtype=np.float64)[:, None] + np.arange(n)[None, :]
        buf, stride = rec.tobytes(), dtype.itemsize
        return pd.Series(
            [buf[i * stride : (i + 1) * stride] for i in range(len(epoch))]
        )

    return _encode


DECODERS: dict[str, Decoder] = {
    m: _codec_decoder(f) for m, f in MEASUREMENT_FIELDS.items()
}


def register_decoder(measurement: str, decoder: Decoder) -> None:
    """Plug in a real packet decoder (e.g. pymate's
    ``DCStatusPacket.from_buffer``) for one measurement."""
    DECODERS[measurement] = decoder


def magnitude(col: Column) -> Column:
    """Leading-numeric-magnitude coercion — reference F6 ``float(value)``
    over pymate stringified values (``"27.4V"`` → 27.4, ``"100%"`` → 100).
    JVM regexp; nulls on non-numeric."""
    return F.regexp_extract(col.cast("string"), r"^-?\d*\.?\d+", 0).try_cast("double")


def _coerce(value) -> float | None:
    """Python-side twin of ``magnitude`` for decoder outputs (handles
    pymate Value objects, bools, ints, "27.4V" strings)."""
    try:
        return float(value)
    except (TypeError, ValueError):
        pass
    s = str(value)
    num = ""
    for ch in s:
        if ch.isdigit() or (ch == "-" and not num) or (ch == "." and "." not in num):
            num += ch
        else:
            break
    try:
        return float(num)
    except ValueError:
        return None


def make_decode_values_udf(decoders: dict[str, Decoder] | None = None):
    """Build the Arrow-batched payload-decode UDF over a SNAPSHOT of the
    decoder registry: (measurement, body bytes) → channel values in
    ``MEASUREMENT_FIELDS`` order. Decode failures yield null (reference
    T8: errors are isolated, the pipeline never dies —
    ``mqtt_classes.py:289-296``).

    The snapshot matters for distribution: Spark's Python workers import
    this module themselves, so a UDF that read the module-level
    ``DECODERS`` at execution time would see each worker's own pristine
    copy — ``register_decoder`` calls on the driver would silently not
    propagate (reused workers never re-import). Closing over a dict
    value makes the active registry part of the serialized closure
    instead.

    Default-codec measurements take the bulk path: the batch's payloads
    are concatenated and decoded with a single ``np.frombuffer`` reshape
    — no per-row struct calls. Custom registered decoders fall back to
    per-row dict decode + coercion."""
    snapshot = dict(DECODERS if decoders is None else decoders)

    @pandas_udf(ArrayType(DoubleType()))
    def decode_values(measurement: pd.Series, body: pd.Series) -> pd.Series:
        import numpy as np

        out: list = [None] * len(measurement)
        ms = measurement.to_numpy()
        for m in pd.unique(ms):
            dec, fields = snapshot.get(m), MEASUREMENT_FIELDS.get(m)
            if dec is None:
                continue
            idx = np.nonzero(ms == m)[0]
            size = getattr(dec, "codec_size", None)
            if size is not None:
                good = [
                    i for i in idx
                    if body.iat[i] is not None and len(body.iat[i]) == size
                ]
                if not good:
                    continue
                buf = b"".join(bytes(body.iat[i]) for i in good)
                vals = np.frombuffer(buf, dtype="<f8").reshape(len(good), -1)
                for j, i in enumerate(good):
                    out[i] = vals[j]
            else:
                for i in idx:
                    b = body.iat[i]
                    if b is None:
                        continue
                    try:
                        raw = dec(bytes(b))
                    except Exception:
                        continue
                    keys = fields if fields is not None else tuple(raw)
                    row = [_coerce(raw.get(k)) for k in keys]
                    out[i] = [
                        None if (v is not None and math.isnan(v)) else v
                        for v in row
                    ]
        return pd.Series(out)

    return decode_values


def field_names_map() -> Column:
    """Literal measurement → channel-name-array map (JVM-side), so the
    unpivot attaches field names without Python."""
    entries = []
    for m, fields in MEASUREMENT_FIELDS.items():
        entries.append(F.lit(m))
        entries.append(F.array(*[F.lit(f) for f in fields]))
    return F.create_map(*entries)


def decode_packets(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Full decode pipeline over a (measurement, payload) DataFrame —
    batch or streaming identically.

    epoch/body extraction is codegen'd JVM work; only the byte-level
    field decode crosses to Python (Arrow batches, bulk numpy for the
    default codec); the unpivot fan-out (T2: one packet → N single-field
    points) is ``posexplode`` back on the JVM, with field names resolved
    from a literal map. Output: ``(measurement, ts, field, value)`` —
    the engine's canonical point schema (SURVEY §1.3).

    Custom decoders registered via ``register_decoder`` must emit the
    measurement's registered field set (extra keys are ignored, missing
    keys become null values).
    """
    padding_map = F.create_map(
        *[x for m, p in PADDING_AT_END.items() for x in (F.lit(m), F.lit(p))]
    )
    decoded = (
        df.withColumn("_pad", F.coalesce(padding_map[F.col("measurement")], F.lit(0)))
        .withColumn("ts", F.timestamp_seconds(epoch_expr(payload_col)))
        .withColumn("_body", body_expr(payload_col, "_pad"))
        .withColumn(
            "_vals",
            make_decode_values_udf()(F.col("measurement"), F.col("_body")),
        )
    )
    # posexplode_outer, not posexplode + a _vals filter: Spark infers
    # ``isnotnull(_vals) AND size(_vals) > 0`` from an inner generator and
    # pushes it below the projection, evaluating the decode UDF twice
    return decoded.select(
        "measurement",
        "ts",
        F.posexplode_outer(F.col("_vals")).alias("_pos", "value"),
    ).filter(
        F.col("_pos").isNotNull()  # T8: drop undecodable rows
    ).select(
        "measurement",
        "ts",
        F.element_at(field_names_map()[F.col("measurement")], F.col("_pos") + 1).alias(
            "field"
        ),
        "value",
    )
