"""Seeded framed-Avro weather backlog for the streaming workload.

Produces the wire shape the weather job reads (one magic byte, then an
Avro- or JSON-encoded ``WeatherData`` body) as parquet files with a
single ``value: binary`` column, one file per micro-batch. Everything
comes from one ``random.Random(seed)`` in one process, so a seed always
gives the same bytes, and file mtimes increase strictly so Spark's file
source orders the batches the same way every time.

The Avro encoder here is written from the Avro spec and shares no code
with the engine's codec, so a decode fault cannot hide behind an
identical encode fault.

Recorded shares (``Backlog.shares``): devices, events that arrive out of
order but within the job's 3.5 s watermark, events that arrive late
beyond it, v0/v1 writer schemas, and poison frames.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import struct
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_700_000_000_000
# fixed mtime base: only the order of the files matters to the source
MTIME_BASE = 1_700_000_000

V1_SCHEMA = {
    "type": "record",
    "name": "WeatherData",
    "fields": [
        {"name": "deviceId", "type": "string"},
        {"name": "timestamp", "type": "long"},
        {"name": "temperature", "type": ["null", "double"], "default": None},
        {"name": "humidity", "type": ["null", "double"], "default": None},
        {"name": "station", "type": ["null", "string"], "default": None},
    ],
}
V0_SCHEMA = {
    "type": "record",
    "name": "WeatherData",
    "fields": [
        {"name": "deviceId", "type": "string"},
        {"name": "timestamp", "type": "long"},
        {"name": "station", "type": ["null", "string"], "default": None},
    ],
}
WRONG_NAME_SCHEMA = {
    "type": "record",
    "name": "NotWeatherData",
    "fields": [
        {"name": "deviceId", "type": "string"},
        {"name": "timestamp", "type": "long"},
    ],
}
# magic byte -> writer schema, as the job's schema registry holds them
WRITER_SCHEMAS = {0: V0_SCHEMA, 1: V1_SCHEMA, 9: WRONG_NAME_SCHEMA}
UNKNOWN_MAGIC = 7


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_value(ftype, v) -> bytes:
    if isinstance(ftype, list):  # ["null", T]
        if v is None:
            return _zigzag(ftype.index("null"))
        return _zigzag(1 - ftype.index("null")) + _avro_value(ftype[1 - ftype.index("null")], v)
    if ftype == "long":
        return _zigzag(int(v))
    if ftype == "double":
        return struct.pack("<d", float(v))
    if ftype == "string":
        b = v.encode("utf-8")
        return _zigzag(len(b)) + b
    raise ValueError(f"unsupported Avro type {ftype!r}")


def avro_body(schema: dict, record: dict) -> bytes:
    return b"".join(_avro_value(f["type"], record.get(f["name"])) for f in schema["fields"])


def json_body(record: dict) -> bytes:
    return json.dumps({k: v for k, v in record.items() if v is not None}).encode()


@dataclass
class Backlog:
    """A generated backlog: per-batch frames in both encodings."""

    avro: list[list[bytes]]
    json: list[list[bytes]]
    good: int  # frames a correct decoder keeps (late ones included)
    shares: dict[str, float] = field(default_factory=dict)

    @property
    def frames(self) -> int:
        return sum(len(b) for b in self.avro)


def generate(
    seed: int,
    n_batches: int = 12,
    events_per_batch: int = 1500,
    n_devices: int = 300,
    batch_span_ms: int = 20_000,
    out_of_order: float = 0.10,
    late: float = 0.01,
    v0: float = 0.30,
    poison: float = 0.01,
) -> Backlog:
    """Generate ``n_batches`` micro-batches of weather frames.

    Event time advances ``batch_span_ms`` per batch. Each device is
    online or silent for exponential periods (means 15 s and 45 s); a
    silence longer than the job's 30 s presence gap yields an
    offline/online transition pair. Within a batch, an ``out_of_order``
    share of events is shifted back by up to 3 s (inside the 3.5 s
    watermark); a ``late`` share is stamped 10-60 s before the batch
    starts, behind the watermark the earlier batches set.
    """
    rng = random.Random(seed)
    devices = [f"dev-{i:04d}" for i in range(n_devices)]
    stations = {d: (None if rng.random() < 0.2 else f"st-{rng.randrange(40)}") for d in devices}
    # per-device on/off schedule: (online_from, online_until) spans
    horizon = n_batches * batch_span_ms
    online: dict[str, list[tuple[int, int]]] = {}
    for d in devices:
        t, spans = -rng.uniform(0, 60_000), []
        while t < horizon:
            on = rng.expovariate(1 / 15_000)
            spans.append((int(t), int(t + on)))
            t += on + rng.expovariate(1 / 45_000)
        online[d] = spans

    avro_batches: list[list[bytes]] = []
    json_batches: list[list[bytes]] = []
    counts = {"good": 0, "ooo": 0, "late": 0, "v0": 0, "poison": 0}
    for b in range(n_batches):
        lo = b * batch_span_ms
        avro_frames: list[bytes] = []
        json_frames: list[bytes] = []
        records = []
        while len(records) < events_per_batch:
            d = devices[rng.randrange(n_devices)]
            t = lo + rng.randrange(batch_span_ms)
            if not any(a <= t < z for a, z in online[d]):
                continue  # device silent at t
            kind = "ok"
            if b > 0 and rng.random() < late:
                t = lo - rng.randrange(10_000, 60_000)
                kind = "late"
            elif rng.random() < out_of_order:
                t -= rng.randrange(1, 3_000)
                kind = "ooo"
            records.append((t, kind, d))
        records.sort(key=lambda r: r[0] if r[1] == "ok" else r[0] + 3_000)
        for t, kind, d in records:
            counts["late" if kind == "late" else "ooo"] += kind != "ok"
            magic = 0 if rng.random() < v0 else 1
            counts["v0"] += magic == 0
            rec = {
                "deviceId": d,
                "timestamp": BASE_MS + t,
                "temperature": None if magic == 0 else round(rng.uniform(-10, 35), 2),
                "humidity": None if magic == 0 else round(rng.uniform(0, 1), 3),
                "station": stations[d],
            }
            avro_frames.append(bytes([magic]) + avro_body(WRITER_SCHEMAS[magic], rec))
            json_frames.append(bytes([magic]) + json_body(rec))
            counts["good"] += 1
            if rng.random() < poison:
                counts["poison"] += 1
                pick = rng.randrange(3)
                if pick == 0:  # registry miss
                    avro_frames.append(bytes([UNKNOWN_MAGIC]) + avro_body(V1_SCHEMA, rec))
                    json_frames.append(bytes([UNKNOWN_MAGIC]) + json_body(rec))
                elif pick == 1:  # writer schema of another record name
                    ghost = {"deviceId": d, "timestamp": BASE_MS + t}
                    avro_frames.append(bytes([9]) + avro_body(WRONG_NAME_SCHEMA, ghost))
                    json_frames.append(bytes([UNKNOWN_MAGIC]) + b'{"deviceId": "x"}')
                else:  # truncated body
                    avro_frames.append(b"\x01\xff\xff\xff")
                    json_frames.append(b"\x01{not json")
        avro_batches.append(avro_frames)
        json_batches.append(json_frames)

    n_events = counts["good"]
    shares = {
        "devices": float(n_devices),
        "out_of_order": counts["ooo"] / n_events,
        "late": counts["late"] / n_events,
        "v0": counts["v0"] / n_events,
        "v1": 1 - counts["v0"] / n_events,
        "poison": counts["poison"] / (n_events + counts["poison"]),
    }
    return Backlog(avro_batches, json_batches, n_events, shares)


def write_batches(dirname: str, batches: list[list[bytes]]) -> str:
    """One parquet file per batch, with strictly increasing mtimes.

    Spark's file source orders new files by modification time; files
    written milliseconds apart can tie, and the tie-break would then
    decide the batch order, which changes stateful results.
    """
    shutil.rmtree(dirname, ignore_errors=True)
    os.makedirs(dirname)
    for i, frames in enumerate(batches):
        path = os.path.join(dirname, f"batch-{i:05d}.parquet")
        pq.write_table(pa.table({"value": pa.array(frames, type=pa.binary())}), path)
        os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
    return dirname
