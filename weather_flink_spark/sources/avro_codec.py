"""Minimal Avro binary codec for flat records (pure Python, stdlib only).

Re-implements, from the Avro 1.11 spec, exactly the subset the
reference's wire format needs (SURVEY.md §1.1/§1.3 — flat
``WeatherData`` records of primitives and nullable primitives):

- primitives: null, boolean, int, long (zigzag varint), float, double,
  string, bytes
- unions of the ``["null", T]`` shape (nullable fields)
- records with named fields (no nesting needed by the reference model)
- writer→reader schema resolution: fields matched by name, reader
  defaults for fields the writer lacks, writer fields unknown to the
  reader skipped — mirroring Avro's resolving decoder used at
  WeatherKafkaAvroDeserializerSchema.java:53.

The job depends on neither a spark-avro JAR nor an Avro wheel: this
codec is the Avro decode of the framed-Kafka source
(``sources/framed.decode_framed_avro``) on every deployment, and the
encoder writes the test fixtures.
"""

from __future__ import annotations

import io
import struct
from dataclasses import dataclass
from typing import Any

# ---------------------------------------------------------------------------
# varint / zigzag primitives
# ---------------------------------------------------------------------------


def _write_long(out: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while (n & ~0x7F) != 0:
        out.write(bytes([(n & 0x7F) | 0x80]))
        n >>= 7
    out.write(bytes([n]))


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


# ---------------------------------------------------------------------------
# schema model
# ---------------------------------------------------------------------------

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "string", "bytes"}


@dataclass(frozen=True)
class Field:
    name: str
    type: Any  # primitive name or ["null", primitive]
    default: Any = None
    has_default: bool = False


@dataclass(frozen=True)
class RecordSchema:
    name: str
    fields: tuple[Field, ...]

    @staticmethod
    def parse(schema: dict) -> "RecordSchema":
        if schema.get("type") != "record":
            raise ValueError(f"only record schemas supported, got {schema.get('type')!r}")
        fields = []
        for f in schema["fields"]:
            ftype = f["type"]
            if isinstance(ftype, list):
                if len(ftype) != 2 or "null" not in ftype:
                    raise ValueError(f"only ['null', T] unions supported: {ftype}")
            elif ftype not in _PRIMITIVES:
                raise ValueError(f"unsupported field type {ftype!r}")
            fields.append(
                Field(f["name"], ftype, f.get("default"), has_default="default" in f)
            )
        return RecordSchema(schema["name"], tuple(fields))


# ---------------------------------------------------------------------------
# encode / decode
# ---------------------------------------------------------------------------


def _write_value(out: io.BytesIO, ftype: Any, v: Any) -> None:
    if isinstance(ftype, list):  # nullable union
        other = ftype[1] if ftype[0] == "null" else ftype[0]
        if v is None:
            _write_long(out, ftype.index("null"))
        else:
            _write_long(out, 1 - ftype.index("null"))
            _write_value(out, other, v)
        return
    if ftype == "null":
        return
    if ftype == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif ftype in ("int", "long"):
        _write_long(out, int(v))
    elif ftype == "float":
        out.write(struct.pack("<f", float(v)))
    elif ftype == "double":
        out.write(struct.pack("<d", float(v)))
    elif ftype == "string":
        b = str(v).encode("utf-8")
        _write_long(out, len(b))
        out.write(b)
    elif ftype == "bytes":
        _write_long(out, len(v))
        out.write(bytes(v))
    else:
        raise ValueError(f"unsupported type {ftype!r}")


def _read_value(buf: io.BytesIO, ftype: Any) -> Any:
    if isinstance(ftype, list):
        idx = _read_long(buf)
        branch = ftype[idx]
        return None if branch == "null" else _read_value(buf, branch)
    if ftype == "null":
        return None
    if ftype == "boolean":
        return buf.read(1) == b"\x01"
    if ftype in ("int", "long"):
        return _read_long(buf)
    if ftype == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if ftype == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if ftype == "string":
        n = _read_long(buf)
        raw = buf.read(n)
        if len(raw) != n:
            raise EOFError("truncated string")
        return raw.decode("utf-8")
    if ftype == "bytes":
        n = _read_long(buf)
        return buf.read(n)
    raise ValueError(f"unsupported type {ftype!r}")


def encode_record(schema: RecordSchema, record: dict) -> bytes:
    out = io.BytesIO()
    for f in schema.fields:
        _write_value(out, f.type, record.get(f.name))
    return out.getvalue()


def decode_record(
    writer: RecordSchema, reader: RecordSchema, payload: bytes
) -> dict:
    """Avro resolving decode: writer order on the wire, reader's view out.

    Mirrors SpecificDatumReader(writerSchema, readerSchema): writer
    fields are decoded in writer order; reader-only fields fall back to
    their defaults (error if none); writer-only fields are decoded and
    discarded.
    """
    buf = io.BytesIO(payload)
    decoded: dict[str, Any] = {}
    for f in writer.fields:
        decoded[f.name] = _read_value(buf, f.type)
    result: dict[str, Any] = {}
    for f in reader.fields:
        if f.name in decoded:
            result[f.name] = decoded[f.name]
        elif f.has_default:
            result[f.name] = f.default
        else:
            raise ValueError(f"field {f.name!r} missing and has no default")
    return result
