"""Minimal Avro binary codec + Confluent wire framing (pure Python).

Implements the subset of the public Avro 1.x binary encoding the engine
needs (spec: avro.apache.org/docs/current/specification):

- zigzag-varint longs, length-prefixed bytes/strings, IEEE little-endian
  float/double, single-byte booleans
- ``map<bytes>`` — the reference's fixed metadata schema
  (`MetadataSerializer.java:56`), encoded as one block with **key-sorted**
  entries (canonical order, `MetadataSerializer.java:80`)
- flat records of primitive / ``["null", primitive]`` fields — enough for
  payload round-trips like the reference's TestPayload
  (`TestPayload.java:12-13`)

plus the Confluent wire format (magic byte 0 + big-endian int32 schema id +
Avro body) that the reference's serializers emit
(`PostgresEventStoreAutoConfiguration.java:53-57`). spark-avro's
`from_avro`/`to_avro` never speak this framing, and the module jar is not
bundled here — so the engine owns both framing and body.

Used driver-side for golden vectors and inside Arrow-batched pandas UDFs for
the dataframe hot path (the only Python-side per-row work in the engine:
serde + crypto, exactly the parts the reference also runs as per-record
library code).
"""

from __future__ import annotations

import io
import json
import struct
from collections.abc import Callable

CONFLUENT_MAGIC = b"\x00"


# ------------------------------------------------------------ primitives

def encode_long(n: int) -> bytes:
    """Avro long: zigzag + varint."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise ValueError("truncated varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def encode_bytes(b: bytes) -> bytes:
    return encode_long(len(b)) + b


def decode_bytes(buf: io.BytesIO) -> bytes:
    n = decode_long(buf)
    out = buf.read(n)
    if len(out) != n:
        raise ValueError("truncated bytes")
    return out


def encode_string(s: str) -> bytes:
    return encode_bytes(s.encode("utf-8"))


def decode_string(buf: io.BytesIO) -> str:
    return decode_bytes(buf).decode("utf-8")


# ------------------------------------------------------------- map<bytes>

def java_string_order(key: str) -> bytes:
    """Sort key matching Java ``String.compareTo`` (UTF-16 code units).

    Python's default string sort compares CODE POINTS, Java's compares
    UTF-16 units — they disagree for keys above the BMP (a supplementary
    character's surrogates D800.. sort BELOW E000.. privates in Java but
    above in code-point order). Canonical layouts that must be byte-equal
    with the reference's TreeMap sort with this key."""
    return key.encode("utf-16-be")


def encode_map_bytes(d: dict[str, bytes] | None) -> bytes:
    """Canonical Avro ``map<bytes>``: one key-sorted block + 0 terminator.

    Key sorting mirrors the reference's TreeMap canonicalization
    (`MetadataSerializer.java:75-91`) — Java UTF-16-unit order, see
    :func:`java_string_order`; an empty/None map encodes as the empty map
    (single 0 byte).
    """
    if not d:
        return encode_long(0)
    out = bytearray(encode_long(len(d)))
    for k in sorted(d, key=java_string_order):
        v = d[k]
        if not isinstance(v, (bytes, bytearray)):
            raise TypeError(f"metadata value for {k!r} must be bytes")
        out += encode_string(k)
        out += encode_bytes(bytes(v))
    out += encode_long(0)
    return bytes(out)


def decode_map_bytes(b: bytes) -> dict[str, bytes]:
    """Decode preserving stored (canonical) order — SequencedMap parity
    (`MetadataSerializer.java:100-113`)."""
    buf = io.BytesIO(b)
    out: dict[str, bytes] = {}
    while True:
        n = decode_long(buf)
        if n == 0:
            return out
        if n < 0:  # block with byte-size prefix
            n = -n
            decode_long(buf)
        for _ in range(n):
            k = decode_string(buf)
            out[k] = decode_bytes(buf)


# ------------------------------------------------------ confluent framing

def frame(schema_id: int, body: bytes) -> bytes:
    """Confluent wire format: magic 0x00 + int32 BE schema id + body."""
    return CONFLUENT_MAGIC + struct.pack(">i", schema_id) + body


def unframe(data: bytes) -> tuple[int, bytes]:
    if len(data) < 5 or data[0:1] != CONFLUENT_MAGIC:
        raise ValueError("not Confluent-framed data (missing magic byte)")
    return struct.unpack(">i", data[1:5])[0], data[5:]


# ---------------------------------------------------------- flat records

_PRIMITIVES = ("null", "boolean", "int", "long", "float", "double", "bytes", "string")


class RecordCodec:
    """Binary codec for flat Avro records (primitives + nullable unions)."""

    def __init__(self, schema: dict | str):
        self.schema = json.loads(schema) if isinstance(schema, str) else schema
        if self.schema.get("type") != "record":
            raise ValueError("RecordCodec handles record schemas")
        self.name = self.schema["name"]
        self.fields: list[tuple[str, object]] = [
            (f["name"], f["type"]) for f in self.schema["fields"]
        ]
        for _, t in self.fields:
            base = t[1] if isinstance(t, list) else t
            if isinstance(t, list) and (len(t) != 2 or t[0] != "null"):
                raise ValueError(f"only ['null', primitive] unions supported, got {t}")
            if base not in _PRIMITIVES:
                raise ValueError(f"unsupported field type {t}")

    # encoding per the Avro spec, field order = schema order
    def encode(self, record: dict) -> bytes:
        out = bytearray()
        for name, t in self.fields:
            v = record.get(name)
            if isinstance(t, list):  # ["null", base]
                if v is None:
                    out += encode_long(0)
                    continue
                out += encode_long(1)
                t = t[1]
            out += self._encode_value(t, v, name)
        return bytes(out)

    @staticmethod
    def _encode_value(t: str, v, name: str) -> bytes:
        if t == "null":
            return b""
        if v is None:
            raise ValueError(f"null value for non-nullable field {name}")
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t in ("int", "long"):
            return encode_long(int(v))
        if t == "float":
            return struct.pack("<f", float(v))
        if t == "double":
            return struct.pack("<d", float(v))
        if t == "bytes":
            return encode_bytes(bytes(v))
        if t == "string":
            return encode_string(str(v))
        raise ValueError(f"unsupported type {t}")

    def decode(self, data: bytes) -> dict:
        return self.decode_stream(io.BytesIO(data))

    def decode_stream(self, buf: io.BytesIO) -> dict:
        """Decode one record from an open stream, leaving the cursor at
        the next record — the shape Object Container File blocks need
        (records are back-to-back with no per-record length prefix)."""
        out = {}
        for name, t in self.fields:
            if isinstance(t, list):
                if decode_long(buf) == 0:
                    out[name] = None
                    continue
                t = t[1]
            out[name] = self._decode_value(t, buf)
        return out

    @staticmethod
    def _decode_value(t: str, buf: io.BytesIO):
        if t == "null":
            return None
        if t == "boolean":
            return buf.read(1) == b"\x01"
        if t in ("int", "long"):
            return decode_long(buf)
        if t == "float":
            return struct.unpack("<f", buf.read(4))[0]
        if t == "double":
            return struct.unpack("<d", buf.read(8))[0]
        if t == "bytes":
            return decode_bytes(buf)
        if t == "string":
            return decode_string(buf)
        raise ValueError(f"unsupported type {t}")


def projection(reader: RecordCodec, writer: RecordCodec) -> Callable[[dict], dict]:
    """Avro schema resolution from ``writer`` to ``reader``, resolved once
    per writer: the returned function maps one record the writer codec
    decoded to the reader's fields, in reader order.

    A reader field takes the writer field of its own name, else of its
    first declared alias (a rename); a field the writer lacks takes its
    Avro default (a ``bytes`` default is the JSON string's ISO-8859-1
    bytes, per the spec), or null if it is nullable; writer fields the
    reader lacks are dropped. A required reader field with none of these
    raises, naming the field."""
    present = {name for name, _ in writer.fields}
    plan: list[tuple[str, str | None, object]] = []
    for f in reader.schema["fields"]:
        name, t = f["name"], f["type"]
        src = next((k for k in (name, *f.get("aliases", ())) if k in present), None)
        if src is not None or (isinstance(t, list) and "default" not in f):
            plan.append((name, src, None))
        elif "default" in f:
            d = f["default"]
            base = t[1] if isinstance(t, list) else t
            plan.append((name, None, d.encode("latin-1")
                         if base == "bytes" and isinstance(d, str) else d))
        else:
            raise ValueError(
                f"reader field {name!r} is absent from writer schema "
                f"{writer.name} and has no default"
            )
    return lambda decoded: {
        name: default if src is None else decoded[src]
        for name, src, default in plan
    }
