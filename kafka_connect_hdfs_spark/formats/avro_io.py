"""Dependency-free Avro Object Container File writer/reader.

The reference's primary format is Avro (O1: avro/AvroRecordWriterProvider.java
:50-103 — DataFileWriter with codec from ``avro.codec``, schema bound at the
first record per file; O5: avro/AvroFileReader.java:42-53 — schema recovered
from the container header). This container image has no spark-avro module and
no avro Python package, so this module implements the public Avro 1.x
container spec directly from the specification (magic ``Obj\\x01``, metadata
map with ``avro.schema``/``avro.codec``, 16-byte sync markers, zigzag-varint
binary encoding) — enough to land Spark rows as valid .avro files and read
them back, schema included.

Codecs: ``null`` (reference default), ``deflate`` (raw RFC-1951 via zlib),
``snappy`` (pure-Python literal-only encoder + full block decoder with the
spec's big-endian CRC32 trailer — closing the last ``avro.codec``
enumeration gap, avro/AvroRecordWriterProvider.java:69), and ``bzip2`` —
the spec-mandated set (avro.codec test:
DataWriterAvroTest.testAvroCompression:405-442).

Encoding: ``compile_encoder`` turns a schema into one closure per schema
node, built once per container; ``write_container`` encodes every datum
through it. ``_encode_value`` is the spec-literal interpreter the compiled
encoders are tested byte-for-byte against.

Atomicity: ``write_container`` writes a hidden temporary file beside the
target and renames it into place only once the container is closed, so a
killed writer never leaves a truncated ``.avro`` file for a reader or a
commit glob to pick up. The sync marker is derived from the final path.

Scale note: files are written per Spark partition on the executors
(``mapInArrow`` in ``sinks.PurePythonAvroSink``) — the driver never sees row
data. On a real cluster with spark-avro on the classpath,
``sinks.build_sink`` uses the JVM writer instead; this pure-Python path is
the fallback that keeps Avro parity runnable anywhere.
"""

from __future__ import annotations

import datetime
import io
import json
import os
import struct
import uuid
import zlib
from hashlib import md5

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# binary primitives (Avro spec §"Binary encoding")


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


_ONE_BYTE = [bytes([b]) for b in range(0x80)]


def _varint(n: int) -> bytes:
    """The zigzag varint of ``n`` (a ``long``/``int`` datum)."""
    z = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    if z < 0x80:
        return _ONE_BYTE[z]
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def write_long(buf: io.BytesIO, n: int) -> None:
    buf.write(_varint(n))


def read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return _unzigzag(acc)


def write_bytes(buf: io.BytesIO, b: bytes) -> None:
    write_long(buf, len(b))
    buf.write(b)


def read_bytes(buf: io.BytesIO) -> bytes:
    return buf.read(read_long(buf))


# ---------------------------------------------------------------------------
# snappy block codec (r10 VERDICT item 7) — pure Python, no dependency.
# Avro's `snappy` codec is a raw snappy BLOCK (not the framed stream)
# followed by the 4-byte BIG-endian CRC32 of the UNCOMPRESSED data
# (Avro spec §"snappy" / Java SnappyCodec). The encoder is literal-only
# — valid snappy by construction (the format permits any literal/copy
# mix; compressors differ only in ratio) — while the decoder handles the
# FULL element grammar (all four tags, overlapping copies), so blocks
# written by real snappy libraries (spark-avro, python-snappy) read
# back correctly.


def _snappy_compress(data: bytes) -> bytes:
    out = bytearray()
    n = len(data)
    while True:  # preamble: uncompressed length, little-endian varint
        b = n & 0x7F
        n >>= 7
        out.append(b | 0x80 if n else b)
        if not n:
            break
    pos = 0
    while pos < len(data):
        chunk = data[pos:pos + (1 << 24) - 1]
        ln = len(chunk)
        if ln <= 60:
            out.append((ln - 1) << 2)
        elif ln <= 256:
            out.append(60 << 2)
            out.append(ln - 1)
        elif ln <= 65536:
            out.append(61 << 2)
            out += (ln - 1).to_bytes(2, "little")
        else:
            out.append(62 << 2)
            out += (ln - 1).to_bytes(3, "little")
        out += chunk
        pos += ln
    return bytes(out)


def _snappy_decompress(data: bytes) -> bytes:
    pos, n, shift = 0, 0, 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy: truncated preamble")
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 32:
            raise ValueError("snappy: preamble varint too long")
    out = bytearray()
    ln_data = len(data)
    while pos < ln_data:
        tag = data[pos]
        pos += 1
        t = tag & 3
        if t == 0:  # literal
            ln = (tag >> 2) + 1
            if ln > 60:
                nb = ln - 60
                if pos + nb > ln_data:
                    raise ValueError("snappy: truncated literal length")
                ln = int.from_bytes(data[pos:pos + nb], "little") + 1
                pos += nb
            if pos + ln > ln_data:
                raise ValueError("snappy: truncated literal")
            out += data[pos:pos + ln]
            pos += ln
            continue
        if t == 1:  # copy, 1-byte offset (3-bit length 4..11)
            if pos >= ln_data:
                raise ValueError("snappy: truncated copy1")
            ln = ((tag >> 2) & 0x7) + 4
            off = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif t == 2:  # copy, 2-byte little-endian offset
            if pos + 2 > ln_data:
                raise ValueError("snappy: truncated copy2")
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte little-endian offset
            if pos + 4 > ln_data:
                raise ValueError("snappy: truncated copy4")
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy: copy offset out of range")
        if off >= ln:  # disjoint: one slice append
            start = len(out) - off
            out += out[start:start + ln]
        else:  # overlapping copy runs byte-wise by definition
            for _ in range(ln):
                out.append(out[-off])
    if len(out) != n:
        raise ValueError(
            f"snappy: decoded length {len(out)} != preamble {n}"
        )
    return bytes(out)


# ---------------------------------------------------------------------------
# schema mapping: Spark StructType ↔ Avro record schema


def struct_to_avro_schema(schema, name: str = "record0") -> dict:
    """StructField → Avro field; nullable → union [null, T] with null default
    (the same mapping AvroData applies to optional Connect fields)."""
    return {
        "type": "record",
        "name": name,
        "fields": [
            {
                "name": f.name,
                "type": (["null", _avro_type(f.dataType)] if f.nullable else _avro_type(f.dataType)),
                **({"default": None} if f.nullable else {}),
            }
            for f in schema.fields
        ],
    }


def _avro_type(dt):
    s = dt.simpleString()
    if s.startswith("decimal("):
        # Connect decimal pass-through (SURVEY §1.2): bytes + logicalType
        # decimal with precision/scale, matching AvroData's mapping.
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if s == "bigint":
        return "long"
    if s == "int":
        return "int"
    if s in ("smallint", "tinyint"):
        return "int"
    if s == "double":
        return "double"
    if s == "float":
        return "float"
    if s == "string":
        return "string"
    if s == "boolean":
        return "boolean"
    if s == "binary":
        return "bytes"
    if s == "timestamp":
        return {"type": "long", "logicalType": "timestamp-micros"}
    if s == "timestamp_ntz":
        # Spark 4 reads parquet timestamps without isAdjustedToUTC as NTZ;
        # Avro 1.10+ spec maps that to local-timestamp-micros.
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if s == "date":
        return {"type": "int", "logicalType": "date"}
    if s.startswith("array<"):
        return {"type": "array", "items": _avro_type(dt.elementType)}
    raise TypeError(f"unsupported Spark type for avro: {s}")


def avro_to_struct(avro_schema: dict):
    from pyspark.sql import types as T

    def f_type(t):
        if isinstance(t, list):  # union [null, X]
            inner = [x for x in t if x != "null"][0]
            return f_type(inner)
        if isinstance(t, dict):
            lt = t.get("logicalType")
            if lt == "timestamp-micros":
                return T.TimestampType()
            if lt == "local-timestamp-micros":
                return T.TimestampNTZType()
            if lt == "date":
                return T.DateType()
            if lt == "decimal":
                return T.DecimalType(t["precision"], t["scale"])
            if t.get("type") == "array":
                return T.ArrayType(f_type(t["items"]))
            return f_type(t["type"])
        return {
            "long": T.LongType(),
            "int": T.IntegerType(),
            "double": T.DoubleType(),
            "float": T.FloatType(),
            "string": T.StringType(),
            "boolean": T.BooleanType(),
            "bytes": T.BinaryType(),
        }[t]

    if not (isinstance(avro_schema, dict) and avro_schema.get("type") == "record"):
        # top-level primitive schema (NonRecordContainer unwrap,
        # avro/AvroRecordWriterProvider.java:79-85): single column "value"
        return T.StructType([T.StructField("value", f_type(avro_schema), True)])
    return T.StructType(
        [
            T.StructField(f["name"], f_type(f["type"]), isinstance(f["type"], list))
            for f in avro_schema["fields"]
        ]
    )


# ---------------------------------------------------------------------------
# datum encode/decode


def _encode_value(buf: io.BytesIO, t, v) -> None:
    """Spec-literal interpreter for one datum: the reference output that
    ``compile_encoder`` is tested against byte for byte."""
    if isinstance(t, list):  # union [null, T]
        if v is None:
            write_long(buf, 0)
            return
        write_long(buf, 1)
        _encode_value(buf, [x for x in t if x != "null"][0], v)
        return
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            if hasattr(v, "timestamp"):
                # naive datetimes are UTC wall time by convention (decode
                # returns the same); integer arithmetic — no float rounding
                if v.tzinfo is not None:
                    v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                us = (v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
            else:
                us = int(v)
            write_long(buf, us)
            return
        if lt == "date":
            write_long(buf, v.toordinal() - 719163 if hasattr(v, "toordinal") else int(v))
            return
        if lt == "decimal":
            unscaled = int(v.scaleb(t["scale"]).to_integral_value())
            nbytes = max(1, (unscaled.bit_length() + 8) // 8)
            write_bytes(buf, unscaled.to_bytes(nbytes, "big", signed=True))
            return
        if t.get("type") == "array":
            if v:
                write_long(buf, len(v))
                for item in v:
                    _encode_value(buf, t["items"], item)
            write_long(buf, 0)
            return
        _encode_value(buf, t["type"], v)
        return
    if t == "long" or t == "int":
        write_long(buf, int(v))
    elif t == "double":
        buf.write(struct.pack("<d", float(v)))
    elif t == "float":
        buf.write(struct.pack("<f", float(v)))
    elif t == "string":
        write_bytes(buf, v.encode("utf-8"))
    elif t == "bytes":
        write_bytes(buf, bytes(v))
    elif t == "boolean":
        buf.write(b"\x01" if v else b"\x00")
    elif t == "null":
        pass
    else:
        raise TypeError(f"unsupported avro type {t!r}")


_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_UTC = _EPOCH.replace(tzinfo=datetime.timezone.utc)
_MICROSECOND = datetime.timedelta(microseconds=1)
_PACK_DOUBLE = struct.Struct("<d").pack
_PACK_FLOAT = struct.Struct("<f").pack


def compile_encoder(t):
    """Datum → bytes for schema ``t``, resolved once: the type dispatch of
    ``_encode_value`` happens here, not per value, and the output is
    byte-identical to it. A ``record`` schema encodes a mapping by field
    name (the container's top level)."""
    if isinstance(t, list):  # union [null, T]: branch 0 for None, else 1
        inner = compile_encoder([x for x in t if x != "null"][0])
        return lambda v: b"\x00" if v is None else b"\x02" + inner(v)
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            def timestamp(v):
                if hasattr(v, "timestamp"):
                    # naive datetimes are UTC wall time, as in _encode_value
                    epoch = _EPOCH if v.tzinfo is None else _EPOCH_UTC
                    return _varint((v - epoch) // _MICROSECOND)
                return _varint(int(v))
            return timestamp
        if lt == "date":
            return lambda v: _varint(
                v.toordinal() - 719163 if hasattr(v, "toordinal") else int(v)
            )
        if lt == "decimal":
            scale = t["scale"]

            def decimal(v):
                unscaled = int(v.scaleb(scale).to_integral_value())
                raw = unscaled.to_bytes(
                    max(1, (unscaled.bit_length() + 8) // 8), "big", signed=True
                )
                return _varint(len(raw)) + raw
            return decimal
        if t.get("type") == "array":
            item = compile_encoder(t["items"])

            def array(v):
                if not v:
                    return b"\x00"
                return _varint(len(v)) + b"".join([item(x) for x in v]) + b"\x00"
            return array
        if t.get("type") == "record":
            fields = [(f["name"], compile_encoder(f["type"])) for f in t["fields"]]
            return lambda row: b"".join([enc(row[name]) for name, enc in fields])
        return compile_encoder(t["type"])
    if t in ("long", "int"):
        return lambda v: _varint(int(v))
    if t == "double":
        return lambda v: _PACK_DOUBLE(float(v))
    if t == "float":
        return lambda v: _PACK_FLOAT(float(v))
    if t == "string":
        def string(v):
            raw = v.encode("utf-8")
            return _varint(len(raw)) + raw
        return string
    if t == "bytes":
        def binary(v):
            raw = bytes(v)
            return _varint(len(raw)) + raw
        return binary
    if t == "boolean":
        return lambda v: b"\x01" if v else b"\x00"
    if t == "null":
        return lambda v: b""
    raise TypeError(f"unsupported avro type {t!r}")


def _decode_value(buf: io.BytesIO, t):
    if isinstance(t, list):
        idx = read_long(buf)
        branch = t[idx]
        return None if branch == "null" else _decode_value(buf, branch)
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            us = read_long(buf)
            # integer arithmetic, symmetric with encode: naive UTC wall time
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)
        if lt == "date":
            return datetime.date.fromordinal(read_long(buf) + 719163)
        if lt == "decimal":
            import decimal as _decimal

            n = int.from_bytes(read_bytes(buf), "big", signed=True)
            return _decimal.Decimal(n).scaleb(-t["scale"])
        if t.get("type") == "array":
            out = []
            while True:
                n = read_long(buf)
                if n == 0:
                    break
                if n < 0:  # block with byte size prefix
                    n = -n
                    read_long(buf)
                for _ in range(n):
                    out.append(_decode_value(buf, t["items"]))
            return out
        return _decode_value(buf, t["type"])
    if t == "long":
        return read_long(buf)
    if t == "int":
        return read_long(buf)
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "string":
        return read_bytes(buf).decode("utf-8")
    if t == "bytes":
        return read_bytes(buf)
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t == "null":
        return None
    raise TypeError(f"unsupported avro type {t!r}")


# ---------------------------------------------------------------------------
# container file


def write_container(
    out_path: str, avro_schema: dict, rows, codec: str = "null", block_records: int = 1000
) -> int:
    """Write an Avro Object Container File; returns the record count.

    ``rows`` are mappings by field name for a record schema, bare values
    for a primitive one (NonRecordContainer unwrap). The file is written
    under a hidden temporary name in the same directory and renamed to
    ``out_path`` only once closed; on an error the temporary file is
    removed. Sync marker is md5(out_path) — deterministic, so re-running an
    idempotent task attempt produces byte-identical files (the same
    property the reference gets from offset-encoded filenames, F5/W2).
    """
    encode = compile_encoder(avro_schema)
    sync = md5(out_path.encode()).digest()
    head, name = os.path.split(out_path)
    tmp_path = os.path.join(head, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    n = 0
    try:
        with open(tmp_path, "wb") as fh:
            fh.write(MAGIC)
            meta = io.BytesIO()
            write_long(meta, 2)
            write_bytes(meta, b"avro.schema")
            # compact, as Avro's Schema.toString() writes it
            write_bytes(meta, json.dumps(avro_schema, separators=(",", ":")).encode())
            write_bytes(meta, b"avro.codec")
            write_bytes(meta, codec.encode())
            write_long(meta, 0)
            fh.write(meta.getvalue())
            fh.write(sync)

            block: list[bytes] = []

            def flush_block():
                raw = b"".join(block)
                if codec == "deflate":
                    raw = zlib.compress(raw, 6)[2:-4]  # raw RFC-1951 (strip zlib wrapper)
                elif codec == "snappy":
                    # block + big-endian CRC32 of the UNCOMPRESSED bytes
                    crc = zlib.crc32(raw) & 0xFFFFFFFF
                    raw = _snappy_compress(raw) + crc.to_bytes(4, "big")
                elif codec == "bzip2":
                    import bz2

                    raw = bz2.compress(raw)
                fh.write(_varint(len(block)) + _varint(len(raw)))
                fh.write(raw)
                fh.write(sync)
                block.clear()

            for row in rows:
                block.append(encode(row))
                n += 1
                if len(block) >= block_records:
                    flush_block()
            if block:
                flush_block()
        os.replace(tmp_path, out_path)
    except BaseException:
        if os.path.exists(tmp_path):
            os.remove(tmp_path)
        raise
    return n


def read_schema(path: str) -> dict:
    """Schema from the container header only — no record decode, O(header)
    bytes read (what AvroFileReader.getSchema does, avro/AvroFileReader.java:42-53)."""
    with open(path, "rb") as fh:
        assert fh.read(4) == MAGIC, f"not an avro container: {path}"
        meta: dict[str, bytes] = {}
        while True:
            cnt = read_long(fh)
            if cnt == 0:
                break
            if cnt < 0:
                read_long(fh)
                cnt = -cnt
            for _ in range(cnt):
                k = read_bytes(fh).decode()
                meta[k] = read_bytes(fh)
    return json.loads(meta["avro.schema"])


def read_container(path: str) -> tuple[dict, list[dict]]:
    """O5 — schema from the container header + all records decoded."""
    with open(path, "rb") as fh:
        data = fh.read()
    buf = io.BytesIO(data)
    assert buf.read(4) == MAGIC, f"not an avro container: {path}"
    meta: dict[str, bytes] = {}
    while True:
        cnt = read_long(buf)
        if cnt == 0:
            break
        if cnt < 0:
            read_long(buf)
            cnt = -cnt
        for _ in range(cnt):
            k = read_bytes(buf).decode()
            meta[k] = read_bytes(buf)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    sync = buf.read(16)
    is_record = isinstance(schema, dict) and schema.get("type") == "record"
    fields = schema["fields"] if is_record else None
    out: list = []
    while buf.tell() < len(data):
        n_rec = read_long(buf)
        n_bytes = read_long(buf)
        payload = buf.read(n_bytes)
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        elif codec == "snappy":
            crc = int.from_bytes(payload[-4:], "big")
            payload = _snappy_decompress(payload[:-4])
            if zlib.crc32(payload) & 0xFFFFFFFF != crc:
                raise ValueError(f"snappy block CRC mismatch in {path}")
        elif codec == "bzip2":
            import bz2

            payload = bz2.decompress(payload)
        pb = io.BytesIO(payload)
        for _ in range(n_rec):
            if is_record:
                out.append({f["name"]: _decode_value(pb, f["type"]) for f in fields})
            else:
                # primitive container: surface under the "value" column
                out.append({"value": _decode_value(pb, schema)})
        assert buf.read(16) == sync, f"sync marker mismatch in {path}"
    return schema, out
