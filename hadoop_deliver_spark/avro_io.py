"""Minimal Apache Avro object-container codec (pure Python).

The runtime bundles Avro's JVM core jars but NOT the `spark-avro`
data source module, so `format("avro")` raises
FAILED_TO_FIND_DATA_SOURCE. Rather than registering a skip, the
engine ships this self-contained codec for the subset of the Avro
1.x spec the delivery genre actually exchanges — records of
null/boolean/int/long/float/double/string/bytes, nullable
`["null", T]` unions, and arrays of scalars — with `null` and
`deflate` codecs. scan_avro decodes files DISTRIBUTED (binaryFile
source + mapInPandas, one task per file); this module is only the
per-file byte codec that runs inside those tasks.

Correctness is NOT self-referential: tests/test_avro.py writes with
this module and re-reads the same bytes with the JVM's own
org.apache.avro DataFileReader via py4j (and the reverse), so a
symmetric encode/decode bug cannot hide behind a clean roundtrip.

Spec references (public): Avro 1.12 specification, "Object Container
Files" + "Binary Encoding" sections.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# primitive binary encoding
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return _zigzag_decode(acc)


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    write_long(buf, len(b))
    buf.write(b)


def _read_bytes(buf: io.BytesIO) -> bytes:
    return buf.read(read_long(buf))


# ---------------------------------------------------------------------------
# schema-driven value codec (subset)
# ---------------------------------------------------------------------------


def _encode(buf: io.BytesIO, schema, v) -> None:
    if isinstance(schema, list):  # union, e.g. ["null", "long"]
        idx = schema.index("null") if v is None else next(
            i for i, s in enumerate(schema) if s != "null"
        )
        write_long(buf, idx)
        if v is not None:
            _encode(buf, schema[idx], v)
        return
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                _encode(buf, f["type"], v[f["name"]])
            return
        if t == "array":
            if v:
                write_long(buf, len(v))
                for item in v:
                    _encode(buf, schema["items"], item)
            write_long(buf, 0)
            return
        if isinstance(t, str):
            # annotated primitive, e.g. {"type": "long",
            # "logicalType": "timestamp-micros"} — the logical type is
            # metadata; the wire value is the underlying primitive
            _encode(buf, t, v)
            return
        raise NotImplementedError(f"avro type {t}")
    if schema == "null":
        return
    if schema == "boolean":
        buf.write(b"\x01" if v else b"\x00")
    elif schema in ("int", "long"):
        write_long(buf, int(v))
    elif schema == "float":
        buf.write(struct.pack("<f", v))
    elif schema == "double":
        buf.write(struct.pack("<d", v))
    elif schema == "string":
        _write_bytes(buf, v.encode("utf-8"))
    elif schema == "bytes":
        _write_bytes(buf, bytes(v))
    else:
        raise NotImplementedError(f"avro type {schema}")


def _decode(buf: io.BytesIO, schema):
    if isinstance(schema, list):
        branch = schema[read_long(buf)]
        return None if branch == "null" else _decode(buf, branch)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
        if t == "array":
            out = []
            while True:
                n = read_long(buf)
                if n == 0:
                    return out
                if n < 0:  # block with byte-size prefix (spec-legal)
                    n = -n
                    read_long(buf)
                for _ in range(n):
                    out.append(_decode(buf, schema["items"]))
        if isinstance(t, str):  # annotated primitive (logicalType)
            return _decode(buf, t)
        raise NotImplementedError(f"avro type {t}")
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema in ("int", "long"):
        return read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "string":
        return _read_bytes(buf).decode("utf-8")
    if schema == "bytes":
        return _read_bytes(buf)
    raise NotImplementedError(f"avro type {schema}")


# ---------------------------------------------------------------------------
# object container file
# ---------------------------------------------------------------------------


def write_container(
    path: str,
    schema: dict,
    rows: list[dict],
    codec: str = "deflate",
    rows_per_block: int = 4096,
) -> None:
    """Write an Avro object-container file (deterministic sync marker
    derived from the path so re-stages are byte-identical)."""
    sync = __import__("hashlib").md5(path.encode()).digest()
    with open(path, "wb") as f:
        f.write(MAGIC)
        head = io.BytesIO()
        meta = {
            "avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode(),
        }
        write_long(head, len(meta))
        for k, v in meta.items():
            _write_bytes(head, k.encode())
            _write_bytes(head, v)
        write_long(head, 0)
        f.write(head.getvalue())
        f.write(sync)
        for i in range(0, max(len(rows), 1), rows_per_block):
            chunk = rows[i : i + rows_per_block]
            if not chunk:
                break
            body = io.BytesIO()
            for r in chunk:
                _encode(body, schema, r)
            data = body.getvalue()
            if codec == "deflate":  # raw deflate, no zlib header (per spec)
                data = zlib.compress(data)[2:-1]
            blk = io.BytesIO()
            write_long(blk, len(chunk))
            write_long(blk, len(data))
            f.write(blk.getvalue())
            f.write(data)
            f.write(sync)


def read_container(raw: bytes) -> tuple[dict, list[dict]]:
    """Decode a whole container file from bytes → (schema, rows).

    Whole-file granularity is the right unit here: Spark's binaryFile
    source hands one file per task, so a multi-file dataset scans in
    parallel. (Splitting WITHIN a file — seeking to the next sync
    marker like the Hadoop input format does — is the 100 TB
    refinement; delivery-genre avro is many modest files, where
    per-file parallelism is already the production shape.)"""
    buf = io.BytesIO(raw)
    if buf.read(4) != MAGIC:
        raise ValueError("not an avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            read_long(buf)
        for _ in range(n):
            k = _read_bytes(buf).decode()
            meta[k] = _read_bytes(buf)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    sync = buf.read(16)
    rows: list[dict] = []
    while True:
        probe = buf.read(1)
        if not probe:
            break
        buf.seek(-1, os.SEEK_CUR)
        count = read_long(buf)
        size = read_long(buf)
        data = buf.read(size)
        if codec == "deflate":
            data = zlib.decompress(data, wbits=-15)
        elif codec != "null":
            raise NotImplementedError(f"avro codec {codec}")
        body = io.BytesIO(data)
        for _ in range(count):
            rows.append(_decode(body, schema))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
    return schema, rows
