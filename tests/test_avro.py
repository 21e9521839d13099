"""Cross-implementation validation of the pure-Python Avro codec
(hadoop_deliver_spark/avro_io.py) against the JVM's org.apache.avro
core library (bundled with Spark even though the spark-avro data
source module is not): python-write → java-read and java-write →
python-read. A symmetric encode/decode bug in the Python codec would
pass its own roundtrip but fail both of these."""

from __future__ import annotations

import json
import os

from hadoop_deliver_spark.avro_io import read_container, write_container

_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "k", "type": "int"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "maybe", "type": ["null", "long"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        # logical type: metadata over a long — the java library must
        # accept the annotation and agree on the wire value
        {"name": "ts_us",
         "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}

_ROWS = [
    {"k": 0, "name": "alpha", "score": 1.5, "flag": True,
     "maybe": None, "tags": ["x", "y"], "ts_us": 1704067200000000},
    {"k": -1, "name": "βeta", "score": -0.25, "flag": False,
     "maybe": 2**40 + 7, "tags": [], "ts_us": 0},
    {"k": 2**31 - 1, "name": "", "score": 6.02e23, "flag": True,
     "maybe": -(2**62), "tags": ["solo"], "ts_us": -1},
]


def test_python_write_java_read(spark, tmp_path):
    path = str(tmp_path / "py_written.avro")
    write_container(path, _SCHEMA, _ROWS, codec="deflate")
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    got = []
    while reader.hasNext():
        rec = reader.next()
        got.append(
            {
                "k": rec.get("k"),
                "name": rec.get("name").toString(),
                "score": rec.get("score"),
                "flag": rec.get("flag"),
                "maybe": rec.get("maybe"),
                "tags": [t.toString() for t in rec.get("tags")],
                "ts_us": rec.get("ts_us"),
            }
        )
    reader.close()
    assert got == _ROWS


def test_java_write_python_read(spark, tmp_path):
    path = str(tmp_path / "java_written.avro")
    jvm = spark._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(_SCHEMA))
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    writer.create(schema, jvm.java.io.File(path))
    for r in _ROWS:
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("k", r["k"])
        rec.put("name", r["name"])
        rec.put("score", r["score"])
        rec.put("flag", r["flag"])
        rec.put("maybe", r["maybe"])
        rec.put("ts_us", r["ts_us"])
        arr = jvm.java.util.ArrayList()
        for t in r["tags"]:
            arr.add(t)
        rec.put("tags", arr)
        writer.append(rec)
    writer.close()
    with open(path, "rb") as f:
        _, got = read_container(f.read())
    assert got == _ROWS


def test_scan_avro_matches_nation(spark, sf_dir, duck):
    """The registered distributed scan reproduces nation exactly."""
    from hadoop_deliver_spark.registry import load_all

    got = sorted(
        map(tuple, load_all()["scan_avro"].fn(spark, sf_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                "SELECT n_nationkey, n_name, n_regionkey FROM nation"
            ).fetchall(),
        )
    )
    assert got == want


def test_python_roundtrip_null_codec(tmp_path):
    path = str(tmp_path / "null_codec.avro")
    write_container(path, _SCHEMA, _ROWS, codec="null", rows_per_block=2)
    with open(path, "rb") as f:
        schema, got = read_container(f.read())
    assert schema == _SCHEMA
    assert got == _ROWS
    assert os.path.getsize(path) > 0


def test_read_rejects_bad_magic_and_corrupt_sync(tmp_path):
    """Container bytes come from outside the program, so the header
    and per-block sync checks raise ValueError, which ``python -O``
    keeps (an ``assert`` would vanish there)."""
    import pytest

    path = str(tmp_path / "t.avro")
    write_container(path, _SCHEMA, _ROWS, codec="null", rows_per_block=2)
    with open(path, "rb") as f:
        raw = f.read()
    with pytest.raises(ValueError, match="not an avro"):
        read_container(b"Obj\x02" + raw[4:])
    # the file ends with the last block's copy of the sync marker
    flipped = raw[:-1] + bytes([raw[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="sync marker"):
        read_container(flipped)
