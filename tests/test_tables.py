"""The parquet schema cache behind ``tables.read_parquet``: a hit must
be indistinguishable from a plain ``spark.read.parquet`` (schema, rows,
self-joins, errors) while starting no Spark job, and any rewrite of the
file or change of an inference conf must miss."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from hadoop_deliver_spark import tables
from hadoop_deliver_spark.tables import TABLES, prepare_session, read_parquet, tbl


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.mark.parametrize("name", TABLES)
def test_hit_matches_plain_read(spark, sf_dir, name):
    prepare_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    tables._SCHEMAS.pop(os.path.abspath(path), None)
    read_parquet(spark, path)  # miss: fills the entry
    hit = read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert hit.schema.json() == plain.schema.json()
    assert sorted(map(repr, hit.collect())) == sorted(map(repr, plain.collect()))


def test_hit_starts_no_spark_job(spark, sf_dir):
    path = f"{sf_dir}/lineitem.parquet"
    read_parquet(spark, path)
    tbl(spark, sf_dir, "events")
    before = _jobs(spark)
    read_parquet(spark, path).schema
    tbl(spark, sf_dir, "events").schema
    assert _jobs(spark) == before


def test_directory_rewrite_with_new_schema_misses(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a long").write.mode("overwrite").parquet(p)
    assert read_parquet(spark, p).columns == ["a"]
    spark.createDataFrame([("x", 2.0)], "b string, c double").write.mode(
        "overwrite"
    ).parquet(p)
    got = read_parquet(spark, p)
    assert got.columns == ["b", "c"]
    assert [tuple(r) for r in got.collect()] == [("x", 2.0)]


def test_file_rewrite_with_restored_mtime_misses(spark, tmp_path):
    """Same path, same size, mtime pinned back with ``os.utime`` (as the
    two-batch streaming stage does): only ctime tells the files apart."""
    p = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), p)
    st = os.stat(p)
    assert read_parquet(spark, p).columns == ["a"]
    pq.write_table(pa.table({"b": pa.array([1, 2, 3], pa.int64())}), p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.path.getsize(p) == st.st_size
    assert os.stat(p).st_mtime_ns == st.st_mtime_ns
    assert read_parquet(spark, p).columns == ["b"]


def test_inference_conf_change_misses(spark, tmp_path):
    p = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"v": pa.array([b"ab"], pa.binary())}), p)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, p).schema["v"].dataType.typeName() == "binary"
        spark.conf.set(key, "true")
        assert read_parquet(spark, p).schema["v"].dataType.typeName() == "string"
    finally:
        spark.conf.set(key, old)


def test_two_tbl_calls_self_join(spark, sf_dir):
    a = tbl(spark, sf_dir, "nation")
    b = tbl(spark, sf_dir, "nation")  # a cache hit: must be a fresh relation
    got = (
        a.join(b, a["n_regionkey"] == b["n_regionkey"])
        .where(a["n_nationkey"] < b["n_nationkey"])
        .select(a["n_name"].alias("x"), b["n_name"].alias("y"))
        .count()
    )
    regions = [r.n_regionkey for r in a.select("n_regionkey").collect()]
    want = sum(
        regions[i] == regions[j]
        for i in range(len(regions))
        for j in range(i + 1, len(regions))
    )
    assert got == want > 0


def test_missing_path_raises_spark_error(spark, tmp_path):
    p = str(tmp_path / "missing.parquet")
    with pytest.raises(AnalysisException):
        read_parquet(spark, p)
    assert os.path.abspath(p) not in tables._SCHEMAS


def test_uri_path_bypasses_cache(spark, tmp_path):
    p = str(tmp_path / "u.parquet")
    spark.range(3).select(F.col("id").alias("k")).write.parquet(p)
    assert read_parquet(spark, f"file://{p}").columns == ["k"]
    assert f"file://{p}" not in tables._SCHEMAS
    assert os.path.abspath(p) not in tables._SCHEMAS
