"""§2.J extensions, thirteenth wave — Arrow-native UDF surface + JSONL
delivery.

mapInArrow / applyInArrow are the zero-copy siblings of mapInPandas /
applyInPandas: the worker hands the Python function raw pyarrow
RecordBatches, skipping the Arrow→pandas conversion entirely — the
right tier for columnar numeric kernels (and the transport the
multimodal decode path would use with a real codec). sink_json_lines
closes the sink matrix with the genre's other wire format: one
JSON-lines file per task, gzip-compressed, schema-on-read back.
events_sliding_uniques (plain relational, no Arrow) also lives here
from the same wave — see its docstring for the grid-expansion shape.

Every op here states its exact relational equivalent as the oracle —
the Python kernels are arithmetic the oracle can mirror.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.operators.sources import staged
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


def _arrow_revenue(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Columnar kernel: revenue = price*(1-disc), floor-quantized."""
    for b in batches:
        price = b.column(b.schema.get_field_index("l_extendedprice"))
        disc = b.column(b.schema.get_field_index("l_discount"))
        rev = pc.multiply(price, pc.subtract(pa.scalar(1.0), disc))
        q = pc.divide(pc.floor(pc.multiply(rev, pa.scalar(10000.0))), pa.scalar(10000.0))
        yield pa.RecordBatch.from_arrays(
            [
                b.column(b.schema.get_field_index("l_orderkey")),
                b.column(b.schema.get_field_index("l_linenumber")),
                q,
            ],
            names=["l_orderkey", "l_linenumber", "revenue"],
        )


@register(
    "udf_map_in_arrow",
    """
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 10000) / 10000
               AS revenue
    FROM lineitem WHERE l_orderkey <= 1200
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("udf", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the Python function receives raw pyarrow
    RecordBatches (no pandas materialization at all) and computes a
    vectorized revenue kernel with pyarrow.compute — the lowest-
    overhead Python tier, and the one a real columnar codec
    (multimodal decode, compression transcoding) would use. Same
    floor-quantized IEEE surface as sql_udf_sql, so the relational
    oracle mirrors it exactly."""
    li = tbl(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 1200)
    out = li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    ).mapInArrow(
        _arrow_revenue, "l_orderkey long, l_linenumber int, revenue double"
    )
    return out.orderBy("l_orderkey", "l_linenumber")


def _arrow_group_stats(key, table):
    # (key: tuple, table: pa.Table) -> pa.Table — annotations omitted
    # on purpose: pyspark infers the applyInArrow eval type from type
    # hints and crashes on a partially/pa-annotated signature.
    """Per-group Arrow aggregate: count + exact integer sum."""
    return pa.table(
        {
            "l_returnflag": [key[0]],
            "n_rows": [table.num_rows],
            "qty_sum_cg": [
                int(
                    pc.sum(
                        pc.cast(
                            # floor-then-cast: floor of an identical
                            # double is integral and engine-stable;
                            # a raw double→int cast truncates here
                            # but ROUNDS in DuckDB
                            pc.floor(
                                pc.multiply(
                                    table.column("l_quantity"),
                                    pa.scalar(100.0),
                                )
                            ),
                            pa.int64(),
                        )
                    ).as_py()
                )
            ],
        }
    )


@register(
    "udaf_apply_in_arrow",
    """
    SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(CAST(floor(l_quantity * 100.0) AS BIGINT)) AS BIGINT)
               AS qty_sum_cg
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("udf", "arrow"),
)
def udaf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow: grouped custom aggregation over raw pyarrow
    Tables — one group per call, zero pandas. The kernel computes an
    exact centi-unit integer quantity sum (cast-then-sum, order-free
    BIGINT), so the relational oracle matches bit-for-bit. Plans as
    the usual shuffle-on-key + Python stage; memory is bounded by
    the largest single group (3 groups here — at scale, group by a
    higher-cardinality key or pre-aggregate)."""
    li = tbl(spark, sf_dir, "lineitem")
    out = (
        li.select("l_returnflag", "l_quantity")
        .groupBy("l_returnflag")
        .applyInArrow(
            _arrow_group_stats,
            "l_returnflag string, n_rows long, qty_sum_cg long",
        )
    )
    return out.orderBy("l_returnflag")


@register(
    "sink_json_lines",
    """
    SELECT n_regionkey, count(*) AS n,
           min(n_name) AS first_name, max(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    tags=("sink", "json"),
)
def sink_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines delivery sink: write the nation table as
    gzip-compressed JSONL (one file per task — the genre's
    line-oriented interchange format), read it back schema-on-read,
    and aggregate the roundtripped rows. The read-back aggregate
    hash-matching the oracle proves the codec roundtrip lossless for
    int/string columns. Distributed on both sides: every task writes
    its own .json.gz part, the re-scan shards by file."""
    out = staged(
        sf_dir,
        "nation_jsonl",
        lambda tmp: tbl(spark, sf_dir, "nation").write.json(tmp, compression="gzip"),
    )
    back = spark.read.json(out)
    return (
        back.groupBy(F.col("n_regionkey").cast("int").alias("n_regionkey"))
        .agg(
            F.count("*").alias("n"),
            F.min("n_name").alias("first_name"),
            F.max("n_name").alias("last_name"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "events_sliding_uniques",
    """
    WITH days AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    ),
    du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           count(DISTINCT u.user_id) AS uniques_48h
    FROM days d
    JOIN du u ON u.day BETWEEN d.day - INTERVAL 1 DAY AND d.day
    GROUP BY d.day ORDER BY day
    """,
    tags=("analytics", "events"),
)
def events_sliding_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users: for every day, the distinct
    users active in the trailing 48 h (that day + the previous one).
    COUNT(DISTINCT) does not compose over sliding windows, so the
    engine reduces events to the (day, user) distinct grid FIRST
    (one shuffle, cardinality days×users at most), then joins each
    day to its 2-day slice of the grid and re-distincts — the
    standard exact recipe; at larger windows the same grid feeds an
    HLL-partial rollup instead (agg_hll_sketch_merge shows that
    path). Window membership is EXPANDED, not range-joined: each
    (day, user) row explodes to its two covering window days and
    equi-joins the day list — a keyed shuffle, no nested-loop
    range join."""
    e = tbl(spark, sf_dir, "events")
    du = (
        e.select(F.to_date("ts").alias("day"), "user_id").distinct().cache()
    )
    days = du.select("day").distinct().withColumnRenamed("day", "d")
    contrib = du.select(
        "user_id",
        F.explode(
            F.array(F.col("day"), F.date_add(F.col("day"), 1))
        ).alias("d"),
    )
    return (
        contrib.join(F.broadcast(days), "d")
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("uniques_48h"))
        .orderBy("day")
    )
