"""§2.A — Scans / sources / sinks.

The driver fixtures are parquet-only, so the CSV/JSON/text/ORC scans
read copies of those fixtures staged once per fixture generation
under ``/tmp/hds_stage/<sf>-<tag>/`` by :func:`staged`, which writes
each copy beside its final path and renames it into place: a copy is
complete once its directory exists, and concurrent processes share
it. Per-call directories (streaming checkpoints, sink outputs, state)
come from :func:`scratch`, private to the process and removed at
exit. Every oracle reads the ORIGINAL table view instead of the
staged file — the staged artifact is byte-equivalent by construction,
so the parity check verifies exactly what a scan operator must
guarantee: the engine reads back precisely the rows that were
written, whatever the format.

Sinks re-read their own output and surface its content (or a content
aggregate) so the same write→read roundtrip contract is hash-checked.

Scale notes: all paths here are steady-state streaming/batch writer
patterns — partitioned parquet for date-layout delivery, bucketed
tables for co-located joins (a bucketed write shuffles once at write
time and never again at join time), `availableNow` replay for
catch-up streaming. The only deliberately non-scalable piece is
``coalesce(1)`` in sink_csv_single, which exists precisely to model
the reference genre's single-file `getmerge` delivery step.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, file_signature, read_parquet, tbl

_STAGE = "/tmp/hds_stage"

def _fixture_tag(sf_dir: str) -> str:
    """Fingerprint of the fixture generation (name and
    :func:`~hadoop_deliver_spark.tables.file_signature` of every
    parquet in sf_dir). Baked into the stage path so a driver-side
    fixture regeneration (e.g. the ts dtype change between rounds)
    can never be served a stale staged copy — even mid-process:
    deliberately NOT cached (the stat loop is ~10 files, trivially
    cheap), so a regeneration during a long-lived driver is picked up
    on the next call."""
    h = hashlib.sha1(b"stage-format-v3;")  # bump when staged layout/dtypes/commit change
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        h.update(f"{os.path.basename(p)}:{file_signature(p)};".encode())
    return h.hexdigest()[:10]


def _stage_dir(sf_dir: str, leaf: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_STAGE, f"{tag}-{_fixture_tag(sf_dir)}", leaf)


def staged(sf_dir: str, leaf: str, write: Callable[[str], object]) -> str:
    """Path of the shared staged copy ``leaf`` of the fixtures in
    ``sf_dir``, written by ``write(tmp)`` the first time.

    ``write`` fills the private sibling ``<final>.tmp-<pid>-<uuid>``
    (all parts of a multi-part copy go under it), which is then
    renamed to the final path. So the copy is complete once its
    directory exists; a crash or a raising ``write`` leaves at most a
    ``.tmp-*`` directory that no reader opens. When another process
    renamed its copy first, the rename fails on the non-empty target
    and this process discards its own copy and uses the winner's."""
    final = _stage_dir(sf_dir, leaf)
    if os.path.exists(final):
        return final
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}-{uuid.uuid4().hex}"
    try:
        write(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


_SCRATCH: dict[str, str] = {}  # stage root -> this process's scratch dir


def scratch(sf_dir: str, leaf: str) -> str:
    """A fresh, empty directory named ``<leaf>_<random>`` for one
    call's checkpoint, sink output or state. It lives under one
    directory per process and stage root, made on first use and
    removed when the process exits, so two processes never share a
    path and per-call directories do not outlive their process."""
    root = _SCRATCH.get(_STAGE)
    if root is None:
        os.makedirs(_STAGE, exist_ok=True)
        root = _SCRATCH[_STAGE] = tempfile.mkdtemp(
            prefix=f"scratch-{os.getpid()}-", dir=_STAGE
        )
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    parent = os.path.join(root, os.path.basename(os.path.normpath(sf_dir)))
    os.makedirs(parent, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{leaf}_", dir=parent)


@register(
    "scan_parquet",
    """
    SELECT count(*) AS n_rows,
           min(l_orderkey) AS min_key,
           max(l_orderkey) AS max_key,
           CAST(sum(l_quantity) AS REAL) AS sum_qty
    FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan of the fact table + count/minmax/sum probe
    (the vectorized reader path every other operator builds on)."""
    li = tbl(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
        F.sum("l_quantity").cast("float").alias("sum_qty"),
    )


@register("scan_csv", "SELECT * FROM customer")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with explicit schema + header: parquet→CSV→DataFrame
    roundtrip must reproduce the table bit-exactly (doubles survive via
    shortest-repr formatting on write and nearest-double parse on
    read)."""
    path = staged(
        sf_dir,
        "customer_csv",
        lambda tmp: tbl(spark, sf_dir, "customer").write.csv(tmp, header=True),
    )
    schema = (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING"
    )
    return spark.read.schema(schema).option("header", True).csv(path)


@register("scan_json", "SELECT * FROM nation")
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with explicit schema (the schema-on-read model
    of the reference genre, minus the per-job parsing code)."""
    path = staged(
        sf_dir, "nation_json", lambda tmp: tbl(spark, sf_dir, "nation").write.json(tmp)
    )
    return spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").json(
        path
    )


@register(
    "scan_text",
    """
    SELECT count(*) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           min(length(text)) AS min_len,
           max(length(text)) AS max_len
    FROM documents
    """,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line scan (the Hadoop Streaming input model): one string
    column named `value`, one row per line."""
    path = staged(
        sf_dir,
        "documents_text",
        lambda tmp: tbl(spark, sf_dir, "documents").select("text").write.text(tmp),
    )
    lines = spark.read.text(path)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.min(F.length("value")).alias("min_len"),
        F.max(F.length("value")).alias("max_len"),
    )


@register(
    "scan_orc",
    """
    SELECT l_returnflag, count(*) AS n,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS sum_price,
           min(l_shipdate) AS first_ship
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (DuckDB cannot read ORC, so the oracle reads the
    parquet original — same rows by construction)."""
    path = staged(
        sf_dir, "lineitem_orc", lambda tmp: tbl(spark, sf_dir, "lineitem").write.orc(tmp)
    )
    return (
        spark.read.orc(path)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("l_extendedprice")).cast("double").cast("float")
            .alias("sum_price"),
            F.min("l_shipdate").alias("first_ship"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "sink_parquet_partitioned",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS total
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write (the date-layout delivery pattern:
    one directory per key, partition pruning for every later reader),
    then a read-back aggregate over the partition column — which never
    touches the data files, only directory names + footers."""
    out = scratch(sf_dir, "orders_by_status")
    tbl(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice")).cast("double").cast("float").alias("total"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@register("sink_csv_single", "SELECT * FROM region")
def sink_csv_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single merged CSV delivery (`hadoop fs -getmerge` equivalent):
    coalesce(1) forces one output file — correct only for small final
    results; a 100 TB delivery keeps N files and merges at the
    consumer."""
    out = scratch(sf_dir, "region_csv_single")
    tbl(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(out)
    return spark.read.schema("r_regionkey INT, r_name STRING").option(
        "header", True
    ).csv(out)


@register(
    "sink_bucketed",
    """
    SELECT c_nationkey, count(*) AS n_cust,
           CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS total_bal
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed + sorted table write: pre-shuffles once on the join
    key at write time so later joins/aggs on c_nationkey read
    co-located buckets with no exchange — the 100 TB answer to a
    repeatedly-joined dimension key."""
    out = scratch(sf_dir, "customer_bucketed")
    name = "hds_customer_bucketed"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        tbl(spark, sf_dir, "customer")
        .write.bucketBy(4, "c_nationkey")
        .sortBy("c_custkey")
        .option("path", out)
        .saveAsTable(name)
    )
    return (
        spark.table(name)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(dec2("c_acctbal")).cast("double").cast("float").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental file source over the events fixture. The file
    source wants a *directory* it can discover files in (that is the
    whole replay/backlog model), so the single-file fixture is staged
    into one once — through the batch loader, so ts is already a
    normalized timestamp whatever the fixture generation — and read
    back with the staged files' own schema."""
    stage = staged(
        sf_dir,
        "events_stream_src",
        lambda tmp: tbl(spark, sf_dir, "events").write.parquet(tmp),
    )
    schema = read_parquet(spark, stage).schema
    return spark.readStream.schema(schema).format("parquet").load(stage)


@register(
    "source_stream_files",
    """
    SELECT event_type, count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def source_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming replay of events with
    trigger(availableNow): processes the backlog as micro-batches then
    stops — finite, deterministic, and identical to the batch answer
    (the streaming-vs-batch equivalence that anchors all §2.I checks).
    Memory sink is test-only; production path is toTable/parquet."""
    cp = scratch(sf_dir, "hds_src_stream")
    qname = os.path.basename(cp)
    agg = _events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("value")).cast("double").cast("float").alias("total_value"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", cp)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("event_type")


@register(
    "sink_stream_table",
    """
    SELECT user_id, count(*) AS n_purchases,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS purchase_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id ORDER BY user_id
    """,
)
def sink_stream_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet sink: filter the stream, append to a table
    directory with exactly-once file commits (checkpointed), then
    read the sink back and aggregate — write path is the scalable
    append-only delivery pattern."""
    out = scratch(sf_dir, "purchases_sink")
    cp = scratch(sf_dir, "cp_sink")
    filtered = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    q = (
        filtered.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(dec2("value")).cast("double").cast("float").alias("purchase_value"),
        )
        .orderBy("user_id")
    )


@register(
    "scan_partition_pruned",
    """
    SELECT o.o_orderpriority, count(*) AS n,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS total
    FROM orders o
    JOIN (SELECT DISTINCT o_orderstatus FROM orders
          WHERE o_orderstatus IN ('F', 'P')) s
      ON s.o_orderstatus = o.o_orderstatus
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the
    status-partitioned parquet layout (staged once, as
    sink_parquet_partitioned writes it) joined to a filtered
    dimension-like subquery on the partition column. Catalyst injects a runtime subquery filter
    (`dynamicpruning` in the plan) so only the F and P partition
    directories are read — at 100 TB this is the difference between
    scanning 2 of 3 status partitions and scanning the table. The
    static-pruning case (a literal partition predicate in PushedFilters)
    falls out of the same layout for free."""
    out = staged(
        sf_dir,
        "orders_by_status",
        lambda tmp: tbl(spark, sf_dir, "orders")
        .write.partitionBy("o_orderstatus")
        .parquet(tmp),
    )
    fact = spark.read.parquet(out)
    dim = (
        fact.select("o_orderstatus")
        .filter(F.col("o_orderstatus").isin("F", "P"))
        .distinct()
        .withColumnRenamed("o_orderstatus", "s_status")
    )
    return (
        fact.join(dim, fact.o_orderstatus == dim.s_status)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice")).cast("double").cast("float").alias("total"),
        )
        .orderBy("o_orderpriority")
    )


@register("scan_csv_gzip", "SELECT * FROM supplier")
def scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed CSV scan — the reference genre's canonical
    input (gzipped TSV/JSON-lines archives on HDFS). Spark picks the
    codec from the `.csv.gz` extension on read; the roundtrip must
    reproduce the table bit-exactly, same as scan_csv. Scale note:
    gzip is NOT splittable — each .gz file is one task — so archive
    layouts shard into many files (or recompress to zstd/parquet on
    ingest, see sink_parquet_zstd); the fixture staging mirrors that
    by writing one shard per input partition."""
    path = staged(
        sf_dir,
        "supplier_csv_gz",
        lambda tmp: tbl(spark, sf_dir, "supplier").write.csv(
            tmp, header=True, compression="gzip"
        ),
    )
    schema = (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    )
    return spark.read.schema(schema).option("header", True).csv(path)


@register(
    "sink_parquet_zstd",
    """
    SELECT o_orderstatus, count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zstd-compressed parquet delivery: the recompress-on-ingest
    target for archival scans (splittable, columnar, ~gzip-level
    ratios at much faster decode). The query re-reads its own output
    and aggregates, proving the codec roundtrip; the write itself is
    embarrassingly parallel (per-partition files, no shuffle)."""
    out = scratch(sf_dir, "orders_zstd")
    (
        tbl(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice")).cast("double").cast("float").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "scan_schema_evolution",
    """
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN left(o_orderpriority, 1) END
               AS o_channel,
           count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS total
    FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: two parquet batches of orders where the
    newer batch (odd keys) carries an added `o_channel` column, read
    back with `mergeSchema=true` so old rows surface it as null — the
    drift pattern every long-lived 100 TB dataset hits (columns added
    mid-history, partitions never rewritten). The merge cost is
    footer-only; data pages are untouched. The aggregate groups by the
    evolved column to prove old/new rows coexist in one scan."""

    def write(tmp: str) -> None:
        orders = tbl(spark, sf_dir, "orders")
        orders.filter(F.col("o_orderkey") % 2 == 0).write.parquet(
            os.path.join(tmp, "v1")
        )
        (
            orders.filter(F.col("o_orderkey") % 2 == 1)
            .withColumn("o_channel", F.substring("o_orderpriority", 1, 1))
            .write.parquet(os.path.join(tmp, "v2"))
        )

    out = staged(sf_dir, "orders_evolved", write)
    evolved = (
        spark.read.option("mergeSchema", True)
        .parquet(os.path.join(out, "v1"), os.path.join(out, "v2"))
    )
    return (
        evolved.groupBy("o_channel")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice")).cast("double").cast("float").alias("total"),
        )
        .orderBy(F.col("o_channel").asc_nulls_first())
    )


@register(
    "join_bucketed_noshuffle",
    """
    SELECT o.o_custkey, count(*) AS n_orders, count(li.l_orderkey) AS n_items,
           CAST(CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                AS REAL) AS total_price
    FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey ORDER BY o.o_custkey
    """,
)
def join_bucketed_noshuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join of two tables bucketed on the SAME key with the
    SAME bucket count: orders and lineitem are each bucketed(8) +
    sorted on the order key at write time, so the join reads
    bucket i ⋈ bucket i directly — zero Exchange on either join side
    (asserted by the plan-shape test ring). This is the 100 TB answer
    to a fact⋈fact join that runs every day: pay the shuffle once at
    ingest, never again. The aggregate after the join re-shuffles on
    o_custkey, which is the unavoidable key change."""
    from hadoop_deliver_spark.tables import prepare_session

    prepare_session(spark)  # bucketedTableScan.outputOrdering lives there
    oname, lname = "hds_orders_bkt", "hds_lineitem_bkt"
    for name, table, key, sort in [
        (oname, "orders", "o_orderkey", "o_orderkey"),
        (lname, "lineitem", "l_orderkey", "l_orderkey"),
    ]:

        def write(tmp: str) -> None:
            # saveAsTable records ``tmp`` as the table's location, so
            # it goes under a throwaway name dropped before the rename.
            staging = f"hds_stage_{uuid.uuid4().hex}"
            (
                # repartition on the bucket key with the bucket count
                # (same Murmur3 hash both places) → each task owns
                # exactly one bucket → ONE file per bucket, so readers
                # trust the sortBy order and the join plans with no
                # Sort either (multi-file buckets force a re-sort).
                tbl(spark, sf_dir, table)
                .repartition(8, F.col(key))
                .write.bucketBy(8, key)
                .sortBy(sort)
                .option("path", tmp)
                .saveAsTable(staging)
            )
            spark.sql(f"DROP TABLE {staging}")

        out = staged(sf_dir, f"{table}_bkt", write)
        # Register the staged files by DDL ONLY — no data write — on
        # every call, so the table always points at this stage root.
        # (A mode('ignore') saveAsTable here still executes the CTAS
        # write on pyspark 4.1.2, and without the repartition above it
        # doubles the part files, breaking the one-file-per-bucket
        # layout the no-Sort plan relies on.)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in read_parquet(spark, out).schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({schema_ddl}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({sort}) INTO 8 BUCKETS "
            f"LOCATION '{out}'"
        )
    o = spark.table(oname)
    li = spark.table(lname)
    # merge hint: at fixture scale the planner would broadcast the
    # small orders side, which hides what this operator demonstrates.
    # At 100 TB neither fact side broadcasts and SortMergeJoin is the
    # real plan — and over equal-bucketed, pre-sorted tables it needs
    # neither Exchange nor Sort (the test ring asserts both).
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("l_orderkey").alias("n_items"),
            F.sum(dec2("l_extendedprice")).cast("double").cast("float")
            .alias("total_price"),
        )
        .orderBy("o_custkey")
    )


@register("scan_xml", "SELECT * FROM nation")
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (native since Spark 4): nation staged as row-tagged
    XML, read back with explicit schema — the legacy-feed ingestion
    format of the reference genre's enterprise cousins. Exact
    roundtrip like scan_csv/scan_json. (Avro — the other legacy-feed
    format — is covered by scan_avro below via the engine's own
    container codec, since this runtime lacks the spark-avro jar.)"""
    path = staged(
        sf_dir,
        "nation_xml",
        lambda tmp: tbl(spark, sf_dir, "nation").write.xml(
            tmp, rootTag="nations", rowTag="nation"
        ),
    )
    return (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("rowTag", "nation")
        .format("xml")
        .load(path)
    )


_AVRO_NATION_SCHEMA = {
    "type": "record",
    "name": "nation",
    "fields": [
        {"name": "n_nationkey", "type": "int"},
        {"name": "n_name", "type": "string"},
        {"name": "n_regionkey", "type": "int"},
    ],
}

# the distributed Avro read/write plumbing is public surface now —
# api.read_avro / api.write_avro (which ship the codec to workers)
from hadoop_deliver_spark.api import read_avro, write_avro  # noqa: E402


def _write_avro_checked(src: DataFrame, out: str, avro_schema: dict) -> None:
    """Write ``src`` as Avro containers into the new directory ``out``
    and raise before the caller commits it if the write job's row
    count differs from ``src``'s."""
    os.makedirs(out)
    written = write_avro(src, out, avro_schema)
    total, want = written.agg(F.sum("n")).collect()[0][0], src.count()
    if total != want:
        raise RuntimeError(f"avro sink lost rows: wrote {total} of {want}")


@register("scan_avro", "SELECT * FROM nation")
def scan_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro scan WITHOUT the spark-avro data source (absent from this
    runtime): nation staged as deflate-coded Avro object-container
    files by the engine's own codec (hadoop_deliver_spark/avro_io.py
    — pure-Python subset of the public Avro 1.x spec), then scanned
    DISTRIBUTED: binaryFile source → mapInPandas, one decode task per
    file, so a many-file avro delivery parallelizes exactly like any
    other scan. The codec is cross-validated against the JVM's own
    org.apache.avro reader/writer in tests/test_avro.py — a
    symmetric encode/decode bug cannot hide behind this roundtrip.
    Staged as 2 files to keep the multi-file scan path honest. Scan
    core: api.read_avro (reusable on any container directory)."""
    from hadoop_deliver_spark.avro_io import write_container

    def write_two_files(tmp: str) -> None:
        os.makedirs(tmp)
        rows = [
            r.asDict()
            for r in tbl(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        ]
        half = (len(rows) + 1) // 2
        for i, chunk in enumerate((rows[:half], rows[half:])):
            write_container(
                os.path.join(tmp, f"part-{i:05d}.avro"),
                _AVRO_NATION_SCHEMA,
                chunk,
                codec="deflate",
            )

    out = staged(sf_dir, "nation_avro", write_two_files)
    return read_avro(
        spark, out, "n_nationkey INT, n_name STRING, n_regionkey INT"
    )


@register(
    "sink_avro",
    """
    SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def sink_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Avro sink: every task encodes ITS partition of
    nation to one object-container file via the engine codec
    (mapInPandas — no driver-side funnel; at 100 TB this is N writer
    tasks exactly like any parquet sink), then the files are re-read
    through the scan path and an aggregate over the re-read rows is
    hash-checked against the original table — the same write→read
    roundtrip contract every other sink in this module proves. Each
    task writes a uniquely-named file into a staging directory that
    is renamed into place only after the write job's row count is
    verified (a production deployment would swap this manual commit
    for Spark's FileCommitProtocol to also survive speculative
    re-execution). Write/scan cores: api.write_avro / api.read_avro."""
    out = staged(
        sf_dir,
        "nation_avro_sink",
        lambda tmp: _write_avro_checked(
            tbl(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .repartition(4, F.col("n_regionkey")),
            tmp,
            _AVRO_NATION_SCHEMA,
        ),
    )
    back = read_avro(
        spark, out, "n_nationkey INT, n_name STRING, n_regionkey INT"
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_name").alias("first_name"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "scan_json_corrupt",
    """
    SELECT CAST(count(*) FILTER (WHERE ok) AS BIGINT) AS n_good,
           CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_bad,
           CAST(sum(n_nationkey) FILTER (WHERE ok) AS BIGINT) AS good_key_sum
    FROM (
        SELECT n_nationkey, n_nationkey % 5 <> 2 AS ok FROM nation
    )
    """,
)
def scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on ingestion — the delivery-genre
    reality that some rows of a feed are garbage: nation staged as
    JSON-lines with every (n_nationkey % 5 == 2) row deterministically
    truncated mid-record, read back in PERMISSIVE mode with an
    explicit `_corrupt_record` rescue column. Good rows parse fully,
    bad rows surface raw in the rescue column with nulls elsewhere —
    the scan LOSES NOTHING, which is the contract this query hashes
    (good/bad counts + checksum of parsed keys). Contrast FAILFAST,
    which aborts the job on the first bad row (asserted in the parity
    ring, not here — an aborted job returns no DataFrame). Scale: the
    rescue column is per-row map-side state; quarantine the bad rows
    by filtering `_corrupt_record IS NOT NULL` to a side sink and the
    good path stays a clean columnar scan."""

    def write_feed(tmp: str) -> None:
        import json as _json

        os.makedirs(tmp)
        rows = (
            tbl(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey")
            .collect()
        )
        with open(os.path.join(tmp, "part-00000.json"), "w") as f:
            for r in rows:
                line = _json.dumps(
                    {
                        "n_nationkey": r.n_nationkey,
                        "n_name": r.n_name,
                        "n_regionkey": r.n_regionkey,
                    }
                )
                if r.n_nationkey % 5 == 2:
                    line = line[: len(line) // 2]  # truncate mid-record
                f.write(line + "\n")

    out = staged(sf_dir, "nation_json_corrupt", write_feed)
    parsed = (
        spark.read.schema(
            "n_nationkey INT, n_name STRING, n_regionkey INT, "
            "_corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(os.path.join(out, "part-00000.json"))
    )
    ok = F.col("_corrupt_record").isNull()
    return parsed.agg(
        F.count(F.when(ok, 1)).cast("long").alias("n_good"),
        F.count(F.when(~ok, 1)).cast("long").alias("n_bad"),
        F.sum(F.when(ok, F.col("n_nationkey"))).cast("long")
        .alias("good_key_sum"),
    )


_AVRO_EVENTS_SCHEMA = {
    "type": "record",
    "name": "events_slice",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts_us",
         "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
    ],
}


@register(
    "sink_avro_events",
    """
    SELECT count(*) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS REAL)
               AS total_value,
           min(ts) AS first_ts, max(ts) AS last_ts,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE user_id % 20 = 0
    """,
    tags=("delivery",),
)
def sink_avro_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro delivery of a FACT slice with a timestamp-micros logical
    type — the shape a real feed has (nation covers dims; this one
    proves timestamps + doubles survive the engine codec). ts rides
    the wire as its Avro logical form (long micros, annotated
    `timestamp-micros` in the writer schema) and is reconstituted
    with timestamp_micros() on read-back, so the min/max timestamps
    in the hashed aggregate are derived from what was actually
    written. Same distributed shape as sink_avro: one container file
    per task, row-count-verified manual commit, scan via binaryFile +
    mapInPandas (api.write_avro / api.read_avro)."""
    out = staged(
        sf_dir,
        "events_avro_sink",
        lambda tmp: _write_avro_checked(
            tbl(spark, sf_dir, "events")
            .filter(F.col("user_id") % 20 == 0)
            .select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                "value",
            )
            .repartition(4, F.col("user_id")),
            tmp,
            _AVRO_EVENTS_SCHEMA,
        ),
    )
    back = read_avro(
        spark,
        out,
        "event_id BIGINT, ts_us BIGINT, user_id BIGINT, "
        "event_type STRING, value DOUBLE",
    ).withColumn("ts", F.timestamp_micros("ts_us"))
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec2("value")).cast("double").cast("float").alias("total_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "sink_compact_small_files",
    """
    SELECT CAST(16 AS BIGINT) AS files_before,
           CAST(2 AS BIGINT) AS files_after,
           count(*) AS n_rows,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS REAL) AS total
    FROM orders
    """,
    tags=("delivery",),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the delivery genre's perennial
    operational chore (a day of micro-batches leaves thousands of
    KB-sized files; NameNode pressure and per-file task overhead eat
    the cluster): orders staged as 16 deliberately tiny files, then
    compacted by an explicit repartition(2) rewrite. The hashed row
    carries the ACTUAL before/after part-file counts (the oracle pins
    them as literals — the test fails if compaction ever stops
    compacting) plus count + exact money total read back from the
    compacted output, proving the rewrite lost nothing. At scale the
    target partition count comes from bytes/128MB, the rewrite runs
    per partition-directory, and the swap is an atomic rename."""
    small = staged(
        sf_dir,
        "orders_small_files",
        lambda tmp: tbl(spark, sf_dir, "orders").repartition(16).write.parquet(tmp),
    )
    compacted = scratch(sf_dir, "orders_compacted")
    spark.read.parquet(small).repartition(2).write.mode("overwrite").parquet(
        compacted
    )

    def count_parts(d: str) -> int:
        return len(glob.glob(os.path.join(d, "part-*")))

    back = spark.read.parquet(compacted)
    return back.agg(
        F.lit(count_parts(small)).cast("long").alias("files_before"),
        F.lit(count_parts(compacted)).cast("long").alias("files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec2("o_totalprice")).cast("double").cast("float").alias("total"),
    )


@register(
    "sink_partition_overwrite_dynamic",
    """
    SELECT o_orderstatus, count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) *
                         CASE WHEN o_orderstatus = 'F'
                              THEN CAST(2 AS DECIMAL(18,2))
                              ELSE CAST(1 AS DECIMAL(18,2)) END)
                     AS DOUBLE) AS REAL) AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("delivery",),
)
def sink_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent daily reload: with
    `spark.sql.sources.partitionOverwriteMode=dynamic`, an INSERT
    OVERWRITE replaces ONLY the partitions present in the incoming
    batch — the reprocess-one-day pattern (static mode would wipe the
    whole dataset first). Staged: the full orders table partitioned by
    o_orderstatus; then the 'F' partition alone is overwritten with
    doubled totalprice. The hashed read-back proves BOTH halves of the
    contract: the F partition carries the new values AND the other
    partitions still carry the originals (a static-mode wipe would
    empty them). The conf is saved/restored — the write executes
    eagerly inside this function, so restore-before-return is safe
    here, unlike plan-affecting confs on lazily-collected queries."""
    base = scratch(sf_dir, "orders_dyn_overwrite")
    orders = tbl(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(base)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            orders.filter(F.col("o_orderstatus") == "F")
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(base)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return (
        spark.read.parquet(base)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice")).cast("double").cast("float")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "scan_binary_files",
    """
    SELECT lang,
           CAST(sum(length(text) + 1) AS BIGINT) AS length,
           sha256(string_agg(text, chr(10) ORDER BY doc_id) || chr(10))
               AS sha256_hex
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("scan", "multimodal"),
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob ingestion via the `binaryFile` source — the scan
    path every multimodal (image/audio) pipeline starts from: one row
    per file with path, length and raw `content` bytes, partition
    columns discovered from the directory layout. Staged: each lang's
    docs written as ONE newline-terminated payload file under
    lang=<l>/ (repartition on lang puts a lang's rows in exactly one
    task; partitionBy splits its output per lang — so order within
    the file is the sortWithinPartitions order). The query proves the
    bytes survive bit-exactly: per-lang octet length + sha2 of the
    raw content against the oracle's recomputation from the source
    table. At 100 TB this scan parallelizes per FILE (each blob is
    one task's row) — decode then happens batch-wise in
    llm_multimodal_decode's mapInPandas stage."""
    base = staged(
        sf_dir,
        "documents_blobs",
        lambda tmp: tbl(spark, sf_dir, "documents")
        .select("lang", "doc_id", "text")
        .repartition(F.col("lang"))
        .sortWithinPartitions("lang", "doc_id")
        .drop("doc_id")  # narrow projection: partition order kept
        .write.partitionBy("lang")
        .text(tmp),
    )
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(base)
    )
    return (
        files.select(
            F.col("lang").cast("string").alias("lang"),
            F.col("length").cast("long").alias("length"),
            F.lower(F.sha2("content", 256)).alias("sha256_hex"),
        )
        .orderBy("lang")
    )
