"""§2 extensions, sixteenth wave — streaming-era text KV, schema
contracts, abuse heuristics, fuzzy reconciliation.

- scan_kv_tsv: the Hadoop Streaming interchange record — tab-
  separated key/value lines where the value is itself packed
  (k=v;k=v) — parsed schema-on-read into typed columns. This is THE
  reference genre's native wire format.
- dq_schema_contract: schema-drift gate — the live table's (column,
  dtype) set checked against the frozen delivery contract, one row
  per column with a status verdict; the publish-side complement of
  scan_schema_evolution's read-side drift handling.
- events_bot_detection: integer-only abuse heuristics (peak hourly
  rate, active-day span, per-day volume) → rule verdict.
- join_fuzzy_blocked: edit-distance reconciliation join, first-letter
  blocked — the standard blocked fuzzy-match recipe (equi-join on the
  block key carries the shuffle; Levenshtein refines inside blocks;
  no nested loop anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.operators.sources import staged
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "scan_kv_tsv",
    """
    SELECT event_id,
           CAST(split_part(kv, ';', 1)[3:] AS BIGINT) AS uid,
           split_part(kv, ';', 2)[3:] AS etype,
           CAST(split_part(kv, ';', 3)[3:] AS DOUBLE) AS val
    FROM (
        SELECT event_id,
               'u=' || user_id || ';t=' || event_type || ';v=' ||
                   CAST(floor(value * 100) AS BIGINT) / 100.0 AS kv
        FROM events
    ) ORDER BY event_id
    """,
    tags=("scan", "text"),
)
def scan_kv_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hadoop-Streaming-style KV text roundtrip: events are packed
    into `key<TAB>k=v;k=v;k=v` lines (the mapper/reducer wire format
    of the reference genre), written as a real TSV text file, read
    back line-oriented and re-parsed into typed columns with
    split/substring algebra — schema-on-read, exactly how a
    Streaming job consumes it. The float field is floor-quantized to
    cents BEFORE packing so the decimal text form is identical on
    both engines. Write once map-side; parse is map-only."""
    e = tbl(spark, sf_dir, "events")
    packed = e.select(
        F.concat_ws(
            "\t",
            F.col("event_id").cast("string"),
            F.concat(
                F.lit("u="), F.col("user_id").cast("string"),
                F.lit(";t="), F.col("event_type"),
                F.lit(";v="),
                (F.floor(F.col("value") * 100).cast("bigint") / 100.0)
                .cast("string"),
            ),
        ).alias("value")
    )
    out = staged(sf_dir, "events_kv_tsv", lambda tmp: packed.write.text(tmp))
    lines = spark.read.text(out)
    kv = F.split(F.col("value"), "\t")
    fields = F.split(kv.getItem(1), ";")
    return (
        lines.select(
            kv.getItem(0).cast("bigint").alias("event_id"),
            F.substring(fields.getItem(0), 3, 1000)
            .cast("bigint")
            .alias("uid"),
            F.substring(fields.getItem(1), 3, 1000).alias("etype"),
            F.substring(fields.getItem(2), 3, 1000)
            .cast("double")
            .alias("val"),
        )
        .orderBy("event_id")
    )


_CONTRACT = [
    ("event_id", "bigint"),
    ("ts", "timestamp"),
    ("user_id", "bigint"),
    ("event_type", "string"),
    ("value", "double"),
    ("props", "string"),
    ("session_hint", "int"),  # deliberately absent from the live table
]


@register(
    "dq_schema_contract",
    """
    WITH live(col_name, dtype) AS (
        VALUES ('event_id', 'bigint'), ('ts', 'timestamp'),
               ('user_id', 'bigint'), ('event_type', 'string'),
               ('value', 'double'), ('props', 'string')
    ),
    contract(col_name, dtype) AS (
        VALUES ('event_id', 'bigint'), ('ts', 'timestamp'),
               ('user_id', 'bigint'), ('event_type', 'string'),
               ('value', 'double'), ('props', 'string'),
               ('session_hint', 'int')
    )
    SELECT COALESCE(c.col_name, l.col_name) AS col_name,
           c.dtype AS contract_type, l.dtype AS live_type,
           CASE WHEN l.col_name IS NULL THEN 'missing'
                WHEN c.col_name IS NULL THEN 'unexpected'
                WHEN c.dtype <> l.dtype THEN 'type_drift'
                ELSE 'ok' END AS status
    FROM contract c FULL OUTER JOIN live l ON c.col_name = l.col_name
    ORDER BY col_name
    """,
    tags=("dq", "schema"),
)
def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract gate: the LIVE schema of the events table
    (read from the actual DataFrame, not hardcoded) is diffed against
    the frozen delivery contract — one row per column with
    ok / type_drift / missing / unexpected status (the contract
    deliberately names a column the fixture lacks, so the 'missing'
    arm is exercised). This is the publish-side gate that fails a
    delivery BEFORE consumers see drift; scan_schema_evolution is
    its read-side complement. Pure metadata — zero data rows move;
    the oracle states the contract and the known fixture schema as
    VALUES. Core: api.schema_contract_diff (column-parameterized,
    reusable on any table)."""
    from hadoop_deliver_spark.api import schema_contract_diff

    e = tbl(spark, sf_dir, "events")
    return schema_contract_diff(e, _CONTRACT)


@register(
    "events_bot_detection",
    """
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    peaks AS (
        SELECT user_id, max(n) AS peak_hourly FROM hourly GROUP BY user_id
    ),
    tot AS (
        SELECT user_id,
               count(DISTINCT CAST(ts AS DATE)) AS active_days,
               count(*) AS total_events
        FROM events GROUP BY user_id
    ),
    per_user AS (
        SELECT p.user_id, p.peak_hourly, t.active_days, t.total_events
        FROM peaks p JOIN tot t ON p.user_id = t.user_id
    )
    SELECT user_id, peak_hourly, active_days, total_events,
           CASE WHEN peak_hourly >= 5
                 AND total_events >= active_days * 8 THEN 'bot'
                WHEN peak_hourly >= 3 THEN 'suspect'
                ELSE 'human' END AS verdict
    FROM per_user ORDER BY user_id
    """,
    tags=("analytics", "events"),
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based bot heuristics: per user, the peak events-in-one-
    hour, active-day span and total volume feed an integer rule
    (burst rate + sustained daily volume → bot / suspect / human) —
    the traffic-hygiene gate a crawl/delivery pipeline runs before
    counting anything else. Two keyed aggregations (user×hour, then
    user), all integers, no float surface."""
    e = tbl(spark, sf_dir, "events")
    hourly = (
        e.select("user_id", F.date_trunc("hour", "ts").alias("h"))
        .groupBy("user_id", "h")
        .agg(F.count("*").alias("n"))
    )
    per_user = (
        hourly.groupBy("user_id")
        .agg(
            F.max("n").alias("peak_hourly"),
        )
        .join(
            e.groupBy("user_id").agg(
                F.countDistinct(F.to_date("ts")).alias("active_days"),
                F.count("*").alias("total_events"),
            ),
            "user_id",
        )
    )
    return per_user.select(
        "user_id", "peak_hourly", "active_days", "total_events",
        F.when(
            (F.col("peak_hourly") >= 5)
            & (F.col("total_events") >= F.col("active_days") * 8),
            "bot",
        )
        .when(F.col("peak_hourly") >= 3, "suspect")
        .otherwise("human")
        .alias("verdict"),
    ).orderBy("user_id")


@register(
    "join_fuzzy_blocked",
    """
    WITH messy AS (
        SELECT n_nationkey AS mk,
               CASE WHEN n_nationkey % 3 = 0
                    THEN substr(n_name, 1, length(n_name) - 1) || 'Y'
                    WHEN n_nationkey % 3 = 1
                    THEN substr(n_name, 1, 1) || 'X' || substr(n_name, 3)
                    ELSE n_name END AS mname
        FROM nation
    )
    SELECT m.mk, m.mname, n.n_name AS matched,
           CAST(levenshtein(m.mname, n.n_name) AS INT) AS dist
    FROM messy m JOIN nation n
      ON substr(m.mname, 1, 1) = substr(n.n_name, 1, 1)
     AND levenshtein(m.mname, n.n_name) <= 2
    ORDER BY mk, matched
    """,
    tags=("join", "fuzzy"),
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy reconciliation join: deterministically misspelled
    nation names matched back to the clean dimension with
    Levenshtein ≤ 2, equi-blocked on the first letter — the standard
    recipe (block key carries a hash-partitioned equi-join; the
    quadratic edit-distance refine runs only INSIDE blocks). The
    mangling preserves the first character by construction, so the
    blocking is lossless here and both engines state the identical
    blocked algorithm — at scale, swap first-letter for phonetic or
    q-gram blocks, same shape."""
    n = tbl(spark, sf_dir, "nation")
    messy = n.select(
        F.col("n_nationkey").alias("mk"),
        F.when(
            F.col("n_nationkey") % 3 == 0,
            F.concat(
                F.expr("substr(n_name, 1, length(n_name) - 1)"), F.lit("Y")
            ),
        )
        .when(
            F.col("n_nationkey") % 3 == 1,
            F.concat(
                F.substring("n_name", 1, 1),
                F.lit("X"),
                F.expr("substr(n_name, 3)"),
            ),
        )
        .otherwise(F.col("n_name"))
        .alias("mname"),
    )
    clean = n.select("n_name")
    return (
        messy.join(
            clean,
            (
                F.substring("mname", 1, 1) == F.substring("n_name", 1, 1)
            )
            & (F.levenshtein("mname", "n_name") <= 2),
        )
        .select(
            "mk",
            "mname",
            F.col("n_name").alias("matched"),
            F.levenshtein("mname", "n_name").cast("int").alias("dist"),
        )
        .orderBy("mk", "matched")
    )
