"""§2 extensions, twenty-second wave (ops half) — poly-format
ingestion, multigrain uniques, freshness gating, Arrow-optimized UDFs.

- scan_federated_union: the same table ingested from three wire
  formats (parquet + staged CSV + staged JSON) unioned with a
  provenance column — the poly-format backfill every long-lived
  delivery pipeline eventually runs; checksums prove the three
  decoders agree bit-for-bit.
- events_multigrain_uniques: distinct users at day / month / total
  grains in ONE rollup pass — distinct counts do NOT roll up from
  finer grains, so the engine must expand grouping sets before the
  distinct aggregate (and does).
- dq_freshness: per-feed staleness gate — lag of each event_type's
  newest record behind the dataset high-watermark, integer hours.
- udf_arrow_scalar: Spark 4 Arrow-OPTIMIZED Python scalar UDF
  (useArrow=True) — same row-level semantics as udf_python_scalar
  but Arrow-batch transport instead of pickled rows; the middle
  tier between classic UDFs and pandas_udf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl


@register(
    "scan_federated_union",
    """
    WITH three AS (
        SELECT 'parquet' AS src, * FROM supplier
        UNION ALL SELECT 'csv' AS src, * FROM supplier
        UNION ALL SELECT 'json' AS src, * FROM supplier
    )
    SELECT src, count(*) AS n,
           CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
           CAST(CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                AS REAL) AS bal_total
    FROM three GROUP BY src ORDER BY src
    """,
    tags=("scan", "federated"),
)
def scan_federated_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poly-format federation: supplier read from its parquet
    fixture, a staged CSV copy, and a staged JSON-lines copy,
    unioned by name under a provenance column. The per-source
    count/key-sum/exact-DECIMAL balance checksum proves all three
    decode paths yield identical rows (doubles survive CSV/JSON via
    shortest-repr write + nearest-double parse). This is the
    backfill-across-eras shape: one logical table, N physical wire
    formats, one plan — each source scan parallelizes
    independently and the union adds no shuffle."""
    from hadoop_deliver_spark.operators.sources import staged

    sup = tbl(spark, sf_dir, "supplier")
    csv_path = staged(
        sf_dir, "supplier_csv", lambda tmp: sup.write.csv(tmp, header=True)
    )
    json_path = staged(sf_dir, "supplier_json", lambda tmp: sup.write.json(tmp))
    schema = "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    pq = sup.withColumn("src", F.lit("parquet"))
    cs = (
        spark.read.schema(schema).option("header", True).csv(csv_path)
        .withColumn("src", F.lit("csv"))
    )
    js = spark.read.schema(schema).json(json_path).withColumn("src", F.lit("json"))
    return (
        pq.unionByName(cs)
        .unionByName(js)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s_suppkey").cast("long").alias("key_sum"),
            F.sum(dec2("s_acctbal")).cast("double").cast("float")
            .alias("bal_total"),
        )
        .orderBy("src")
    )


@register(
    "events_multigrain_uniques",
    """
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS uniq_users,
           count(*) AS n_events,
           grouping(strftime(date_trunc('month', ts), '%Y-%m')) * 2
               + grouping(strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS gid
    FROM events
    GROUP BY ROLLUP (strftime(date_trunc('month', ts), '%Y-%m'),
                     strftime(CAST(ts AS DATE), '%Y-%m-%d'))
    ORDER BY gid, month, day
    """,
    tags=("agg", "events"),
)
def events_multigrain_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users at three grains (day, month, grand total) in a
    single ROLLUP pass. The point: COUNT(DISTINCT) does NOT roll up —
    month uniques are not the sum of day uniques — so the engine must
    replicate rows per grouping set BEFORE the distinct aggregate
    (Spark's Expand: one shuffle keyed on (gid, month, day, user),
    partial-distinct map-side). The alternative people reach for —
    re-aggregating the day grain — is simply wrong; this operator
    pins the correct semantics with the oracle."""
    e = tbl(spark, sf_dir, "events")
    month = F.date_format(F.date_trunc("month", "ts"), "yyyy-MM")
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    return (
        e.select(month.alias("month"), day.alias("day"), "user_id")
        .rollup("month", "day")
        .agg(
            F.count_distinct("user_id").alias("uniq_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "month", "day")
    )


@register(
    "dq_freshness",
    """
    WITH hi AS (SELECT max(ts) AS wm FROM events)
    SELECT event_type,
           epoch_us(max(ts)) AS newest_us,
           CAST(floor((epoch_us((SELECT wm FROM hi)) - epoch_us(max(ts)))
                      / 3600000000.0) AS BIGINT) AS lag_hours,
           (epoch_us((SELECT wm FROM hi)) - epoch_us(max(ts))
            > CAST(86400000000 AS BIGINT)) AS stale_24h
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("dq",),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness gate: each event_type's newest record vs the
    dataset high-watermark, surfaced as integer lag hours + a 24h
    staleness flag — the check an ingestion SLA dashboard runs after
    every delivery. Two tiny aggregates (per-type max, global max);
    the watermark scalar is collected once and inlined, so the plan
    is two scans of pushdown-pruned ts/type columns and no join.
    All-integer µs arithmetic."""
    e = tbl(spark, sf_dir, "events")
    wm = e.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    lag = F.lit(int(wm)) - F.unix_micros(F.max("ts"))
    return (
        e.groupBy("event_type")
        .agg(
            F.unix_micros(F.max("ts")).alias("newest_us"),
            F.floor(lag / 3600000000.0).cast("long").alias("lag_hours"),
            (lag > F.lit(86400000000)).alias("stale_24h"),
        )
        .orderBy("event_type")
    )


@register(
    "udf_arrow_scalar",
    """
    SELECT p_partkey,
           'sku-' || lower(replace(p_name, ' ', '-')) || '-'
               || CAST(p_size AS VARCHAR) AS sku
    FROM part ORDER BY p_partkey
    """,
    tags=("udf",),
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (Spark 4 `useArrow=True`):
    row-level Python semantics with Arrow-batch transport — the
    middle performance tier between udf_python_scalar (pickled rows)
    and udf_pandas_scalar (vectorized pandas). The slug logic is
    mirrored in pure SQL by the oracle, upgrading what would be a
    rows-only entry to full hash parity; at 100 TB the UDF is
    map-only and pipelines inside the scan stage, with the Arrow
    batching amortizing the Python boundary per batch instead of
    per row."""
    p = tbl(spark, sf_dir, "part")

    @F.udf(returnType="string", useArrow=True)
    def slug(name: str, size: int) -> str:
        return f"sku-{name.lower().replace(' ', '-')}-{size}"

    return p.select(
        "p_partkey", slug("p_name", "p_size").alias("sku")
    ).orderBy("p_partkey")


@register(
    "delivery_gdpr_erasure",
    """
    WITH targets AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0
    ),
    kept AS (
        SELECT e.* FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM targets t
                          WHERE t.user_id = e.user_id)
    )
    SELECT (SELECT count(*) FROM events) AS n_before,
           (SELECT count(*) FROM targets) AS n_subjects,
           (SELECT count(*) FROM events) - (SELECT count(*) FROM kept)
               AS n_erased,
           (SELECT count(*) FROM kept) AS n_after,
           (SELECT CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
            FROM kept) AS kept_cents
    FROM (SELECT 1)
    """,
    tags=("delivery", "dq"),
)
def delivery_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure: a deterministic subject set
    (user_id ≡ 0 mod 13 stands in for the legal request list) is
    anti-joined out of the delivered events, and the published
    surface is the erasure LEDGER — subjects, rows erased, rows
    kept, post-erasure checksum — the audit record a compliance
    process files. The subject list broadcasts (request lists are
    tiny); one anti-join pass rewrites the delivery; nothing is
    updated in place (erasure = rewrite + ledger, the only model
    append-only storage supports). Exact integer surfaces."""
    e = tbl(spark, sf_dir, "events")
    targets = (
        e.filter(F.col("user_id") % 13 == 0).select("user_id").distinct()
    )
    kept = e.join(F.broadcast(targets), "user_id", "left_anti")
    n_before = e.count()
    n_subjects = targets.count()
    row = kept.agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("kept_cents"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                n_before,
                n_subjects,
                n_before - row.n_after,
                row.n_after,
                row.kept_cents,
            )
        ],
        "n_before long, n_subjects long, n_erased long, n_after long, "
        "kept_cents long",
    )


@register(
    "scan_csv_reordered_columns",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    tags=("scan",),
)
def scan_csv_reordered_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reordered-feed ingestion: the staged CSV carries its columns
    in a DIFFERENT physical order (acctbal, name, suppkey,
    nationkey) than the canonical schema. Spark CSV binds an
    explicit schema POSITIONALLY — so the read declares the file's
    physical order and projects back to canonical, and
    enforceSchema=false makes Spark VALIDATE the header against the
    declared names: an upstream reshuffle the reader was not told
    about fails loudly instead of silently loading balances into
    keys (the actual failure mode of headerless positional feeds
    like scan_kv_tsv). Read-back must equal the source bit-exactly
    (doubles round-trip via shortest-repr)."""
    from hadoop_deliver_spark.operators.sources import staged

    path = staged(
        sf_dir,
        "supplier_csv_reordered",
        lambda tmp: tbl(spark, sf_dir, "supplier")
        .select("s_acctbal", "s_name", "s_suppkey", "s_nationkey")
        .write.csv(tmp, header=True),
    )
    return (
        spark.read.option("header", True)
        .option("enforceSchema", False)  # validate header vs declared names
        .schema(
            "s_acctbal DOUBLE, s_name STRING, s_suppkey BIGINT, "
            "s_nationkey INT"
        )
        .csv(path)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )
