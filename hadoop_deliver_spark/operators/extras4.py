"""§2 extensions, twenty-third wave — embedding centroids, NULL
semantics pinning, hostile-CSV ingestion, regex family, per-window
mode, purchase cadence.

- llm_label_centroids: per-label embedding centroids as (label, dim)
  rows — the class-prototype computation before ANN index seeding or
  semantic-dedup cell assignment. Fully relational (posexplode →
  groupBy), no vector UDF.
- sql_not_in_null_semantics: pins ANSI three-valued logic — NOT IN
  against a subquery containing a NULL is empty, NOT EXISTS is the
  antijoin people actually want. A correctness landmine every SQL
  engine must agree on.
- scan_csv_quoted_multiline: CSV hardened for embedded delimiters,
  RFC-doubled quotes and NEWLINES inside fields (multiLine read) —
  the hostile real-world feed scan_csv's clean fixtures never hit.
- fn_regex_extra: regexp_count / regexp_extract_all / regexp_substr
  beyond fn_string_regex's extract/replace.
- events_weekly_top_type: modal event type per user-week with a
  deterministic (count desc, type asc) tiebreak — per-window mode,
  the windowed twin of agg_mode.
- orders_interpurchase_gap: per-customer order cadence — median/avg
  days between consecutive orders via lag + EXACT percentile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "llm_label_centroids",
    """
    SELECT label, CAST(i AS INTEGER) AS dim,
           CAST(avg(embedding[CAST(i AS INTEGER) + 1]) AS REAL)
               AS centroid,
           count(*) AS n_vecs
    FROM embeddings, range(64) t(i)
    GROUP BY label, i ORDER BY label, dim
    """,
    tags=("llm", "vector"),
)
def llm_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, one row per (label, dimension):
    the class prototypes that seed an IVF index (llm_sim_ivf trains
    its own k-means; this is the supervised shortcut when labels
    exist) or anchor semantic-dedup cells. Expressed relationally —
    posexplode the 64 dims, hash-aggregate on (label, dim) — so the
    shuffle carries partial (sum, count) pairs per label×64 keys, NOT
    vectors; at 100 TB the map-side combine reduces each partition
    to ≤ |labels|·64 rows regardless of row count. float32 surface
    absorbs summation-order ulps, as llm_tfidf does."""
    em = tbl(spark, sf_dir, "embeddings")
    return (
        em.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.avg("v").cast("float").alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


@register(
    "sql_not_in_null_semantics",
    """
    WITH probe AS (
        SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL SELECT NULL
    ),
    clean AS (SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0)
    SELECT
        (SELECT count(*) FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM probe))
            AS n_not_in_with_null,
        (SELECT count(*) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM probe p
                           WHERE p.o_custkey = c.c_custkey))
            AS n_not_exists,
        (SELECT count(*) FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM clean))
            AS n_not_in_clean
    """,
    tags=("sql",),
)
def sql_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI three-valued-logic pinning: `NOT IN (subquery)` where the
    subquery yields a NULL is UNKNOWN for every row — zero customers
    survive — while `NOT EXISTS` (null-blind equi-antijoin) returns
    the real complement, as does NOT IN over the null-free subquery.
    Every engine migration trips on this; the operator freezes the
    semantics under the oracle so a planner change (e.g. rewriting
    NOT IN to an anti join WITHOUT the null guard) cannot slip
    through. Catalyst plans the null-aware case as a
    NullAwareAntiJoin — still hash-partitionable, not a nested
    loop."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("hds_nin_orders")
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("hds_nin_customer")
    return spark.sql(
        """
        WITH probe AS (
            SELECT o_custkey FROM hds_nin_orders WHERE o_orderkey % 3 = 0
            UNION ALL SELECT CAST(NULL AS BIGINT)
        ),
        clean AS (
            SELECT o_custkey FROM hds_nin_orders WHERE o_orderkey % 3 = 0
        )
        SELECT
            (SELECT count(*) FROM hds_nin_customer
             WHERE c_custkey NOT IN (SELECT o_custkey FROM probe))
                AS n_not_in_with_null,
            (SELECT count(*) FROM hds_nin_customer c
             WHERE NOT EXISTS (SELECT 1 FROM probe p
                               WHERE p.o_custkey = c.c_custkey))
                AS n_not_exists,
            (SELECT count(*) FROM hds_nin_customer
             WHERE c_custkey NOT IN (SELECT o_custkey FROM clean))
                AS n_not_in_clean
        """
    )


@register(
    "scan_csv_quoted_multiline",
    """
    SELECT p_partkey,
           p_name || ', "q"uote"' || chr(10) || 'line2\\tab' AS tricky
    FROM part ORDER BY p_partkey
    """,
    tags=("scan",),
)
def scan_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hostile-CSV roundtrip: fields carrying the delimiter, RFC-4180
    doubled quotes AND embedded newlines survive write→read when the
    escape char is pinned to '"' (RFC doubling; Spark's default
    backslash escape is NOT what other tools emit) and the read uses
    multiLine=true. Scale note stated honestly: multiLine CSV is a
    NON-SPLITTABLE read (a record can straddle any offset, so one
    task per file) — the delivery answer is many moderate files, or
    re-encode to parquet on ingest like sink_parquet_zstd. The
    oracle rebuilds the tricky strings from first principles; the
    staged file is re-written per fixture generation."""
    from hadoop_deliver_spark.operators.sources import staged

    p = tbl(spark, sf_dir, "part")
    tricky = p.select(
        "p_partkey",
        F.concat(
            F.col("p_name"),
            F.lit(', "q"uote"\nline2\\tab'),
        ).alias("tricky"),
    )
    path = staged(
        sf_dir,
        "part_csv_hostile",
        lambda tmp: tricky.write.csv(tmp, header=True, quote='"', escape='"'),
    )
    return (
        spark.read.schema("p_partkey BIGINT, tricky STRING")
        .option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
        .orderBy("p_partkey")
    )


@register(
    "fn_regex_extra",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'the [a-z]+')) AS BIGINT)
               AS n_the_phrases,
           coalesce(array_to_string(
               regexp_extract_all(text, 'k[a-z]*y'), '|'), '') AS ky_words,
           coalesce(regexp_extract(text, '[a-z]{7,}'), '') AS first_long,
           (regexp_matches(text, 'scan|merge')) AS mentions_op
    FROM documents ORDER BY doc_id
    """,
    tags=("fn", "string"),
)
def fn_regex_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family beyond fn_string_regex's extract/replace:
    regexp_count (match counting), regexp_extract_all (all matches,
    pipe-joined for the hash surface), regexp_substr (first match,
    NULL-coalesced to ''), rlike boolean. All map-only; patterns use
    the POSIX-common subset so Java and RE2-ish dialects agree
    (no lookarounds, no \\d shorthands)."""
    d = tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("the [a-z]+")).cast("long")
        .alias("n_the_phrases"),
        F.array_join(
            F.regexp_extract_all("text", F.lit("k[a-z]*y"), 0), "|"
        ).alias("ky_words"),
        F.regexp_extract("text", "[a-z]{7,}", 0).alias("first_long"),
        F.col("text").rlike("scan|merge").alias("mentions_op"),
    ).orderBy("doc_id")


@register(
    "events_weekly_top_type",
    """
    WITH counts AS (
        SELECT user_id,
               strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, week
                                     ORDER BY n DESC, event_type) AS rnk
        FROM counts
    )
    SELECT user_id, week, event_type AS top_type, n AS n_events
    FROM ranked WHERE rnk = 1 ORDER BY user_id, week
    """,
    tags=("analytics", "events"),
)
def events_weekly_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window mode: each user-week's most frequent event type,
    ties broken deterministically (count desc, then type string) —
    agg_mode generalized from one global answer to a keyed window.
    Plan: one (user, week, type) hash aggregate (map-side combined),
    then a row_number window over the AGGREGATE (≤ |types| rows per
    partition key), then filter rank 1 — the aggregate-then-rank
    shape that keeps the window off the fact table."""
    e = tbl(spark, sf_dir, "events")
    counts = (
        e.select(
            "user_id",
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
            "event_type",
        )
        .groupBy("user_id", "week", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id", "week").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "user_id",
            "week",
            F.col("event_type").alias("top_type"),
            F.col("n").alias("n_events"),
        )
        .orderBy("user_id", "week")
    )


@register(
    "orders_interpurchase_gap",
    """
    WITH gaps AS (
        SELECT o_custkey,
               CAST(ord_day - lag(ord_day) OVER (PARTITION BY o_custkey
                    ORDER BY ord_day, o_orderkey) AS BIGINT) AS gap_days
        FROM (SELECT o_custkey, o_orderkey,
                     CAST(o_orderdate AS DATE) AS ord_day
              FROM orders)
    )
    SELECT o_custkey, count(*) AS n_gaps,
           round(avg(gap_days), 4) AS avg_gap,
           round(quantile_cont(gap_days, 0.5), 4) AS median_gap,
           max(gap_days) AS max_gap
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY o_custkey ORDER BY o_custkey
    """,
    tags=("analytics", "orders"),
)
def orders_interpurchase_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase cadence per customer: day gaps between consecutive
    orders (lag on the (date, orderkey) total order — among same-day
    ties the gap MULTISET is order-invariant, so the tiebreak only
    pins determinism) summarized with EXACT median via `percentile`.
    One customer-keyed window + one customer-keyed aggregate — the
    same shuffle key twice, so Catalyst reuses the partitioning and
    the second exchange collapses. Single-order customers carry no
    gap and drop out, matching the oracle's IS NOT NULL."""
    o = tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("ord_day", "o_orderkey")
    gaps = (
        o.select(
            "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("ord_day")
        )
        .withColumn(
            "gap_days",
            F.datediff(F.col("ord_day"), F.lag("ord_day").over(w)).cast("long"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_days"), 4).alias("avg_gap"),
            F.round(F.percentile("gap_days", F.lit(0.5)), 4).alias("median_gap"),
            F.max("gap_days").alias("max_gap"),
        )
        .orderBy("o_custkey")
    )
