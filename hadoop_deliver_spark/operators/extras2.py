"""§2 extensions, twelfth wave — exact bitmap sketches, parameterized
SQL, null-safe joins, basket analysis, perplexity scoring, and
recursive directory scans.

Scale shapes: agg_bitmap_distinct is the mergeable-partial EXACT
distinct path (bitmap partials combine map-side, unlike a
count-distinct row shuffle); orders_market_basket bounds its pair
space by brand² regardless of row count; llm_quality_perplexity is
explode → broadcast-model join → per-doc aggregate; the rest are
map-only or single-shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.operators.sources import staged
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "agg_bitmap_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT user_id % 512) AS n_cohorts
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("aggregate", "sketch"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counts via mergeable bitmap partials (Spark 3.5
    bitmap_* family — roaring-bitmap semantics): each task sets bit
    positions into per-(group, bucket) bitmaps map-side, the shuffle
    merges bitmaps with bitmap_or_agg, and bitmap_count reads the
    cardinality. Unlike approx sketches this is exact, and unlike a
    naive count-distinct the shuffle carries one bitmap per
    (group, 32k-bucket), not one row per distinct value — the
    scalable exact-distinct recipe for dense integer keys. The
    oracle is the plain COUNT(DISTINCT) the bitmaps must equal."""
    e = tbl(spark, sf_dir, "events")

    def bitmap_distinct(key) -> DataFrame:
        return (
            e.select("event_type", key.alias("k"))
            .select(
                "event_type",
                F.expr("bitmap_bucket_number(k)").alias("bucket"),
                F.expr("bitmap_bit_position(k)").alias("pos"),
            )
            .groupBy("event_type", "bucket")
            .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
            .groupBy("event_type")
            .agg(F.expr("sum(bitmap_count(bm))").alias("n"))
        )

    users = bitmap_distinct(F.col("user_id")).withColumnRenamed(
        "n", "n_users"
    )
    cohorts = bitmap_distinct(F.col("user_id") % 512).withColumnRenamed(
        "n", "n_cohorts"
    )
    return users.join(cohorts, "event_type").orderBy("event_type")


@register(
    "sql_parameterized",
    """
    SELECT c_mktsegment, count(*) AS n,
           round(sum(c_acctbal), 2) AS bal
    FROM customer
    WHERE c_acctbal BETWEEN 100.0 AND 5000.0
      AND c_nationkey <= 20
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("sql",),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers, Spark 3.4+):
    the query text carries :lo/:hi/:maxnat placeholders and values
    are bound at execution — the injection-safe API surface for
    templated delivery jobs. Binding happens at parse time, so the
    plan (pushed filters included) is identical to inlined literals,
    which is exactly what the oracle inlines."""
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("hds_param_cust")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n,
               round(sum(c_acctbal), 2) AS bal
        FROM hds_param_cust
        WHERE c_acctbal BETWEEN :lo AND :hi
          AND c_nationkey <= :maxnat
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        args={"lo": 100.0, "hi": 5000.0, "maxnat": 20},
    )


@register(
    "join_null_safe_eq",
    """
    WITH l AS (
        SELECT NULLIF(o_orderkey % 7, 3) AS k, o_totalprice
        FROM orders
    ),
    r AS (
        SELECT DISTINCT NULLIF(n_nationkey % 7, 3) AS k
        FROM nation WHERE n_nationkey < 14
    )
    SELECT COALESCE(CAST(l.k AS VARCHAR), 'NULL') AS key_disp,
           count(*) AS n_orders,
           round(sum(l.o_totalprice), 2) AS total
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY 1 ORDER BY key_disp
    """,
    tags=("join",),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match NULL keys instead of silently dropping — the semantics
    CDC/merge pipelines need for nullable business keys. Spark plans
    `<=>` as an ordinary equi-join condition (hash-partitionable:
    null hashes like any other key value), NOT a nested-loop — same
    shuffle shape as `=`. Keys are made nullable on both sides with
    NULLIF; the NULL group's presence in the output is the whole
    point."""
    o = tbl(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderkey") % 7, F.lit(3)).alias("k"),
        "o_totalprice",
    )
    n = (
        tbl(spark, sf_dir, "nation")
        .where(F.col("n_nationkey") < 14)
        .select(F.nullif(F.col("n_nationkey") % 7, F.lit(3)).alias("rk"))
        .distinct()
    )
    return (
        o.join(F.broadcast(n), o.k.eqNullSafe(n.rk))
        .groupBy(
            F.coalesce(F.col("k").cast("string"), F.lit("NULL")).alias(
                "key_disp"
            )
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("key_disp")
    )


@register(
    "orders_market_basket",
    """
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           count(*) AS support
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    HAVING count(*) >= 3
    ORDER BY support DESC, brand_a, brand_b
    """,
    tags=("analytics", "join"),
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: brand pairs appearing in the same
    order, with support ≥ 3 — the frequent-itemset inner loop at pair
    granularity (the same shape llm_vocab_pairs uses for tokens).
    Distinct (order, brand) first bounds the self-join fan-out by
    basket size; the pair-count aggregate's key space is ≤ brand², a
    few hundred rows at ANY data scale, so the second shuffle is
    constant-sized. Part is broadcast into the lineitem scan."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_a")
    )
    b = ob.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_b")
    )
    return (
        a.join(b, "ok")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 3)
        .orderBy(F.desc("support"), "brand_a", "brand_b")
    )


@register(
    "llm_quality_perplexity",
    """
    WITH words AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS w
        FROM documents WHERE length(text) > 0
    ),
    model AS (
        SELECT w, CAST(count(*) AS DOUBLE)
                  / (SELECT count(*) FROM words) AS p
        FROM words GROUP BY w
    )
    SELECT d.doc_id,
           round(avg(-log2(m.p)), 4) AS bits_per_word,
           count(*) AS n_words
    FROM words d JOIN model m ON d.w = m.w
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
    tags=("llm", "quality"),
)
def llm_quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: average per-word surprisal
    (-log2 of the corpus unigram probability) per document — the
    cheap statistical stand-in for an LM-based quality filter
    (documents of rare-word soup score high, repetitive boilerplate
    scores low). explode → corpus-model groupBy → broadcast the model
    (vocabulary-sized) back onto the word stream → per-doc aggregate:
    two keyed shuffles, model size independent of corpus row count.
    Rounded to 4 decimals (float sum order, registry convention)."""
    d = tbl(spark, sf_dir, "documents").where(F.length("text") > 0)
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).cache()
    total = words.count()
    model = words.groupBy("w").agg(
        (F.count(F.lit(1)).cast("double") / F.lit(total)).alias("p")
    )
    return (
        words.join(F.broadcast(model), "w")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.log2("p")), 4).alias("bits_per_word"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .orderBy("doc_id")
    )


@register(
    "scan_recursive_glob",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-19'
    GROUP BY 1 ORDER BY day
    """,
    tags=("scan",),
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory-tree ingestion — the genre's
    `/data/<year>/<month>/<day>/` archive layout: events staged once
    into nested day directories (plain dirs, NOT key=value partition
    dirs), then read back with recursiveFileLookup + pathGlobFilter
    so every parquet under the root is discovered without partition
    inference; the day-10..19 slice is then filtered from the data's
    own ts column. Directory listing parallelizes on the driver-side
    file index; the day filter lands in PushedFilters. The day
    column is restated as a string-stable DATE from ts on both
    sides, so the staged layout is invisible to the result."""
    e = tbl(spark, sf_dir, "events")

    def write_day_dirs(tmp: str) -> None:
        days = [r[0] for r in e.select(F.to_date("ts").alias("d")).distinct().collect()]
        for d in days:
            e.where(F.to_date("ts") == F.lit(d)).write.parquet(
                os.path.join(tmp, f"{d.year:04d}/{d.month:02d}/{d.day:02d}")
            )

    root = staged(sf_dir, "events_tree", write_day_dirs)
    scan = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(root)
    )
    return (
        scan.withColumn("d", F.to_date("ts"))
        .where(
            (F.col("d") >= F.lit("2024-01-10").cast("date"))
            & (F.col("d") <= F.lit("2024-01-19").cast("date"))
        )
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("id_sum"),
        )
        .orderBy("day")
    )
