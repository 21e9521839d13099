"""§2 extensions, forty-eighth wave — topic coherence, classical
decomposition, lexical diversity, and nested-JSON ingestion.

- llm_npmi_coherence: NPMI topic-coherence (Bouma 2009; the eval of
  Newman et al. 2010) over each source's top terms — the standard
  "is this term cluster meaningful" score.
- ts_classical_decompose: classical additive decomposition
  (trend = centered 7-day MA, seasonal = weekday mean residual,
  remainder) per event-type daily series.
- llm_lexical_diversity: MATTR moving-average type-token ratio
  (Covington & McFall 2010) — the length-robust lexical-diversity
  score TTR fails to be.
- scan_json_nested: nested-JSON ingestion roundtrip — stage orders
  with an embedded lineitem array, read back with an explicit
  nested schema, explode and flatten to relational rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.operators.sources import staged
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "llm_npmi_coherence",
    """
    WITH toks AS (
        SELECT source, doc_id, unnest(list_distinct(string_split(text, ' ')))
               AS w
        FROM documents WHERE length(text) > 0
    ),
    df AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS dfw
        FROM toks GROUP BY 1, 2
    ),
    ndocs AS (
        SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        FROM documents WHERE length(text) > 0 GROUP BY source
    ),
    top AS (
        SELECT source, w, dfw,
               row_number() OVER (PARTITION BY source
                                  ORDER BY dfw DESC, w) AS rk
        FROM df
    ),
    topk AS (SELECT * FROM top WHERE rk <= 10),
    co AS (
        SELECT a.source, a.w AS wa, b.w AS wb,
               a.dfw AS dfa, b.dfw AS dfb,
               CAST(count(*) AS BIGINT) AS df_ab
        FROM (SELECT t.source, t.doc_id, t.w, k.dfw
              FROM toks t JOIN topk k USING (source, w)) a
        JOIN (SELECT t.source, t.doc_id, t.w, k.dfw
              FROM toks t JOIN topk k USING (source, w)) b
          ON a.source = b.source AND a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(
               ln(CAST(c.df_ab AS DOUBLE) * n.nd / (c.dfa * c.dfb))
               / (-ln(CAST(c.df_ab AS DOUBLE) / n.nd))), 6) AS npmi
    FROM co c JOIN ndocs n USING (source)
    WHERE c.df_ab < n.nd
    GROUP BY c.source ORDER BY c.source
    """,
    tags=("llm", "text"),
)
def llm_npmi_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NPMI coherence (Bouma 2009; the topic-model eval of Newman et
    al. 2010): treat each source's top-10 document-frequency terms as
    a "topic" and average the normalized PMI
    ln(p(a,b)/(p(a)p(b))) / −ln p(a,b) over co-occurring top-term
    pairs — +1 means the terms always co-occur (a coherent topic),
    0 independence, −1 never. Document frequencies and co-document
    counts are exact int64 and every ln argument is a ratio of exact
    integer products; pairs with df_ab = nd are excluded (NPMI's
    0/0 removable singularity), and the average is round-6 display
    (theil convention).

    Scale shape: distinct-term explode, one (source, w) shuffle; the
    pair join runs ONLY on top-10-term postings per source (≤ 45
    pairs per source by construction), never the full vocabulary."""
    d = tbl(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = d.select(
        "source",
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    dfw = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("dfw")
    )
    nd = d.groupBy("source").agg(
        F.count_distinct("doc_id").cast("long").alias("nd")
    )
    wr = Window.partitionBy("source").orderBy(F.desc("dfw"), "w")
    topk = (
        dfw.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 10)
        .select("source", "w", "dfw")
    )
    posting = toks.join(topk, ["source", "w"])
    a = posting.select(
        "source",
        "doc_id",
        F.col("w").alias("wa"),
        F.col("dfw").alias("dfa"),
    )
    b = posting.select(
        F.col("source").alias("src_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("w").alias("wb"),
        F.col("dfw").alias("dfb"),
    )
    co = (
        a.join(
            b,
            (F.col("source") == F.col("src_b"))
            & (F.col("doc_id") == F.col("doc_b"))
            & (F.col("wa") < F.col("wb")),
        )
        .groupBy("source", "wa", "wb", "dfa", "dfb")
        .agg(F.count(F.lit(1)).cast("long").alias("df_ab"))
    )
    npmi = F.log(
        F.col("df_ab").cast("double") * F.col("nd") / (F.col("dfa") * F.col("dfb"))
    ) / (-F.log(F.col("df_ab").cast("double") / F.col("nd")))
    return (
        co.join(F.broadcast(nd), "source")
        .filter(F.col("df_ab") < F.col("nd"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg(npmi), 6).alias("npmi"),
        )
        .orderBy("source")
    )


@register(
    "ts_classical_decompose",
    """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    tr AS (
        SELECT event_type, day, c,
               CAST(dayofweek(day) AS INT) AS dow,
               CASE WHEN count(*) OVER win = 7
                    THEN CAST(sum(c) OVER win AS DOUBLE) / 7 END AS trend
        FROM d
        WINDOW win AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
        SELECT event_type, dow, avg(c - trend) AS seasonal
        FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2
    )
    SELECT t.event_type, CAST(t.day AS TIMESTAMP) AS day, t.c,
           round(t.trend, 4) AS trend,
           round(s.seasonal, 4) AS seasonal,
           round(t.c - t.trend - s.seasonal, 4) AS remainder
    FROM tr t JOIN seas s
      ON s.event_type = t.event_type AND s.dow = t.dow
    WHERE t.trend IS NOT NULL
    ORDER BY t.event_type, t.day
    """,
    tags=("timeseries",),
)
def ts_classical_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (the pre-STL standard,
    Macaulay 1931): per event-type daily series, trend = centered
    7-day moving average (full windows only), seasonal = mean
    residual per day-of-week, remainder = what's left — the
    three-way split every seasonality audit starts from. The MA is
    sum-of-7-ints / 7 (one correctly-rounded division of an exact
    sum); the weekday means average few residuals each (round-4
    display absorbs group-sum order drift, registry convention).
    Spark's dayofweek == DuckDB's dayofweek + 1 (Sun=1 vs Sun=0), an
    offset that cancels because it only KEYS the seasonal join.

    Scale shape: one keyed shuffle to the daily aggregate; the MA
    window partitions by type over the calendar-bounded axis; the
    seasonal join is keyed on (type, dow) — 7 rows per type."""
    e = tbl(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    win = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    tr = d.select(
        "event_type",
        "day",
        "c",
        F.dayofweek("day").cast("int").alias("dow"),
        F.when(
            F.count(F.lit(1)).over(win) == 7,
            F.sum("c").over(win).cast("double") / 7,
        ).alias("trend"),
    )
    seas = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy("event_type", "dow")
        .agg(F.avg(F.col("c") - F.col("trend")).alias("seasonal"))
    )
    return (
        tr.filter(F.col("trend").isNotNull())
        .join(seas, ["event_type", "dow"])
        .select(
            "event_type",
            F.col("day").cast("timestamp").alias("day"),
            "c",
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round(
                F.col("c") - F.col("trend") - F.col("seasonal"), 4
            ).alias("remainder"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "llm_lexical_diversity",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents WHERE length(text) > 0
    ),
    scored AS (
        SELECT doc_id, n,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
               -- EXACT integer sum of per-window type counts, ONE
               -- division: sum_k/(50*m) is a single correctly-rounded
               -- op, bit-identical across engines (a float MEAN of
               -- window TTRs drifts in the last ulp and flips round-4)
               CASE WHEN n >= 50 THEN
                   CAST(list_sum(list_transform(
                       range(1, n - 48),
                       i -> len(list_distinct(list_slice(toks, i, i + 49)))))
                        AS DOUBLE) / (50.0 * (n - 49))
               END AS mattr
        FROM t
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_types,
           round(CAST(n_types AS DOUBLE) / n, 4) AS ttr,
           round(mattr, 4) AS mattr50
    FROM scored ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def llm_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity: raw type-token ratio plus MATTR-50
    (Covington & McFall 2010) — the moving-average TTR over every
    50-token window, which unlike raw TTR does not shrink with
    document length (the property that makes it the standard
    human-text-vs-boilerplate diversity score). Entirely IN-ROW
    array algebra: per window list_slice → distinct count, no
    explode, no shuffle beyond the display sort. The MATTR mean is
    computed as the EXACT integer sum of per-window type counts
    divided once by 50·m — a single correctly-rounded division,
    bit-identical across engines (the first cut averaged float
    window TTRs and drifted a last-ulp across engines at sf0.1,
    flipping round-4 on one doc — the registry's one-division rule
    exists for exactly this).

    Scale shape: map-only; O(n·w) per doc in-row, embarrassingly
    parallel at any corpus size."""
    d = tbl(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = F.split("text", " ")
    n = F.size(toks)
    win_types = F.transform(
        F.sequence(F.lit(1), n - 49),
        lambda i: F.size(F.array_distinct(F.slice(toks, i, 50))).cast(
            "long"
        ),
    )
    # exact integer sum of per-window type counts, ONE division —
    # see the oracle comment
    mattr = F.when(
        n >= 50,
        F.aggregate(
            win_types, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).cast("double")
        / (50.0 * (n - 49)),
    )
    return (
        d.select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
            F.round(
                F.size(F.array_distinct(toks)).cast("double") / n, 4
            ).alias("ttr"),
            F.round(mattr, 4).alias("mattr50"),
        )
        .orderBy("doc_id")
    )


@register(
    "scan_json_nested",
    """
    SELECT o.o_orderkey, l.l_linenumber,
           CAST(l.l_quantity AS BIGINT) AS qty,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
               AS price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ORDER BY o.o_orderkey, l.l_linenumber
    """,
)
def scan_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion — the document-store interchange shape:
    stage each order as one JSON record with an EMBEDDED ARRAY of
    its line items (struct<orderkey, items: array<struct<...>>>),
    read back with an explicit nested schema (no sampling-based
    inference at scale), explode the array and flatten to relational
    rows. The roundtrip must reproduce the orders⋈lineitem join
    exactly — proving the nested encode, the schema-first decode,
    and the explode-flatten all preserve values. Prices ride as
    DECIMAL-derived doubles.

    Scale shape: the stage groups line items by order (one keyed
    shuffle, done once); the read is a schema-first JSON scan +
    map-side explode — splittable JSONL, no inference pass."""
    li = tbl(spark, sf_dir, "lineitem")
    nested = (
        li.select(
            F.col("l_orderkey").alias("orderkey"),
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_quantity").cast("long").alias("qty"),
                F.col("l_extendedprice")
                .cast("decimal(18,2)")
                .cast("double")
                .alias("price"),
            ).alias("item"),
        )
        .groupBy("orderkey")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
    )
    path = staged(sf_dir, "orders_json_nested", lambda tmp: nested.write.json(tmp))
    schema = (
        "orderkey BIGINT, "
        "items ARRAY<STRUCT<ln: INT, qty: BIGINT, price: DOUBLE>>"
    )
    back = spark.read.schema(schema).json(path)
    return (
        back.select(
            F.col("orderkey").alias("o_orderkey"),
            F.explode("items").alias("it"),
        )
        .select(
            "o_orderkey",
            F.col("it.ln").alias("l_linenumber"),
            F.col("it.qty").alias("qty"),
            F.col("it.price").alias("price"),
        )
        .orderBy("o_orderkey", "l_linenumber")
    )
