"""§2 extensions, forty-sixth wave — interpolated LM smoothing,
robust trend slope, fixed-width ingestion, and interval arithmetic.

- llm_jelinek_mercer: Jelinek-Mercer interpolated bigram smoothing
  (λ = ½, exact-binary) with per-source perplexity — the OTHER
  classic smoother next to llm_kneser_ney.
- ts_theil_sen: the Theil-Sen robust slope (median of pairwise
  slopes) per event-type daily series — the estimator that pairs
  with ts_mann_kendall's trend verdict.
- scan_fixed_width: fixed-width text ingestion (substr slicing off
  a staged mainframe-style layout) — the COBOL-era format every
  delivery engine still meets.
- fn_interval_arith: make_dt_interval / timestampadd /
  timestampdiff column arithmetic against DuckDB's INTERVAL twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.operators.sources import staged
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "llm_jelinek_mercer",
    """
    WITH toks AS (
        SELECT source, doc_id, string_split(text, ' ') AS t
        FROM documents WHERE length(text) > 0
    ),
    bg AS (
        SELECT source,
               unnest(CASE WHEN len(t) >= 2
                           THEN list_transform(range(1, len(t)),
                                i -> [t[i], t[i + 1]])
                           ELSE [] END) AS p
        FROM toks
    ),
    sb AS (
        SELECT source, p[1] AS w1, p[2] AS w2,
               CAST(count(*) AS BIGINT) AS n
        FROM bg GROUP BY 1, 2, 3
    ),
    c12 AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c12
            FROM sb GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
    uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cw
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE length(text) > 0)
        GROUP BY w
    ),
    tot AS (SELECT CAST(sum(cw) AS BIGINT) AS nt FROM uni)
    SELECT s.source,
           CAST(sum(s.n) AS BIGINT) AS n_bigrams,
           round(exp(-sum(s.n * ln(
                0.5 * CAST(x.c12 AS DOUBLE) / c1.c1
                + 0.5 * CAST(u.cw AS DOUBLE) / t.nt))
               / sum(s.n)), 4) AS perplexity
    FROM sb s
    JOIN c12 x USING (w1, w2)
    JOIN c1 USING (w1)
    JOIN uni u ON u.w = s.w2
    CROSS JOIN tot t
    GROUP BY s.source
    ORDER BY s.source
    """,
    tags=("llm", "lm"),
)
def llm_jelinek_mercer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM (Jelinek & Mercer 1980):
    p(w₂|w₁) = λ·c₁₂/c₁ + (1−λ)·c₂/N with λ = ½ — the linear-
    interpolation classic next to llm_kneser_ney's absolute
    discounting; per-source in-sample perplexity is the readout.
    λ = ½ is an exact binary double, each mixture component is one
    correctly-rounded division of exact int64 counts, and their sum
    is deterministic — so p is bit-identical across engines; only
    the ln/Σ/exp pass is conventional float (round-4, the
    perplexity_eval precedent).

    Scale shape: bigram explode map-side; (source, w1, w2) shuffle
    with partial aggregation; corpus counts re-aggregate FROM the
    per-source counts; keyed joins + one 1-row token-total
    broadcast."""
    d = tbl(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = F.split("text", " ")
    bg = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    sb = (
        d.select("source", F.explode(bg).alias("p"))
        .select("source", "p.w1", "p.w2")
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    c12 = sb.groupBy("w1", "w2").agg(F.sum("n").cast("long").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    uni = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cw"))
    )
    tot = uni.agg(F.sum("cw").cast("long").alias("nt"))
    p = 0.5 * F.col("c12").cast("double") / F.col("c1") + 0.5 * F.col(
        "cw"
    ).cast("double") / F.col("nt")
    return (
        sb.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(uni, sb["w2"] == uni["w"])
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(
                F.exp(-F.sum(F.col("n") * F.log(p)) / F.sum("n")), 4
            ).alias("perplexity"),
        )
        .orderBy("source")
    )


@register(
    "ts_theil_sen",
    """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type,
               CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS s,
               row_number() OVER (
                   PARTITION BY a.event_type
                   ORDER BY CAST(b.c - a.c AS DOUBLE) / (b.x - a.x),
                            a.x, b.x) AS rn,
               count(*) OVER (PARTITION BY a.event_type) AS m
        FROM d a JOIN d b
          ON a.event_type = b.event_type AND a.x < b.x
    )
    SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
           round(avg(s), 4) AS sen_slope
    FROM slopes
    WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("timeseries", "stats"),
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope (Theil 1950, Sen 1968): the median of all
    pairwise slopes (c_j − c_i)/(x_j − x_i) of the per-type daily
    series — the robust trend MAGNITUDE that pairs with
    ts_mann_kendall's trend VERDICT (up to 29% contamination moves
    it nowhere; OLS breaks at one outlier). Each slope is one
    correctly-rounded division of exact int64 deltas, so the sort
    order and the median-element selection (positions ⌈m/2⌉ and
    ⌈(m+1)/2⌉ in (slope, i, j) order, averaged) are bit-identical
    across engines; round-4 display.

    Scale shape: pairwise join on the calendar-bounded per-type
    daily aggregate only (≤ days² pairs per type at any corpus
    scale); the rank window partitions by type."""
    e = tbl(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select(
        "event_type",
        "c",
        F.datediff("day", F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    )
    a = d.select(
        "event_type", F.col("c").alias("ca"), F.col("x").alias("xa")
    )
    b = d.select(
        F.col("event_type").alias("et_b"),
        F.col("c").alias("cb"),
        F.col("x").alias("xb"),
    )
    slope = (F.col("cb") - F.col("ca")).cast("double") / (
        F.col("xb") - F.col("xa")
    )
    w = Window.partitionBy("event_type").orderBy("s", "xa", "xb")
    wm = Window.partitionBy("event_type")
    slopes = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("xa") < F.col("xb")),
        )
        .withColumn("s", slope)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("m", F.count(F.lit(1)).over(wm))
    )
    mid = (F.col("rn") == F.floor((F.col("m") + 1) / 2)) | (
        F.col("rn") == F.floor((F.col("m") + 2) / 2)
    )
    return (
        slopes.filter(mid)
        .groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            F.round(F.avg("s"), 4).alias("sen_slope"),
        )
        .orderBy("event_type")
    )


@register(
    "scan_fixed_width",
    """
    SELECT n_nationkey, trim(n_name) AS name, n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text ingestion — the mainframe/COBOL layout every
    delivery engine still meets: stage nation as 28-char records
    (key width 4, name width 20, region width 4, rpad-encoded), read
    as raw text, slice columns back out with substring + trim +
    casts. The roundtrip must reproduce the table exactly (the
    scan_csv contract). Fixed-width is SPLITTABLE by line like any
    text source, and the substring projection is map-only
    whole-stage codegen — at 100 TB this parses at scan speed with
    no quoting/escaping ambiguity, which is exactly why the format
    survives.

    Scale shape: one text scan, map-only parse, no shuffle until
    the display sort."""
    n = tbl(spark, sf_dir, "nation")
    fixed = n.select(
        F.concat(
            F.rpad(F.col("n_nationkey").cast("string"), 4, " "),
            F.rpad("n_name", 20, " "),
            F.rpad(F.col("n_regionkey").cast("string"), 4, " "),
        ).alias("value")
    )
    path = staged(sf_dir, "nation_fixed_width", lambda tmp: fixed.write.text(tmp))
    raw = spark.read.text(path)
    return (
        raw.select(
            F.trim(F.substring("value", 1, 4)).cast("long").alias(
                "n_nationkey"
            ),
            F.trim(F.substring("value", 5, 20)).alias("name"),
            F.trim(F.substring("value", 25, 4)).cast("int").alias(
                "n_regionkey"
            ),
        )
        .orderBy("n_nationkey")
    )


@register(
    "fn_interval_arith",
    """
    SELECT event_id,
           CAST(ts AS TIMESTAMP) + to_seconds(CAST(event_id % 90 AS BIGINT))
               AS plus_secs,
           CAST(ts AS TIMESTAMP) + to_minutes(CAST(user_id % 30 AS BIGINT))
               AS plus_mins,
           CAST(ts AS TIMESTAMP) - to_hours(CAST(2 AS BIGINT)) AS minus_2h,
           CAST(date_diff('minute', CAST(ts AS TIMESTAMP),
                CAST(ts AS TIMESTAMP)
                + to_minutes(CAST(user_id % 30 AS BIGINT))) AS BIGINT)
               AS diff_mins
    FROM events ORDER BY event_id
    """,
    tags=("function",),
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-time INTERVAL column arithmetic: make_dt_interval with
    per-row second/minute components added to (and subtracted from)
    timestamps, plus timestampdiff back out — the schedule-shift /
    SLA-window primitive. DuckDB twins via to_seconds/to_minutes/
    to_hours and date_diff; both engines do pure wall-clock
    arithmetic in the UTC session zone so no DST surface exists.
    Sort-before-project (see fn_date_extract).

    Scale shape: map-only projection."""
    e = tbl(spark, sf_dir, "events").orderBy("event_id")
    secs = (F.col("event_id") % 90).cast("long")
    mins = (F.col("user_id") % 30).cast("long")
    return e.select(
        "event_id",
        (
            F.col("ts")
            + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), secs)
        ).alias("plus_secs"),
        (
            F.col("ts") + F.make_dt_interval(F.lit(0), F.lit(0), mins)
        ).alias("plus_mins"),
        (F.col("ts") - F.make_dt_interval(F.lit(0), F.lit(2))).alias(
            "minus_2h"
        ),
        F.expr(
            "timestampdiff(MINUTE, ts, ts + make_dt_interval(0, 0, user_id % 30))"
        )
        .cast("long")
        .alias("diff_mins"),
    )
