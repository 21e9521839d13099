"""§2 extensions, hundredth wave — multi-class classifier diagnostics
and partition-level backfill planning.

- llm_langid_confusion: per-class confusion summary (precision /
  recall / F1) of the marker-token language identifier against the
  labeled lang column — the multi-class companion of the binary
  llm_classifier_eval, built on llm_lang_id's EXACT prediction rule
  (the oracle embeds that query's registered SQL as a CTE, so the
  two can never drift).
- delivery_backfill_planner: the missing-partition planner every
  date-partitioned delivery pipeline needs — writes a real
  date-partitioned sink with simulated gaps, discovers the delivered
  partitions from the FILES (not the rule), anti-joins the calendar,
  and coalesces the missing days into contiguous backfill ranges.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import REGISTRY, register
from hadoop_deliver_spark.tables import tbl

# llm_text registers before this module (operators/__init__ import
# order); reusing its REGISTERED oracle keeps the prediction rule
# bit-identical between the two queries by construction.
_LANG_ID_SQL = REGISTRY["llm_lang_id"].oracle


@register(
    "llm_langid_confusion",
    f"""
    WITH pred AS ({_LANG_ID_SQL}),
    cls AS (
        SELECT actual_lang AS lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (guessed_lang = actual_lang)
                    AS BIGINT) AS n_correct
        FROM pred GROUP BY 1
    ),
    predicted AS (
        SELECT guessed_lang AS lang, CAST(count(*) AS BIGINT) AS n_predicted
        FROM pred GROUP BY 1
    )
    SELECT cls.lang, cls.n_docs, cls.n_correct,
           coalesce(predicted.n_predicted, 0) AS n_predicted,
           coalesce(round(CAST(cls.n_correct AS DOUBLE)
                          / nullif(predicted.n_predicted, 0), 6), 0.0)
               AS precision,
           round(CAST(cls.n_correct AS DOUBLE) / cls.n_docs, 6) AS recall,
           round(2.0 * cls.n_correct
                 / (cls.n_docs + coalesce(predicted.n_predicted, 0)), 6)
               AS f1
    FROM cls LEFT JOIN predicted USING (lang)
    ORDER BY cls.lang
    """,
    tags=("llm", "quality"),
)
def llm_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confusion summary of the marker-token language
    identifier (llm_lang_id) against the labeled ``lang`` column:
    for each ACTUAL language, support, correct count, how often the
    class was PREDICTED, and precision / recall / F1. F1 is
    evaluated in the division-safe harmonic identity 2c/(n + p)
    (= 2PR/(P+R) when both defined, and the correct 0 when the class
    is never predicted — e.g. zh, which has no marker tokens);
    precision is pinned 0 for never-predicted classes via
    coalesce/nullif on BOTH engines. The prediction rule is not
    restated: the Spark side calls llm_lang_id and the oracle embeds
    that query's registered SQL as a CTE, so rule drift between the
    two queries is impossible by construction.

    Scale shape: the lang-ID map pass, two keyed class aggregates
    (5-row frames), a broadcast-size left join."""
    from hadoop_deliver_spark.operators.llm_text import llm_lang_id

    pred = llm_lang_id(spark, sf_dir)
    cls = pred.groupBy(F.col("actual_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("guessed_lang") == F.col("actual_lang")).cast("long"))
        .cast("long")
        .alias("n_correct"),
    )
    predicted = pred.groupBy(F.col("guessed_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_predicted")
    )
    j = cls.join(F.broadcast(predicted), "lang", "left")
    npred = F.coalesce(F.col("n_predicted"), F.lit(0))
    return j.select(
        "lang",
        "n_docs",
        "n_correct",
        npred.alias("n_predicted"),
        F.coalesce(
            F.round(
                F.col("n_correct").cast("double")
                / F.nullif(F.col("n_predicted"), F.lit(0)),
                6,
            ),
            F.lit(0.0),
        ).alias("precision"),
        F.round(
            F.col("n_correct").cast("double") / F.col("n_docs"), 6
        ).alias("recall"),
        F.round(
            2.0 * F.col("n_correct") / (F.col("n_docs") + npred), 6
        ).alias("f1"),
    ).orderBy("lang")


@register(
    "delivery_backfill_planner",
    """
    WITH cal AS (
        SELECT unnest(generate_series(
                   (SELECT min(CAST(ts AS DATE)) FROM events),
                   (SELECT max(CAST(ts AS DATE)) FROM events),
                   INTERVAL 1 DAY))::DATE AS day
    ),
    missing AS (
        SELECT day FROM cal WHERE dayofmonth(day) % 5 = 2
    ),
    isl AS (
        SELECT day,
               day - CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                   * INTERVAL 1 DAY AS grp
        FROM missing
    )
    SELECT strftime(min(day), '%Y-%m-%d') AS range_start,
           strftime(max(day), '%Y-%m-%d') AS range_end,
           CAST(count(*) AS BIGINT) AS n_days
    FROM isl GROUP BY grp ORDER BY range_start
    """,
    tags=("delivery", "etl"),
)
def delivery_backfill_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-partition backfill planner — the operational query
    behind every date-partitioned delivery pipeline ("which days do
    I re-run?"): a REAL date-partitioned parquet sink is written
    with simulated delivery gaps (days with day-of-month ≡ 2 mod 5
    withheld), the delivered set is then discovered from the FILES
    (reading the sink's partition column — not by re-applying the
    rule), the full calendar is densified from the source span, and
    the anti-join's missing days are coalesced into contiguous
    backfill ranges by the gaps-and-islands date−row_number group
    key. The oracle derives the same ranges from the withholding
    rule arithmetically — if partition discovery, the calendar
    densify, or the island assembly is wrong, the ranges mismatch.

    Scale shape: one partitioned write + partition-pruned discovery
    scan (partition values only — Spark reads them from directory
    names, no row data); the calendar sequence and islands window
    live on the bounded day axis (allowlisted ts_* shape)."""
    from hadoop_deliver_spark.operators.sources import staged

    e = tbl(spark, sf_dir, "events")
    path = staged(
        sf_dir,
        "backfill_sink",
        lambda tmp: e.select(F.to_date("ts").alias("day"), "event_id")
        .filter(F.dayofmonth("day") % 5 != 2)
        .withColumn("day", F.col("day").cast("string"))
        .write.parquet(tmp, partitionBy="day"),
    )
    have = (
        spark.read.parquet(path)
        .select(F.col("day").cast("date").alias("day"))
        .distinct()
    )
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    missing = cal.join(have, "day", "left_anti")
    isl = missing.select(
        "day",
        F.date_sub(
            "day", F.row_number().over(Window.orderBy("day"))
        ).alias("grp"),
    )
    return (
        isl.groupBy("grp")
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("range_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("range_end"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .select("range_start", "range_end", "n_days")
        .orderBy("range_start")
    )
