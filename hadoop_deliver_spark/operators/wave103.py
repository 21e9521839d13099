"""§2 extensions, hundred-third wave — engine-gap window emulation and
schema-evolution scanning.

- win_groups_frame: the SQL-standard GROUPS window frame, which
  Spark 4.1 does NOT parse (verified: PARSE_SYNTAX_ERROR) — emulated
  exactly with dense_rank + a RANGE frame over the rank, and proven
  against DuckDB's NATIVE GROUPS frame. The §2.E surface-completion
  move: when the engine lacks a construct, re-express it losslessly
  and let the oracle hold the original semantics.
- scan_parquet_mergeschema: schema evolution on read — two parquet
  batches written with DIFFERENT schemas (a column added mid-stream,
  the standard delivery-pipeline drift), unified by mergeSchema with
  null back-fill.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "win_groups_frame",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    grp AS (
        SELECT event_type, cnt,
               CAST(sum(cnt) AS BIGINT) AS gsum,
               CAST(count(*) AS BIGINT) AS gn
        FROM daily GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, cnt,
               gsum + coalesce(lag(gsum) OVER (PARTITION BY event_type
                   ORDER BY cnt), 0) AS grp_sum,
               gn + coalesce(lag(gn) OVER (PARTITION BY event_type
                   ORDER BY cnt), 0) AS grp_n
        FROM grp
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.cnt,
           CAST(l.grp_sum AS BIGINT) AS grp_sum,
           CAST(l.grp_n AS BIGINT) AS grp_n
    FROM daily d
    JOIN lagged l ON l.event_type = d.event_type AND l.cnt = d.cnt
    ORDER BY d.event_type, d.cnt, d.day
    """,
    tags=("window",),
)
def win_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard GROUPS window frame (peer-group-counted
    offsets: "this value group and the previous value group"),
    which Spark 4.1 cannot parse (PARSE_SYNTAX_ERROR on ``GROUPS
    BETWEEN`` — verified on this build) — emulated LOSSLESSLY:
    ``dense_rank`` assigns each peer group a consecutive integer,
    and a RANGE frame over that rank (``RANGE BETWEEN 1 PRECEDING
    AND CURRENT ROW``) is definitionally the GROUPS frame, because
    dense ranks of peer groups are exactly the group ordinals.
    DuckDB does not implement GROUPS mode either (Parser Error,
    verified), so the oracle derives the same semantics through a
    STRUCTURALLY DIFFERENT route — peer-group totals + lag of the
    previous group's total, joined back to the detail rows — which
    is a stronger cross-check than mirroring the rank trick: a wrong
    emulation (rank() instead of dense_rank(), or a ROWS frame)
    hash-mismatches on any day-count tie. Frame: per-type daily
    counts, windows partition by event_type.

    Scale shape: one keyed reduce to the (type, day) grid; both
    windows partition by event_type over the calendar-bounded daily
    series."""
    e = tbl(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("cnt")
    dr = daily.withColumn("gid", F.dense_rank().over(w))
    wg = (
        Window.partitionBy("event_type")
        .orderBy("gid")
        .rangeBetween(-1, 0)
    )
    return dr.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cnt",
        F.sum("cnt").over(wg).cast("long").alias("grp_sum"),
        F.count(F.lit(1)).over(wg).cast("long").alias("grp_n"),
    ).orderBy("event_type", "cnt", "day")


@register(
    "scan_parquet_mergeschema",
    """
    WITH unioned AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(NULL AS VARCHAR) AS priority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
               o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT coalesce(priority, 'MISSING') AS priority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM unioned GROUP BY 1 ORDER BY priority
    """,
    tags=("scan", "sources"),
)
def scan_parquet_mergeschema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch 1 of the sink was written
    BEFORE the ``priority`` column existed (even order keys), batch 2
    after (odd keys) — the standard mid-stream column addition every
    long-lived delivery pipeline accumulates. ``mergeSchema=true``
    unifies the footer schemas and back-fills the missing column with
    NULLs (verified by the 'MISSING' group carrying exactly the
    batch-1 rows); without the option, whichever footer Spark samples
    first would silently drop or fail the new column. The oracle
    reconstructs the same union arithmetically from the source table.

    Scale shape: one two-batch staged write (reused across calls),
    one merged scan with footer-level schema union (no data pass for
    the merge — parquet footers only), one keyed aggregate."""
    from hadoop_deliver_spark.operators.sources import staged

    from hadoop_deliver_spark.tables import dec2

    def write(tmp: str) -> None:
        o = tbl(spark, sf_dir, "orders")
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey",
            (dec2("o_totalprice") * 100).cast("long").alias("cents"),
        ).write.parquet(os.path.join(tmp, "b1"))
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            (dec2("o_totalprice") * 100).cast("long").alias("cents"),
            F.col("o_orderpriority").alias("priority"),
        ).write.parquet(os.path.join(tmp, "b2"))

    base = staged(sf_dir, "mergeschema_sink", write)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "b1"), os.path.join(base, "b2")
    )
    return (
        merged.groupBy(
            F.coalesce("priority", F.lit("MISSING")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("priority")
    )
