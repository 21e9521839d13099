"""§2 extensions, fifty-second wave — experiment health, lead-lag
discovery, multiple-testing discipline, and dirty-CSV ingestion.

- events_srm_check: the sample-ratio-mismatch chi-square
  goodness-of-fit — the first health check every experimentation
  platform runs before reading any metric.
- ts_cross_correlation: lagged cross-correlation between event-type
  daily series — the lead-lag discovery scan behind "does X drive
  Y?".
- events_holm_correction: Holm (1979) step-down multiple-testing
  correction over per-type weekend-effect z-tests, with the rank
  thresholds as shared literals so no quantile function is needed.
- scan_csv_null_markers: CSV ingestion with custom NULL markers —
  the "NA"/"-" sentinel mess every real feed ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_deliver_spark.operators.sources import staged
from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl

# two-sided Holm thresholds for m = 5 tests at family alpha = 0.05:
# z at alpha/(m-j+1)/2 for rank j = 1..5 — literals shared with the
# oracle so no inverse-normal function is needed in either engine
_HOLM_Z = [2.5758, 2.4977, 2.3940, 2.2414, 1.9600]


@register(
    "events_srm_check",
    """
    WITH g AS (
        SELECT user_id % 2 = 0 AS grp_a,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    p AS (
        SELECT CAST(sum(n) FILTER (grp_a) AS BIGINT) AS n_a,
               CAST(sum(n) FILTER (NOT grp_a) AS BIGINT) AS n_b
        FROM g
    )
    SELECT n_a, n_b,
           round(CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b)
                 / (n_a + n_b), 4) AS chi2,
           (CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b))
               > 3.8415 AS srm_flag
    FROM p
    """,
    tags=("analytics", "stats"),
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check — the chi-square goodness-of-fit
    of the A/B traffic split against its designed 50/50 (for equal
    expected counts the statistic collapses to (n_a−n_b)²/(n_a+n_b)):
    the FIRST health gate every experimentation platform runs,
    because a biased split invalidates every downstream metric
    (Kohavi's trustworthy-experiments canon). Counts are exact
    int64, the statistic is one fixed-order float expression, and
    the flag compares against the χ²₁(0.05) = 3.8415 literal shared
    with the oracle — no p-value function needed.

    Scale shape: one map-side-combined global aggregate."""
    e = tbl(spark, sf_dir, "events")
    g = e.groupBy((F.col("user_id") % 2 == 0).alias("grp_a")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    p = g.agg(
        F.sum(F.when(F.col("grp_a"), F.col("n"))).cast("long").alias("n_a"),
        F.sum(F.when(~F.col("grp_a"), F.col("n"))).cast("long").alias("n_b"),
    )
    chi2 = (F.col("n_a") - F.col("n_b")).cast("double") * (
        F.col("n_a") - F.col("n_b")
    ) / (F.col("n_a") + F.col("n_b"))
    return p.select(
        "n_a",
        "n_b",
        F.round(chi2, 4).alias("chi2"),
        (chi2 > 3.8415).alias("srm_flag"),
    )


@register(
    "ts_cross_correlation",
    """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag),
    xc AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
               corr(a.c, b.c) AS r,
               CAST(count(*) AS BIGINT) AS n_days
        FROM d a
        CROSS JOIN lags l
        JOIN d b ON b.event_type > a.event_type
               AND b.day = a.day + CAST(l.lag AS INT)
        GROUP BY 1, 2, 3
        HAVING count(*) >= 20
    )
    SELECT type_a, type_b, lag, n_days, round(r, 4) AS r
    FROM (SELECT *, row_number() OVER (
              PARTITION BY type_a, type_b
              ORDER BY abs(r) DESC, lag) AS rn
          FROM xc)
    WHERE rn = 1
    ORDER BY type_a, type_b
    """,
    tags=("timeseries", "stats"),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation scan (the CCF of classical time-series
    practice): for every ordered event-type pair, Pearson r between
    a's day-t counts and b's day-(t+ℓ) counts for ℓ ∈ [−3, 3],
    reporting each pair's best |r| lag — positive best-lag means a
    LEADS b, the discovery scan behind "does X drive Y?". corr()
    partial-merges on the wire from exact integer inputs; the best
    lag is picked on |r| with the lag as the deterministic tiebreak
    (identical doubles both engines: same exact inputs, same
    aggregate formula), and only pairs with ≥ 20 overlapping days
    count (estimator support).

    Scale shape: everything runs on the calendar-bounded per-type
    daily aggregate; the lag join is an equi-join on the shifted
    day key, 7 lags × type pairs."""
    e = tbl(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a = d.select(
        F.col("event_type").alias("type_a"),
        F.col("day").alias("day_a"),
        F.col("c").alias("ca"),
    )
    b = d.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("day_b"),
        F.col("c").alias("cb"),
    )
    xc = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("type_b") > F.col("type_a"))
            & (
                F.col("day_b")
                == F.date_add("day_a", F.col("lag"))
            ),
        )
        .groupBy("type_a", "type_b", "lag")
        .agg(
            F.corr("ca", "cb").alias("r"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
        .filter(F.col("n_days") >= 20)
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.abs(F.col("r")).desc(), "lag"
    )
    return (
        xc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("type_a", "type_b", "lag", "n_days", F.round("r", 4).alias("r"))
        .orderBy("type_a", "type_b")
    )


@register(
    "events_holm_correction",
    """
    WITH s AS (
        SELECT event_type,
               CAST(count(*) FILTER (dayofweek(CAST(ts AS DATE)) IN (0, 6))
                    AS BIGINT) AS n_we,
               CAST(count(*) FILTER (dayofweek(CAST(ts AS DATE))
                    NOT IN (0, 6)) AS BIGINT) AS n_wd
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT event_type, n_we, n_wd,
               (n_we - (n_we + n_wd) * 2.0 / 7)
               / sqrt((n_we + n_wd) * (2.0 / 7) * (5.0 / 7)) AS z
        FROM s
    ),
    ranked AS (
        SELECT event_type, n_we, n_wd, z,
               row_number() OVER (ORDER BY abs(z) DESC, event_type) AS rk
        FROM z
    ),
    dec AS (
        SELECT *,
               abs(z) > (HOLM_Z_LITERALS)[rk] AS passes_own
        FROM ranked
    )
    SELECT event_type, n_we, n_wd, round(z, 4) AS z, rk,
           CAST(min(CASE WHEN passes_own THEN 1 ELSE 0 END)
                OVER (ORDER BY rk
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BOOLEAN) AS rejected
    FROM dec ORDER BY rk
    """.replace(
        "HOLM_Z_LITERALS",
        "[" + ", ".join(repr(v) for v in _HOLM_Z) + "]",
    ),
    tags=("analytics", "stats"),
)
def events_holm_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down multiple-testing correction (Holm 1979) over
    the per-type "weekend effect" z-tests (is each type's weekend
    share ≠ the calendar's 2/7?): sort |z| descending, compare rank j
    against the α/(m−j+1) two-sided threshold, and reject prefix-
    wise — a hypothesis is rejected only while every stronger one
    was (the step-down rule that controls familywise error where
    naive per-test α = 0.05 would fire spuriously m times as often).
    The five thresholds are LITERALS shared with the oracle (no
    inverse-normal needed); z comes from exact integer counts in one
    fixed-order expression, so the threshold compares are
    bit-deterministic; the prefix-AND is a running min window over
    the m-row table.

    Scale shape: one keyed conditional-count aggregate; everything
    after runs on m = |event_type| rows."""
    e = tbl(spark, sf_dir, "events")
    # Spark dayofweek: Sun=1, Sat=7; DuckDB dayofweek: Sun=0, Sat=6 —
    # both select the same weekend days
    is_we = F.dayofweek(F.to_date("ts")).isin(1, 7)
    s = e.groupBy("event_type").agg(
        F.count_if(is_we).cast("long").alias("n_we"),
        F.count_if(~is_we).cast("long").alias("n_wd"),
    )
    n = F.col("n_we") + F.col("n_wd")
    z = (F.col("n_we") - n * 2.0 / 7) / F.sqrt(n * (2.0 / 7) * (5.0 / 7))
    ranked = s.withColumn("z", z).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.abs(F.col("z")).desc(), "event_type")
        ),
    )
    thresholds = F.array(*[F.lit(v) for v in _HOLM_Z])
    dec = ranked.withColumn(
        "passes_own",
        F.abs(F.col("z")) > F.element_at(thresholds, F.col("rk")),
    )
    wprefix = (
        Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    )
    return dec.select(
        "event_type",
        "n_we",
        "n_wd",
        F.round("z", 4).alias("z"),
        "rk",
        F.min(F.when(F.col("passes_own"), 1).otherwise(0))
        .over(wprefix)
        .cast("boolean")
        .alias("rejected"),
    ).orderBy("rk")


@register(
    "scan_csv_null_markers",
    """
    SELECT s_suppkey, s_name,
           CASE WHEN s_nationkey % 5 = 0 THEN NULL
                ELSE s_nationkey END AS nationkey_or_null,
           CASE WHEN s_acctbal < 0 THEN NULL ELSE s_acctbal END
               AS bal_or_null
    FROM supplier ORDER BY s_suppkey
    """,
)
def scan_csv_null_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion with custom NULL sentinels — the "NA" / "-"
    mess every real feed ships: stage supplier with some values
    REPLACED by the sentinel string "NA", then read back with
    nullValue="NA" so the sentinels land as real SQL NULLs, typed by
    the explicit schema. The oracle states which cells must be NULL
    from first principles. At 100 TB the lesson is the same as
    scan_csv: sentinel handling is a reader OPTION, not a
    post-processing pass over parsed strings.

    Scale shape: one staged write (once), splittable CSV scan,
    map-only."""
    sup = tbl(spark, sf_dir, "supplier")
    dirty = sup.select(
        "s_suppkey",
        "s_name",
        F.when(F.col("s_nationkey") % 5 == 0, F.lit("NA"))
        .otherwise(F.col("s_nationkey").cast("string"))
        .alias("nationkey_or_null"),
        F.when(F.col("s_acctbal") < 0, F.lit("NA"))
        .otherwise(F.col("s_acctbal").cast("string"))
        .alias("bal_or_null"),
    )
    path = staged(
        sf_dir, "supplier_csv_na", lambda tmp: dirty.write.csv(tmp, header=True)
    )
    schema = (
        "s_suppkey BIGINT, s_name STRING, "
        "nationkey_or_null INT, bal_or_null DOUBLE"
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("nullValue", "NA")
        .csv(path)
        .orderBy("s_suppkey")
    )
