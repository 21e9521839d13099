"""§2.K extensions, seventh wave — SQL-surface operators.

The engine's second entry point is the SQL string (SURVEY §3.2):
`spark.sql(...)` over temp views must be able to express everything
the DataFrame API does, plus the SQL-only constructs. Two of those
get dedicated operators:

- recursive CTE (new in Spark 4): iterative traversal INSIDE one
  declarative statement — the planner unrolls it, one shuffle per
  step, no driver-side loop.
- CTAS + INSERT INTO: catalog-table DML, the workflow that turns a
  query into a managed dataset other jobs read by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import tbl


@register(
    "sql_recursive_cte",
    """
    WITH RECURSIVE chain(key, node, depth) AS (
        SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey <= 512
        UNION ALL
        SELECT key, node // 2, depth + 1 FROM chain WHERE node > 1
    )
    SELECT key, max(depth) AS depth_to_root,
           CAST(sum(node) AS BIGINT) AS path_sum
    FROM chain GROUP BY key ORDER BY key
    """,
    tags=("sql",),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk each order key up
    the implicit binary hierarchy node → node/2 until the root —
    depth and path-sum per key, all integer arithmetic. This is the
    SQL-only construct for iterative graph/hierarchy traversal (BOM
    explosions, org charts); the engine unrolls it into one join per
    level, each an ordinary shuffle — contrast llm_dedup_clusters,
    which hand-rolls the same fixpoint loop in Python for an unbounded
    diameter. Oracle: DuckDB's own recursive CTE (`//` vs `div` is the
    only dialect difference)."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("hds_orders_v")
    return spark.sql(
        """
        WITH RECURSIVE chain(key, node, depth) AS (
            SELECT o_orderkey, o_orderkey, 0 FROM hds_orders_v
            WHERE o_orderkey <= 512
            UNION ALL
            SELECT key, node div 2, depth + 1 FROM chain WHERE node > 1
        )
        SELECT key, max(depth) AS depth_to_root,
               sum(node) AS path_sum
        FROM chain GROUP BY key ORDER BY key
        """
    )


@register(
    "sql_ctas_insert",
    """
    WITH t AS (
        SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE n_regionkey <= 2
        UNION ALL
        SELECT n_nationkey + 100, upper(n_name), n_regionkey
        FROM nation WHERE n_regionkey = 3
    )
    SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
    FROM t GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    tags=("sql",),
)
def sql_ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog DML: CREATE TABLE AS SELECT seeds a managed table, then
    INSERT INTO ... SELECT appends a second batch — the named-dataset
    hand-off between pipeline stages (writer materializes once,
    readers address the catalog name). Both statements are ordinary
    jobs: CTAS is a parallel write, INSERT appends new files — no
    rewrite of existing data. The read-back aggregate hash-checks the
    combined content. The table lives at an explicit staged LOCATION
    (not the default warehouse): a fresh session's catalog does not
    know about a prior run's managed directory, and CTAS refuses a
    location that already exists — so every call gets a fresh scratch
    location, never an inherited one."""
    import os

    from hadoop_deliver_spark.operators.sources import scratch

    tbl(spark, sf_dir, "nation").createOrReplaceTempView("hds_nation_v")
    name = "hds_ctas_demo"
    loc = os.path.join(scratch(sf_dir, "ctas_demo"), name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"""
        CREATE TABLE {name} USING parquet LOCATION '{loc}' AS
        SELECT n_nationkey, n_name, n_regionkey FROM hds_nation_v
        WHERE n_regionkey <= 2
        """
    )
    spark.sql(
        f"""
        INSERT INTO {name}
        SELECT n_nationkey + 100, upper(n_name), n_regionkey
        FROM hds_nation_v WHERE n_regionkey = 3
        """
    )
    return spark.sql(
        f"""
        SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        FROM {name} GROUP BY n_regionkey ORDER BY n_regionkey
        """
    )


@register(
    "scan_python_datasource",
    """
    WITH seq AS (
        SELECT i AS id, CAST((i * i) % 97 AS DOUBLE) AS value
        FROM range(0, 5000) t(i)
    )
    SELECT CAST(id % 8 AS BIGINT) AS bucket, count(*) AS n,
           CAST(sum(value) AS BIGINT) AS total
    FROM seq GROUP BY 1 ORDER BY 1
    """,
    tags=("sql",),
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via Spark 4's Python Data Source API: a
    deterministic sequence source that plans its own InputPartitions
    (each worker generates its slice independently — the contract any
    scalable connector must honor: no driver-side materialization,
    splits computed from metadata). This is the extension path for the
    reference genre's bespoke archive formats when no JVM DataSource
    exists; rows stream out of Python per-partition, so at 100 TB the
    source parallelizes exactly like a file scan. The oracle
    reconstructs the same sequence relationally; integer-valued
    doubles sum exactly."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangePart(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class SeqReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 100))
            self.parts = int(options.get("parts", 4))

        def partitions(self):
            step = max(1, self.n // self.parts)
            bounds = list(range(0, self.n, step)) + [self.n]
            return [RangePart(a, b) for a, b in zip(bounds, bounds[1:])]

        def read(self, part):
            for i in range(part.start, part.end):
                yield (i, float((i * i) % 97))

    class SeqSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "hds_seq"

        def schema(self) -> str:
            return "id BIGINT, value DOUBLE"

        def reader(self, schema):
            return SeqReader(self.options)

    spark.dataSource.register(SeqSource)
    seq = spark.read.format("hds_seq").option("n", 5000).option("parts", 8).load()
    return (
        seq.groupBy((F.col("id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").cast("long").alias("total"),
        )
        .orderBy("bucket")
    )


_CBO_TABLES = ("region", "nation", "customer", "orders", "lineitem")

# Deliberately FACT-FIRST declared join order: without CBO the planner
# keeps it, dragging the full lineitem cardinality through every join.
_CBO_STAR_SQL = """
    SELECT r.r_name, count(*) AS n,
           CAST(sum(li.l_quantity) AS BIGINT) AS qty
    FROM {li} li
    JOIN {o} o ON li.l_orderkey = o.o_orderkey
    JOIN {c} c ON o.o_custkey = c.c_custkey
    JOIN {n} n ON c.c_nationkey = n.n_nationkey
    JOIN {r} r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
"""


def cbo_table_names(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Create + ANALYZE (once per fixture generation) the external
    catalog tables the CBO demo needs, returning short→catalog-name.
    Names embed the fixture tag so regenerated fixtures get fresh
    stats instead of stale ones."""
    import os
    import re

    from hadoop_deliver_spark.operators.sources import _fixture_tag

    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf_dir)))
    fid = _fixture_tag(sf_dir)[:6]
    names = {t: f"cbo_{tag}_{fid}_{t}" for t in _CBO_TABLES}
    for t, name in names.items():
        if not spark.catalog.tableExists(name):
            spark.sql(
                f"CREATE TABLE {name} USING parquet "
                f"LOCATION '{sf_dir}/{t}.parquet'"
            )
            # Column stats (NDV/min/max) are what make join-cardinality
            # estimates real; table-level sizeInBytes alone balloons to
            # PiB-scale worst-case guesses.
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
    return names


@register(
    "sql_cbo_star",
    """
    SELECT r.r_name, count(*) AS n,
           CAST(sum(li.l_quantity) AS BIGINT) AS qty
    FROM lineitem li
    JOIN orders o ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
    tags=("sql",),
)
def sql_cbo_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering, end to end: ANALYZE TABLE computes
    row counts + column NDV/min/max for the five star tables, and with
    `spark.sql.cbo.enabled` + `cbo.joinReorder.enabled` the optimizer
    rewrites the deliberately fact-first declared order
    (lineitem→orders→customer→nation→region) into the stats-driven
    dim-first order — measured on these fixtures the optimized leaf
    order flips to [nation, region, customer, orders, lineitem], so
    every intermediate result is dimension-sized until the single
    fact join (the difference between shuffling lineitem 4 times and
    once at 100 TB; SURVEY §4.1 deferred exactly this). The CBO confs
    are set by the PLAN-GUARD TEST around execution, not leaked here
    session-wide (stats sit only on the cbo_* tables, but cbo.enabled
    flips size estimation everywhere); without them this query still
    answers identically — which is what the oracle checks — via the
    heuristic fact-first plan, hinting nothing."""
    names = cbo_table_names(spark, sf_dir)
    return spark.sql(
        _CBO_STAR_SQL.format(
            li=names["lineitem"],
            o=names["orders"],
            c=names["customer"],
            n=names["nation"],
            r=names["region"],
        )
    )
