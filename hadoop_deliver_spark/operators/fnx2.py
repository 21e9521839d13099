"""§2 extensions, twenty-seventh wave — null-preserving explodes, map
higher-order functions, KV parsing, array mutation, join-strategy
hints, range-partitioned delivery.

- fn_explode_outer: explode_outer / posexplode_outer keep the parent
  row when the array is empty or NULL — the LEFT JOIN of explodes;
  plain explode silently drops those rows (a classic data-loss bug).
- fn_map_hof: transform_values / transform_keys / map_filter /
  map_zip_with — map-typed higher-order functions, surfaced as
  scalars the oracle recomputes from first principles.
- fn_str_to_map: `str_to_map` parsing of k=v;k=v payload strings into
  typed values — the column-level twin of scan_kv_tsv's file format.
- fn_array_mutate: the Spark 3.4+ array-mutation family —
  array_append / array_prepend / array_insert / array_compact /
  array_size.
- join_hint_shuffle_hash: the join-strategy control surface — a
  SHUFFLE_HASH hint forces ShuffledHashJoin where the planner would
  pick SortMergeJoin (plan-asserted in the test ring); same rows
  either way, no sort phase when one side comfortably builds a hash
  table per partition.
- sink_range_partitioned: repartitionByRange + sortWithinPartitions
  delivery — globally ordered output across files (file N's keys all
  precede file N+1's), the layout that makes downstream merge reads
  and key-range pruning trivial; read-back checksum proves content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_deliver_spark.registry import register
from hadoop_deliver_spark.tables import dec2, tbl


@register(
    "fn_explode_outer",
    """
    WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN []
                    ELSE string_split(text, ' ')[1:3] END AS toks
        FROM documents
    )
    SELECT doc_id, coalesce(t.tok, '<none>') AS tok
    FROM src LEFT JOIN (
        SELECT doc_id, unnest(toks) AS tok FROM src
    ) t USING (doc_id)
    ORDER BY doc_id, tok
    """,
    tags=("fn",),
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode: every 5th document's token array is
    emptied, and explode_outer still emits its parent row (token
    NULL, surfaced '<none>') where plain explode would silently DROP
    it — the subtle row-loss bug in token pipelines that join back to
    the document table and wonder where rows went. The oracle builds
    the same semantics as a LEFT JOIN against the unnested rows.
    Map-side generator, no shuffle."""
    d = tbl(spark, sf_dir, "documents")
    toks = F.when(
        F.col("doc_id") % 5 == 0, F.array().cast("array<string>")
    ).otherwise(F.slice(F.split("text", " "), 1, 3))
    return (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode_outer("toks").alias("tok"))
        .select("doc_id", F.coalesce("tok", F.lit("<none>")).alias("tok"))
        .orderBy("doc_id", "tok")
    )


@register(
    "fn_map_hof",
    """
    SELECT l_orderkey, l_linenumber,
           l_quantity * 2 AS qty_doubled,
           CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS n_big_disc,
           l_quantity + l_discount AS zipped_sum,
           'QTY' AS upper_keys
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    tags=("fn",),
)
def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed higher-order functions: transform_values (double
    every value), map_filter (keep discounts > 5%), map_zip_with
    (add two maps key-wise), transform_keys (uppercase). Each result
    is surfaced as a scalar probe — extracted value, surviving-entry
    count, zipped sum, joined keys — that the oracle recomputes from
    the raw columns, the fn_map contract extended to the HOF family.
    Map-only projection; sort-before-project (global order preserved,
    sampler/sort touch only the scan)."""
    li = tbl(spark, sf_dir, "lineitem").orderBy("l_orderkey", "l_linenumber")
    mq = F.create_map(F.lit("qty"), F.col("l_quantity"))
    md = F.create_map(F.lit("qty"), F.col("l_discount"))
    doubled = F.transform_values(mq, lambda k, v: v * 2)
    big = F.map_filter(
        F.create_map(F.lit("d"), F.col("l_discount")), lambda k, v: v > 0.05
    )
    zipped = F.map_zip_with(mq, md, lambda k, v1, v2: v1 + v2)
    upper = F.transform_keys(mq, lambda k, v: F.upper(k))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(doubled, F.lit("qty")).alias("qty_doubled"),
        F.size(big).alias("n_big_disc"),
        F.element_at(zipped, F.lit("qty")).alias("zipped_sum"),
        F.array_join(F.map_keys(upper), ",").alias("upper_keys"),
    )


@register(
    "fn_str_to_map",
    """
    WITH payload AS (
        SELECT event_id,
               'type=' || event_type || ';user=' || CAST(user_id AS VARCHAR)
               || ';cents=' || CAST(CAST(floor(value * 100) AS BIGINT)
                                    AS VARCHAR) AS kv
        FROM events
    )
    SELECT event_id,
           string_split(string_split(kv, ';')[1], '=')[2] AS type_parsed,
           CAST(string_split(string_split(kv, ';')[2], '=')[2] AS BIGINT)
               AS user_parsed,
           CAST(string_split(string_split(kv, ';')[3], '=')[2] AS BIGINT)
               AS cents_parsed,
           3 AS n_entries
    FROM payload ORDER BY event_id
    """,
    tags=("fn",),
)
def fn_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_to_map: the `k=v;k=v` payload string (assembled from the
    row, then parsed back — a pure round-trip) becomes a typed map
    and its entries are extracted and cast. This is the column-level
    form of the Hadoop-Streaming KV convention scan_kv_tsv handles at
    file level; the oracle parses the same string with positional
    splits. Map-only."""
    e = tbl(spark, sf_dir, "events")
    kv = F.concat(
        F.lit("type="),
        F.col("event_type"),
        F.lit(";user="),
        F.col("user_id").cast("string"),
        F.lit(";cents="),
        F.floor(F.col("value") * 100).cast("long").cast("string"),
    )
    m = F.str_to_map(kv, F.lit(";"), F.lit("="))
    return (
        e.select("event_id", m.alias("m"))
        .select(
            "event_id",
            F.element_at("m", F.lit("type")).alias("type_parsed"),
            F.element_at("m", F.lit("user")).cast("long").alias("user_parsed"),
            F.element_at("m", F.lit("cents")).cast("long").alias("cents_parsed"),
            F.size("m").alias("n_entries"),
        )
        .orderBy("event_id")
    )


@register(
    "fn_array_mutate",
    """
    WITH src AS (
        SELECT doc_id, string_split(text, ' ')[1:4] AS a
        FROM documents
    )
    SELECT doc_id,
           array_to_string(list_append(a, '<eos>'), ',') AS appended,
           array_to_string(list_prepend('<bos>', a), ',') AS prepended,
           array_to_string(list_concat(list_concat([a[1]], ['<sep>']),
                                       a[2:len(a)]), ',') AS inserted,
           CAST(len(a) AS INTEGER) AS n
    FROM src ORDER BY doc_id
    """,
    tags=("fn", "array"),
)
def fn_array_mutate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array mutation family (Spark 3.4+): array_append / array_prepend
    (the BOS/EOS token framing every sequence pipeline does),
    array_insert at a position (separator injection), array_size.
    The oracle rebuilds each result with list concatenation — same
    strings, so a semantics drift in any of the four (1-based
    positions, null handling) cannot hide. Map-only."""
    d = tbl(spark, sf_dir, "documents")
    a = F.slice(F.split("text", " "), 1, 4)
    return d.select(
        "doc_id",
        F.array_join(F.array_append(a, F.lit("<eos>")), ",").alias("appended"),
        F.array_join(F.array_prepend(a, F.lit("<bos>")), ",").alias("prepended"),
        F.array_join(F.array_insert(a, 2, F.lit("<sep>")), ",").alias("inserted"),
        F.array_size(a).alias("n"),
    ).orderBy("doc_id")


@register(
    "join_hint_shuffle_hash",
    """
    SELECT o.o_orderpriority, count(*) AS n_items,
           CAST(CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,2)))
                     AS DOUBLE) AS REAL) AS total_price
    FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
    tags=("join",),
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control: the SHUFFLE_HASH hint forces a
    ShuffledHashJoin where the planner's default for two fact tables
    is SortMergeJoin (plan-asserted in the test ring). SHJ skips
    BOTH sort phases — the right trade when one side's per-partition
    build fits in memory (orders here, ~1/4 the rows of lineitem):
    at 100 TB this is the knob for medium×large joins where sorting
    the large side dominates SMJ cost. Same answer either way — the
    hint moves only the physical strategy."""
    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec2("l_extendedprice")).cast("double").cast("float")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "sink_range_partitioned",
    """
    SELECT count(*) AS n_rows,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    """,
    tags=("sink",),
)
def sink_range_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-ordered delivery: repartitionByRange(8, key) +
    sortWithinPartitions writes files whose key ranges are DISJOINT
    and ordered (file N's max < file N+1's min) — the layout that
    lets a downstream consumer binary-search files by key range or
    merge-read in one pass, which hash-partitioned output cannot
    offer. The range partitioner samples the key distribution for
    balanced splits. The function verifies the disjoint-range
    invariant from the parquet footers (min/max per file) and raises
    on violation; the hashed read-back aggregate proves no row was
    lost or duplicated."""
    from hadoop_deliver_spark.operators.sources import staged

    out = staged(
        sf_dir,
        "orders_range_parted",
        lambda tmp: tbl(spark, sf_dir, "orders")
        .repartitionByRange(8, F.col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.parquet(tmp),
    )
    back = spark.read.parquet(out)
    # disjointness check from footer stats via the _metadata column
    ranges = (
        back.select(
            F.col("_metadata.file_path").alias("f"), F.col("o_orderkey")
        )
        .groupBy("f")
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for prev, cur in zip(ranges, ranges[1:]):
        if cur.lo <= prev.hi:
            raise AssertionError(
                f"range files overlap: {prev.f} [..{prev.hi}] vs "
                f"{cur.f} [{cur.lo}..]"
            )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum((dec2("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )
